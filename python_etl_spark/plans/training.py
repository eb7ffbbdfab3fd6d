"""Training-data plans: corpus cleaning, embeddings, sketches, graphs.

What this module registers (the lakehouse queries, whose fixtures
write a VersionedTable or go through the SQL router, live in
plans/lakehouse.py):

* text dedup and cleaning — ``text_segment_dedup`` (C4-style
  segment-level exact dedup with reassembly), ``text_window_dup_fraction``
  and ``text_exact_substr_dedup`` (overlapping-window duplication and
  ExactSubstr span removal), ``text_decontaminate_spans``,
  ``mm_payload_dedup``, ``dedup_method_agreement``;
* text scoring — ``text_quality_linear_score`` (fasttext-style linear
  classifier), ``text_quality_fit_moments`` / ``text_quality_fit_predict``
  (normal-equation fit, integer-exact), ``text_perplexity_buckets``,
  ``text_langid_confusion``, ``text_vocab_coverage``;
* embeddings and ANN — ``emb_random_projection`` (Johnson–Lindenstrauss
  64→16), ``emb_pca_variance``, ``emb_scalar_quantize``,
  ``sim_topk_sq8``, ``sim_topk_ivfpq`` (IVF + residual PQ; rows-only +
  recall pytest);
* events — ``stream_dedup_batch_equiv`` (batch twin of the streaming
  dedup), ``events_out_of_order_stats``, ``events_peak_concurrency``,
  ``events_audience_overlap`` with its HLL and theta-sketch twins,
  ``events_decayed_engagement``, ``events_path_trigrams``;
* graphs — ``graph_pagerank`` / ``graph_degree_stats`` over the
  customer–supplier trade graph;
* table layout and hygiene — ``etl_zorder_code`` / ``etl_zorder3_code``
  (Morton keys), ``etl_bloom_semi_join``, ``etl_analyze_table``,
  ``etl_gdpr_forget``.

Cross-engine exactness follows plans/common.py: integer/decimal sums
where possible, 6-decimal rounds where double fold order differs; this
module leans on single-rounding into integer micro-units (projection,
PageRank contributions) so everything downstream is 64-bit-exact.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_spark.plans.checked import _rademacher, _w_sql
from python_etl_spark.plans.common import dmean_sql, register
from python_etl_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# -------------------------- segment-level dedup ---------------------------
_SEG_W = 8  # tokens per (non-overlapping) segment


@register(
    "text_segment_dedup",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
segs0 AS (
  SELECT doc_id,
    unnest(list_transform(
      range(CAST(ceil(len(t) / {_SEG_W}.0) AS BIGINT)),
      i -> {{'pos': i,
            'seg': array_to_string(
              t[i * {_SEG_W} + 1 : i * {_SEG_W} + {_SEG_W}], ' ')}}
    )) AS s
  FROM toks),
segs AS (SELECT doc_id, CAST(s.pos AS INT) AS pos, s.seg AS seg FROM segs0),
keep AS (
  SELECT doc_id, pos, seg,
    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM segs),
re AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    string_agg(seg, ' ' ORDER BY pos) AS text_out
  FROM keep WHERE rn = 1 GROUP BY doc_id),
ns AS (
  SELECT doc_id,
    CAST(ceil(len(string_split(text, ' ')) / {_SEG_W}.0) AS INT) AS n_seg
  FROM documents)
SELECT ns.doc_id AS doc_id, n_seg,
  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
  COALESCE(text_out, '') AS text_out
FROM ns LEFT JOIN re ON ns.doc_id = re.doc_id
""",
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment-level exact dedup: split every document into
    non-overlapping 8-token segments, keep each distinct segment's
    FIRST occurrence corpus-wide (by doc_id, then position), drop every
    repeat, and reassemble the surviving text per document in original
    order.

    Scale posture: the keep-first pass is a window PARTITIONED BY the
    segment text — hash-partitioned across the cluster, each partition
    holding one segment's tiny occurrence list (a skewed boilerplate
    segment concentrates its own occurrences only, the classic
    hot-line case; the window inside a partition is a cheap sort of
    that list). Reassembly is one groupBy(doc_id) collect_list — rows
    per group = segments per doc, bounded by doc length. Two shuffles
    total, both on high-cardinality keys; no global window, no
    collect."""
    from python_etl_spark.operators.dedup import segment_dedup

    docs = _t(spark, sf_dir, "documents")
    return segment_dedup(docs, width=_SEG_W).withColumnRenamed(
        "id", "doc_id"
    )


# ------------------- Johnson–Lindenstrauss projection ---------------------
_JL_IN = 64
_JL_OUT = 16


@register(
    "emb_random_projection",
    oracle=f"""
WITH ve AS (
  SELECT vec_id, r.i AS i, CAST(embedding[r.i + 1] AS DOUBLE) AS x
  FROM embeddings, range({_JL_IN}) r(i)),
{_w_sql(_JL_OUT, _JL_IN, "jl:", "w")},
proj AS (
  SELECT vec_id, w.p AS j,
    CAST(ROUND(SUM(x * w.w) * 1000000, 0) AS BIGINT) AS pjm
  FROM ve JOIN w ON w.i = ve.i GROUP BY vec_id, w.p),
nrm AS (
  SELECT vec_id, CAST(ROUND(SUM(x * x) * 1000000, 0) AS BIGINT) AS nsqm
  FROM ve GROUP BY vec_id)
SELECT p.vec_id AS vec_id,
  MAX(CASE WHEN j = 0 THEN pjm END) AS p0_micro,
  MAX(CASE WHEN j = 1 THEN pjm END) AS p1_micro,
  MAX(CASE WHEN j = 2 THEN pjm END) AS p2_micro,
  MAX(CASE WHEN j = 3 THEN pjm END) AS p3_micro,
  MAX(n.nsqm) AS nsq_micro,
  CAST(SUM(pjm * pjm) // ({_JL_OUT} * MAX(n.nsqm)) AS BIGINT)
    AS norm_ratio_ppm
FROM proj p JOIN nrm n ON n.vec_id = p.vec_id
GROUP BY p.vec_id
""",
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection: every 64-d embedding is
    projected onto 16 md5-Rademacher (+1/-1) directions, with a per-
    vector distortion report — projected energy over expected energy
    (E[|Px|^2] = d_out * |x|^2 for Rademacher rows, so the ratio
    concentrates around 1, i.e. ~10^6 ppm). This is the cheap
    dimensionality squeeze applied before LSH banding or clustering
    when the raw dimension makes per-pair math expensive.

    Scale posture: a pure per-row projection — ZERO shuffles, whole-
    stage-codegen arithmetic over array literals (the 16x64 sign matrix
    lives in the plan, not in any table), output exactly one row per
    vector.

    Exactness: each projection is rounded ONCE, from the raw double
    dot, into integer micro-units (x1e6); everything downstream —
    energy sum, distortion ratio — is then 64-bit integer arithmetic,
    identical on both engines. (Rounding an already-6-decimal double a
    second time, e.g. a decimal cast, sits exactly on the rounding
    boundary and flips between engines — measured 4% of rows.)"""
    planes = _rademacher(_JL_OUT, _JL_IN, "jl:")
    emb = _t(spark, sf_dir, "embeddings")
    # single-parse SQL strings (r14): the 16 planes x 64 F.lit py4j
    # round trips dominated query construction; the parsed trees —
    # same fold order, same single micro-unit rounding — are identical
    # and the oracle hash is unchanged (parity-checked).
    vec_sql = "cast(embedding as array<double>)"

    def micro_sql(col: str) -> str:
        return f"CAST(round(({col}) * 1000000.0D, 0) AS BIGINT)"

    def proj_sql(plane: list[float]) -> str:
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in plane) + ")"
        return micro_sql(
            f"aggregate(zip_with({vec_sql}, {arr}, (x, w) -> x * w), "
            "0.0D, (acc, x) -> acc + x)"
        )

    nsq = F.expr(
        micro_sql(f"aggregate({vec_sql}, 0.0D, (acc, x) -> acc + x * x)")
    )
    base = emb.select(
        "vec_id",
        nsq.alias("nsq_micro"),
        *[F.expr(proj_sql(planes[j])).alias(f"pj{j}") for j in range(_JL_OUT)],
    )
    s2 = reduce(
        lambda a, b: a + b,
        [F.col(f"pj{j}") * F.col(f"pj{j}") for j in range(_JL_OUT)],
    )
    return base.withColumn("s2", s2).select(
        "vec_id",
        F.col("pj0").alias("p0_micro"),
        F.col("pj1").alias("p1_micro"),
        F.col("pj2").alias("p2_micro"),
        F.col("pj3").alias("p3_micro"),
        "nsq_micro",
        # integer division (`div`): the ratio stays 64-bit-exact on
        # both engines (DuckDB mirrors with `//`)
        F.expr(f"s2 div ({_JL_OUT} * nsq_micro)").alias("norm_ratio_ppm"),
    )


# --------------------- linear quality classifier --------------------------
_BOW_DIM = 16


@register(
    "text_quality_linear_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id,
    CAST(ASCII(SUBSTR(md5(unnest(string_split(text, chr(32)))), 1, 1))
         % {_BOW_DIM} AS INT) AS b
  FROM documents)
SELECT doc_id,
  CAST(SUM(CASE WHEN SUBSTR(md5('qw:' || b), 1, 1) >= '8'
                THEN 1 ELSE -1 END) AS BIGINT) AS score,
  SUM(CASE WHEN SUBSTR(md5('qw:' || b), 1, 1) >= '8'
           THEN 1 ELSE -1 END) > 0 AS keep
FROM tok GROUP BY doc_id
""",
)
def text_quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over the hashed bag-of-words — the
    fasttext-classifier shape used to score web documents for training
    inclusion, with deterministic md5-derived ±1 weights standing in
    for learned ones (the PLUMBING is the point: featurize → dot
    weights → threshold, all engine-side). Score = Σ_tokens
    w[bucket(token)] — integer-exact, no rounding anywhere.

    Scale posture: one narrow scan + one partial-agg shuffle on doc_id;
    weights live in the expression (md5 of the bucket id), so there is
    no weight table to join or broadcast."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("tok")
    )
    bucket = (
        F.ascii(F.substring(F.md5(F.encode(F.col("tok"), "UTF-8")), 1, 1))
        % _BOW_DIM
    ).cast("int")
    w = F.when(
        F.substring(
            F.md5(F.encode(F.concat(F.lit("qw:"), bucket.cast("string")), "UTF-8")),
            1,
            1,
        )
        >= "8",
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("score"))
        .select("doc_id", "score", (F.col("score") > 0).alias("keep"))
    )


# ------------------------------ IVFPQ ANN ---------------------------------
@register("sim_topk_ivfpq")  # approximate: rows-only + pytest recall oracle
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + residual-PQ ANN (operators/similarity.ivfpq_topk): the
    memory- AND compute-bound 100 TB path — nprobe/n_centroids of the
    corpus is scored, and what is scored touches 8 byte codes per row
    instead of 64 doubles. Recall vs brute force is pytest-checked
    (tests/test_similarity.py)."""
    from python_etl_spark.operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        query_ids=list(range(10)),
        k=5,
        n_centroids=16,
        nprobe=4,
        n_sub=8,
        k_sub=16,
        rerank=64,
    )


# ---------------------- streaming dedup batch twin ------------------------
@register(
    "stream_dedup_batch_equiv",
    oracle="""
WITH d AS (SELECT DISTINCT user_id, event_type, ts FROM events)
SELECT event_type, COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users
FROM d GROUP BY event_type
""",
)
def stream_dedup_batch_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.dedup.dedup_events — the SAME function
    the streaming pipeline runs with a watermark drops duplicate
    deliveries here as a batch dropDuplicates; per-type survivor counts
    are hash-checked against DuckDB. Key columns only are selected
    first, so the survivor row is fully determined (see the helper's
    docstring on non-key columns)."""
    from python_etl_spark.streaming.dedup import dedup_events

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return dedup_events(ev).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ----------------------------- link-graph ops -----------------------------
#
# The customer–supplier bipartite graph (distinct trade pairs from
# orders ⋈ lineitem) stands in for the crawl link graph: PageRank over
# it is the host-quality-scoring shape (Common-Crawl style) — an
# ITERATIVE algorithm the relational suite otherwise lacks. Supplier
# node ids are offset so the two key spaces cannot collide.

_PR_SUPP_OFF = 10_000_000
_PR_ITERS = 5
_PR_DAMP = 0.85

_PR_EDGE_SQL = f"""
pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
edges AS (
  SELECT c AS src, s + {_PR_SUPP_OFF} AS dst FROM pairs
  UNION ALL
  SELECT s + {_PR_SUPP_OFF} AS src, c AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)"""


def _pr_iter_sql() -> str:
    ctes = [
        "pr0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg)"
    ]
    # contributions quantized once to integer 1e-15 units, summed as
    # BIGINT (order-free), exactly mirroring operators/components.pagerank
    for i in range(1, _PR_ITERS + 1):
        ctes.append(f"""
pr{i} AS (
  SELECT e.dst AS node,
    {1.0 - _PR_DAMP} / (SELECT n FROM nn)
      + {_PR_DAMP} * (SUM(CAST(ROUND((p.r / d.outdeg) * 1e15, 0)
                               AS BIGINT)) / 1e15) AS r
  FROM pr{i - 1} p
  JOIN edges e ON e.src = p.node
  JOIN deg d ON d.src = p.node
  GROUP BY e.dst)""")
    return ",\n".join(ctes)


@register(
    "graph_pagerank",
    oracle=f"""
WITH {_PR_EDGE_SQL},
{_pr_iter_sql()}
SELECT CASE WHEN node >= {_PR_SUPP_OFF} THEN 'supplier'
            ELSE 'customer' END AS node_type,
  CASE WHEN node >= {_PR_SUPP_OFF} THEN node - {_PR_SUPP_OFF}
       ELSE node END AS node_id,
  ROUND(r * (SELECT n FROM nn), 6) AS nrank
FROM pr{_PR_ITERS}
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 damped iterations) over the customer–supplier trade
    graph; reported as nrank = rank x N (relative to uniform, so 1.0 =
    average importance), rounded to 6 decimals.

    Scale posture: operators/components.pagerank — per iteration one
    co-partitioned edge⋈rank join plus one grouped-sum shuffle on the
    destination node, eager localCheckpoint truncating lineage; the
    edge list is the only persisted frame, hash-partitioned, never
    collected. Node and edge counts scale linearly with SF (this is a
    TRUE SF-scaling graph, not a fixed dimension)."""
    from python_etl_spark.operators.components import pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # both directions from ONE explode, so the expensive distinct-pairs
    # subtree is computed once (a union of two projections re-executes
    # it unless exchange reuse happens to fire)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("c").alias("src"),
                    (F.col("s") + _PR_SUPP_OFF).alias("dst"),
                ),
                F.struct(
                    (F.col("s") + _PR_SUPP_OFF).alias("src"),
                    F.col("c").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    ranks = pagerank(
        edges, iterations=_PR_ITERS, damping=_PR_DAMP,
        assume_distinct=True,  # symmetrized DISTINCT pairs, disjoint key spaces
    )
    tot = ranks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        ranks.crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("node") >= _PR_SUPP_OFF, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type"),
            F.when(
                F.col("node") >= _PR_SUPP_OFF, F.col("node") - _PR_SUPP_OFF
            )
            .otherwise(F.col("node"))
            .alias("node_id"),
            F.round(F.col("rank") * F.col("n"), 6).alias("nrank"),
        )
    )


@register(
    "graph_degree_stats",
    oracle=f"""
WITH {_PR_EDGE_SQL}
SELECT CASE WHEN src >= {_PR_SUPP_OFF} THEN 'supplier'
            ELSE 'customer' END AS node_type,
  CAST(COUNT(*) AS BIGINT) AS n_nodes,
  CAST(MIN(outdeg) AS BIGINT) AS min_degree,
  CAST(MAX(outdeg) AS BIGINT) AS max_degree,
  CAST(SUM(outdeg) AS BIGINT) AS n_edges
FROM deg GROUP BY 1
""",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile of the trade graph per node class — the pre-flight
    skew check before any iterative graph job (a power-law hub inflates
    one reducer in every PageRank iteration; its degree shows up here
    first). Integer-exact; two collapsing shuffles."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # both directions from ONE explode, so the expensive distinct-pairs
    # subtree is computed once (a union of two projections re-executes
    # it unless exchange reuse happens to fire)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("c").alias("src"),
                    (F.col("s") + _PR_SUPP_OFF).alias("dst"),
                ),
                F.struct(
                    (F.col("s") + _PR_SUPP_OFF).alias("src"),
                    F.col("c").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return (
        deg.groupBy(
            F.when(F.col("src") >= _PR_SUPP_OFF, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("outdeg").alias("min_degree"),
            F.max("outdeg").alias("max_degree"),
            F.sum("outdeg").alias("n_edges"),
        )
    )


# ------------------------- bloom-prefiltered semi join --------------------
@register(
    "etl_bloom_semi_join",
    oracle=f"""
SELECT l.l_orderkey AS l_orderkey, l.l_linenumber AS l_linenumber,
  l.l_quantity AS l_quantity
FROM lineitem l
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderkey = l.l_orderkey
    AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000)
""",
)
def etl_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join through a Bloom pre-filter (operators/bloom.py): the
    urgent-high-value order keys build a 64 Kbit bitmap, a map-side
    plan-literal predicate drops non-candidate lineitem rows BEFORE the
    shuffle, and an exact left-semi join removes the false positives —
    so the result is row-identical to the plain EXISTS (the oracle) but
    the exchange carries only candidates. The explicit form of Spark's
    runtime bloom filtering; at 100 TB the saved shuffle volume is
    (1 - selectivity) of the fact table."""
    from python_etl_spark.operators.bloom import bloom_semi_join

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    keys = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey")
    return bloom_semi_join(li, keys, "l_orderkey", "o_orderkey")


# ------------------------ PCA explained variance --------------------------
@register("emb_pca_variance")  # non-SQL-expressible (eigendecomposition):
# rows-only driver check + exact numpy pytest oracle
def emb_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal components of the embedding corpus: eigenvalue,
    explained-variance ratio, and cumulative ratio — the whitening /
    dimensionality diagnostic run before SemDeDup-style clustering
    (how many directions carry the corpus' variance decides the
    projection budget).

    Scale posture: operators/similarity.covariance_eig — ONE shuffle-
    free map job emitting O(d²) moment partials per partition (KBs at
    d=64), driver-side 64x64 eigendecomposition (the MLlib PCA
    posture). The corpus is never collected, joined, or shuffled.
    Eigenvalues are pinned to numpy.cov on the driver-collected corpus
    in tests/test_similarity.py."""
    from python_etl_spark.operators.similarity import covariance_eig

    emb = _t(spark, sf_dir, "embeddings")
    vals, _vecs, n = covariance_eig(emb)
    total = float(vals.sum())
    rows = []
    cum = 0.0
    for i in range(8):
        ratio = float(vals[i]) / total
        cum += ratio
        rows.append(
            (i, round(float(vals[i]), 6), round(ratio, 6), round(cum, 6))
        )
    return spark.createDataFrame(
        rows,
        "component int, eigenvalue double, var_ratio double, cum_ratio double",
    )


# ----------------------------- Z-order layout -----------------------------
from python_etl_spark.operators.layout import (  # noqa: E402
    morton_code,
    morton_code_n,
    morton_code_n_sql,
    morton_code_sql,
)


@register(
    "etl_zorder_code",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
  {morton_code_sql('l_partkey', 'l_suppkey')} AS zcode
FROM lineitem
""",
)
def etl_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) code of (l_partkey, l_suppkey) per lineitem row
    — the clustering key behind OPTIMIZE ZORDER layouts. Writing the
    fact table range-partitioned + sorted on this code gives every
    parquet file a tight min/max bounding box on BOTH join keys, so
    predicates on either key prune files (operators/layout.zorder_by;
    skipping effectiveness measured in tests/test_bucketing.py).
    Integer-exact constant-shift bit arithmetic, zero shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        morton_code(F.col("l_partkey"), F.col("l_suppkey")).alias("zcode"),
    )


# ---------------------- CCNet-style perplexity buckets --------------------
@register(
    "text_perplexity_buckets",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                        i -> concat_ws(' ', t[i], t[i+1]))) AS b
  FROM toks WHERE len(t) >= 2),
parts AS (SELECT doc_id, b, string_split(b, ' ')[1] AS w1 FROM bg),
bc AS (SELECT b, COUNT(*) AS cb FROM parts GROUP BY b),
uc AS (SELECT w1, SUM(cb) AS cu FROM
       (SELECT string_split(b,' ')[1] AS w1, cb FROM bc) q GROUP BY w1),
scored AS (
  SELECT p.doc_id, ROUND(ln(CAST(bc.cb AS DOUBLE) / uc.cu), 6) AS lp
  FROM parts p JOIN bc ON bc.b = p.b JOIN uc ON uc.w1 = p.w1),
per_doc AS (
  SELECT doc_id,
    {dmean_sql('lp')}
      AS avg_logprob
  FROM scored GROUP BY doc_id),
bucketed AS (
  SELECT doc_id, avg_logprob,
    NTILE(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS bucket
  FROM per_doc)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CAST(avg_logprob AS DECIMAL(28,6))) AS DOUBLE) AS sum_lp,
  MIN(avg_logprob) AS min_lp, MAX(avg_logprob) AS max_lp
FROM bucketed GROUP BY bucket
""",
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus bigram LM (text_bigram_logprob — composable query
    functions), then split the corpus into head/middle/tail terciles of
    LM fit and profile each bucket. The standard split used to keep
    head+middle of a crawl and drop (or re-sample) the tail.

    Scale posture: the tercile assignment uses
    operators/ranking.with_ntile (one window while the per-doc frame
    fits the broadcast threshold, range partitions + literal offsets
    once it does not). Bucket profiles report the exact decimal SUM of
    the (already 6-decimal) scores rather than a mean: a mean's
    division lands on rounding midpoints often enough to flip engines
    (same lesson as the JL projection)."""
    from python_etl_spark.operators.ranking import with_ntile
    from python_etl_spark.plans.llm import text_bigram_logprob

    per_doc = text_bigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    b = with_ntile(
        per_doc,
        [F.desc("avg_logprob"), F.asc("doc_id")],
        3,
        out_col="bucket",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("avg_logprob").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_lp"),
        F.min("avg_logprob").alias("min_lp"),
        F.max("avg_logprob").alias("max_lp"),
    )


# ---------------------- event-time disorder profile -----------------------
#
# The generated events table is perfectly time-ordered (ts monotone in
# event_id), so a disorder profile over the raw stream would be
# vacuously zero. Following the deterministic in-plan injection
# precedent (text_pii_redact), the query first applies a reproducible
# md5-derived jitter of up to ±30 minutes to each event's time — the
# at-source shuffling a real ingest pipeline exhibits — and then
# profiles the disorder that jitter creates. Both engines derive the
# identical jitter from md5(event_id).

_OOO_EPOCH_SPARK = (
    "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
    " date_trunc('second', ts))"
)
_OOO_EPOCH_DUCK = (
    "date_diff('second', TIMESTAMP '1970-01-01 00:00:00',"
    " date_trunc('second', ts))"
)
_OOO_JITTER = "((ASCII(SUBSTR(md5(CAST(event_id AS VARCHAR)), 1, 1)) % 7) - 3) * 600"


@register(
    "events_out_of_order_stats",
    oracle=f"""
WITH jittered AS (
  SELECT user_id, event_id, event_type,
    {_OOO_EPOCH_DUCK} + {_OOO_JITTER} AS es
  FROM events),
seq AS (
  SELECT event_type, es,
    MAX(es) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prev_max
  FROM jittered)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(*) FILTER (prev_max IS NOT NULL AND es < prev_max)
       AS BIGINT) AS n_out_of_order,
  CAST(MAX(CASE WHEN prev_max IS NOT NULL AND es < prev_max
               THEN prev_max - es END) AS BIGINT) AS max_late_s
FROM seq GROUP BY event_type
""",
)
def events_out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile: within each user's stream in
    ARRIVAL order (event_id), how often does event time run backwards
    and by how much — the empirical input for sizing a streaming
    watermark (max_late_s bounds the horizon that loses no events; see
    streaming/dedup.py). Event times carry a deterministic ±30-minute
    md5 jitter standing in for real ingest disorder (in-plan injection,
    reproduced identically by the oracle).

    Scale posture: one window partitioned BY USER (bounded groups,
    hash-distributed — never a global or per-type window), then one
    collapsing partial-agg shuffle to |event_type| rows. All event-time
    arithmetic is integer epoch-seconds — exact on both engines."""
    ev = _t(spark, sf_dir, "events")
    jitter = F.expr(
        "((ASCII(SUBSTR(md5(CAST(event_id AS STRING)), 1, 1)) % 7) - 3)"
        " * 600"
    )
    es = F.expr(_OOO_EPOCH_SPARK) + jitter
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id", "event_id", "event_type", es.alias("es")
    ).select("event_type", "es", F.max("es").over(w).alias("prev_max"))
    late = F.col("prev_max").isNotNull() & (F.col("es") < F.col("prev_max"))
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias(
            "n_out_of_order"
        ),
        F.max(F.when(late, F.col("prev_max") - F.col("es"))).alias(
            "max_late_s"
        ),
    )

# ------------------------- ANALYZE-style statistics -----------------------
@register(
    "etl_analyze_table",
    oracle="""
SELECT 'l_partkey' AS col, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv,
  CAST(COUNT(*) - COUNT(l_partkey) AS BIGINT) AS n_null,
  CAST(MIN(l_partkey) AS VARCHAR) AS min_v,
  CAST(MAX(l_partkey) AS VARCHAR) AS max_v
FROM lineitem
UNION ALL
SELECT 'l_suppkey', CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
  CAST(COUNT(*) - COUNT(l_suppkey) AS BIGINT),
  CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
  CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
  CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_quantity', CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
  CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT),
  CAST(MIN(l_quantity) AS VARCHAR), CAST(MAX(l_quantity) AS VARCHAR)
FROM lineitem
""",
)
def etl_analyze_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, as a query:
    per-column NDV, null count, and min/max — the statistics a
    cost-based optimizer feeds on (and the repo's bc_dim size gate
    reads from parquet footers).

    Shape: one aggregate PER COLUMN, unioned. This is deliberate, and
    measured: column pruning pushes each aggregate's scan down to
    exactly ITS column (asserted in test_plan_shape), so the four
    scans together read the same parquet bytes as a single four-column
    pass — while the fused alternative (one agg with four
    count(DISTINCT)s) makes Catalyst plan an Expand that multiplies
    every fact row 5x before aggregating: 4.5–6.5s vs 1.5s at sf0.1,
    and pure CPU overhead at any scale. Exact NDV here; the
    sketch-based etl_approx_distinct is the 100 TB default, with this
    as its calibration oracle."""
    li = _t(spark, sf_dir, "lineitem")

    def stats(c: str):
        return [
            F.countDistinct(c).alias("ndv"),
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias("n_null"),
            F.min(c).cast("string").alias("min_v"),
            F.max(c).cast("string").alias("max_v"),
        ]

    frames = [
        li.agg(*stats(c)).select(F.lit(c).alias("col"), "*")
        for c in ["l_partkey", "l_suppkey", "l_returnflag", "l_quantity"]
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ------------------------ peak session concurrency ------------------------
_PC_EPOCH_DUCK = (
    "date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)"
)
_PC_EPOCH_SPARK = (
    "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
    " date_trunc('second', ts))"
)


@register(
    "events_peak_concurrency",
    oracle=f"""
WITH spans AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
    MIN({_PC_EPOCH_DUCK}) AS s, MAX({_PC_EPOCH_DUCK}) + 1 AS e
  FROM events GROUP BY user_id, day),
deltas AS (
  SELECT day, s AS at_s, 1 AS d, user_id FROM spans
  UNION ALL
  SELECT day, e AS at_s, -1 AS d, user_id FROM spans),
run AS (
  SELECT day,
    SUM(d) OVER (ORDER BY at_s, d, day, user_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS concurrent
  FROM deltas)
SELECT day, CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
FROM run GROUP BY day
""",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent active users per day — the classic sweep-line:
    each user's daily activity span [first event, last event] emits a
    +1 at its start and a -1 just after its end; the running sum over
    the GLOBAL time order is the concurrency curve, and its per-day max
    is the capacity-planning number.

    Scale posture: the global running sum uses
    operators/ranking.global_cumsum (range-partition + parallel prefix
    sums + literal offsets once the input outgrows the broadcast
    threshold, one window below it; ends sort before starts at the
    same instant via the delta tie-break, matching the oracle's ORDER
    BY). Span collapse is one partial-agg shuffle to
    |users × days| rows. Integer epoch-second arithmetic throughout."""
    from python_etl_spark.operators.ranking import global_cumsum

    ev = _t(spark, sf_dir, "events")
    es = F.expr(_PC_EPOCH_SPARK)
    spans = (
        ev.select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            es.alias("es"),
        )
        .groupBy("user_id", "day")
        .agg(F.min("es").alias("s"), (F.max("es") + 1).alias("e"))
    )
    deltas = spans.select(
        "day", F.col("s").alias("at_s"), F.lit(1).alias("d"), "user_id"
    ).unionByName(
        spans.select(
            "day", F.col("e").alias("at_s"), F.lit(-1).alias("d"), "user_id"
        )
    )
    run = global_cumsum(
        deltas, ["at_s", "d", "day", "user_id"], "d", out_col="concurrent"
    )
    return run.groupBy("day").agg(
        F.max("concurrent").cast("long").alias("peak_concurrent")
    )

# -------------------------- audience overlap ------------------------------
@register(
    "events_audience_overlap",
    oracle="""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
sz AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY event_type)
SELECT a.event_type AS type_a, b.event_type AS type_b,
  sa.n AS n_a, sb.n AS n_b,
  CAST(COUNT(*) AS BIGINT) AS n_both,
  CAST((COUNT(*) * 1000000) // (sa.n + sb.n - COUNT(*)) AS BIGINT)
    AS jaccard_ppm
FROM du a
JOIN du b ON b.user_id = a.user_id AND a.event_type < b.event_type
JOIN sz sa ON sa.event_type = a.event_type
JOIN sz sb ON sb.event_type = b.event_type
GROUP BY a.event_type, b.event_type, sa.n, sb.n
""",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: |users(A) ∩
    users(B)| for every unordered type pair, with set sizes and an
    integer-ppm Jaccard — the segment-overlap matrix every event
    platform reports (and the exact calibration twin for HLL
    inclusion–exclusion at 100 TB, where the distinct collapse itself
    would go through etl_approx_distinct's sketch).

    Scale posture: the stream first collapses to DISTINCT (type, user)
    — one partial-agg shuffle; the self-join keys on user_id, whose
    per-user row count is bounded by |event types| (~20), so join
    output is ≤ users x types² — linear in users. Output is
    |types choose 2| rows. Jaccard stays integer (x1e6, `div`) — no
    rounding-tie exposure."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    sz = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(sz.select(F.col("event_type").alias("type_a"),
                                  F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sz.select(F.col("event_type").alias("type_b"),
                                  F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            F.expr("(n_both * 1000000) div (n_a + n_b - n_both)").alias(
                "jaccard_ppm"
            ),
        )
    )

# ----------------------- right-to-be-forgotten ----------------------------
@register(
    "etl_gdpr_forget",
    oracle="""
WITH tomb AS (SELECT DISTINCT user_id AS k FROM events WHERE user_id % 97 = 7)
SELECT 'events' AS "table",
  CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS rows_before,
  CAST((SELECT COUNT(*) FROM events WHERE user_id IN (SELECT k FROM tomb))
       AS BIGINT) AS rows_dropped,
  CAST((SELECT COUNT(*) FROM events WHERE user_id NOT IN (SELECT k FROM tomb))
       AS BIGINT) AS rows_after
UNION ALL
SELECT 'orders',
  CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
  CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT k FROM tomb))
       AS BIGINT),
  CAST((SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM tomb))
       AS BIGINT)
""",
)
def etl_gdpr_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade (operators/compliance.forget_keys):
    a deterministic tombstone list (account ids ≡ 7 mod 97) is deleted
    across the events and orders tables, and the returned AUDIT frame —
    rows before / dropped / after per table — is what gets
    hash-checked; a deletion run must attest what it deleted. Each
    table is scanned once (anti-join clean + flagged audit share the
    tombstone join); the tombstone side is unhinted so AQE broadcasts
    small deletion batches and shuffles mass backlogs."""
    from python_etl_spark.operators.compliance import forget_keys

    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    tomb = ev.where(F.col("user_id") % 97 == 7).select(
        F.col("user_id").alias("k")
    )
    _cleaned, audit = forget_keys(
        {"events": (ev, "user_id"), "orders": (orders, "o_custkey")},
        tomb,
    )
    return audit

# ------------------------ binary payload dedup ----------------------------
@register(
    "mm_payload_dedup",
    oracle="""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 50 = 0),
pay AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
                    ELSE 'wav' END AS fmt,
    md5(text) AS h
  FROM aug),
keep AS (
  SELECT h, MIN(doc_id) AS keeper, COUNT(*) AS copies FROM pay GROUP BY h)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_payloads,
  CAST(COUNT(DISTINCT p.h) AS BIGINT) AS n_distinct,
  CAST(SUM(CASE WHEN p.doc_id <> k.keeper THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped
FROM pay p JOIN keep k ON k.h = p.h
GROUP BY fmt
""",
)
def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the BINARY payload column (byte-identical media
    dedup — the first pass of any multimodal curation pipeline, before
    perceptual hashing): md5 over raw payload bytes, keep the lowest
    doc_id per digest, report per-format payload/distinct/dropped
    counts. Hashing runs on the binary column itself (not the source
    text), proving the binary plumbing end to end; the oracle mirrors
    it because the synthetic payloads are UTF-8 text bytes, so
    DuckDB's md5(text) reproduces md5(payload) exactly. Every 50th doc
    gets a planted byte-identical twin (the raw corpus has no exact
    duplicates at small SFs — non-vacuity by construction).

    Scale posture: digest is a per-row projection; keeper selection is
    one groupBy(digest) — hash-partitioned, the exact-dedup shape at
    any scale. No payload bytes ever shuffle (only digests + ids)."""
    from python_etl_spark.operators.multimodal import attach_payload

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # planted byte-identical twins (every 50th doc re-ingested under a
    # new id) — the raw corpus has no exact duplicates at small SFs, so
    # without them the dedup would be vacuously green (same pattern as
    # the planted embedding twins in plans/common.py)
    docs = base.unionByName(
        base.where(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
        )
    )
    pay = attach_payload(docs).select(
        "doc_id",
        F.col("meta.fmt").alias("fmt"),
        F.md5("payload").alias("h"),
    )
    keep = pay.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    return (
        pay.join(keep, "h")
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.countDistinct("h").alias("n_distinct"),
            F.sum(
                F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_dropped"),
        )
    )

# ----------------------- dedup method agreement ---------------------------
@register(
    "dedup_method_agreement",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sl AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_transform(range(1, len(t) - 1),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
      ELSE [array_to_string(t, ' ')] END AS shingle_list
  FROM toks),
sh AS (SELECT DISTINCT doc_id, shingle FROM
       (SELECT doc_id, unnest(shingle_list) AS shingle FROM sl) q),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id),
jac AS (
  SELECT doc_a, doc_b FROM pair
  JOIN cnt ca ON ca.doc_id = pair.doc_a
  JOIN cnt cb ON cb.doc_id = pair.doc_b
  WHERE doc_a < doc_b
    AND CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.2),
con AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS doc_a,
    GREATEST(doc_a, doc_b) AS doc_b
  FROM pair JOIN cnt ca ON ca.doc_id = pair.doc_a
  WHERE CAST(shared AS DOUBLE) / ca.n >= 0.12),
u AS (
  SELECT COALESCE(j.doc_a, c.doc_a) AS doc_a,
    j.doc_a IS NOT NULL AS in_jac, c.doc_a IS NOT NULL AS in_con
  FROM jac j FULL OUTER JOIN con c
    ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b)
SELECT CAST(SUM(CASE WHEN in_jac THEN 1 ELSE 0 END) AS BIGINT)
    AS n_jaccard,
  CAST(SUM(CASE WHEN in_con THEN 1 ELSE 0 END) AS BIGINT)
    AS n_containment,
  CAST(SUM(CASE WHEN in_jac AND in_con THEN 1 ELSE 0 END) AS BIGINT)
    AS n_both,
  CAST(SUM(CASE WHEN in_jac AND NOT in_con THEN 1 ELSE 0 END) AS BIGINT)
    AS n_jaccard_only,
  CAST(SUM(CASE WHEN in_con AND NOT in_jac THEN 1 ELSE 0 END) AS BIGINT)
    AS n_containment_only
FROM u
""",
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement matrix between the two exact near-dup detectors:
    unordered pairs flagged by symmetric Jaccard (τ=0.2) vs asymmetric
    containment (τ=0.12, either direction). The containment-only count
    is the quote/subset duplication Jaccard structurally misses — this
    single row is the evidence for running BOTH stages in a cascade,
    and the calibration readout when tuning either threshold.

    Scale posture: both pair sets reuse the session-shared
    sh-partitioned shingle cache (one materialization serves both
    detectors), each is an inverted-index join proportional to true
    overlap, and the agreement join is pair-keyed. Integer-exact."""
    from python_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    jac = ngram_jaccard_pairs(docs, k=3, threshold=0.2).select(
        "doc_a", "doc_b", F.lit(True).alias("in_jac")
    )
    con = (
        containment_pairs(docs, k=3, threshold=0.12)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
        .withColumn("in_con", F.lit(True))
    )
    u = jac.join(con, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_jac", F.lit(False)).alias("in_jac"),
        F.coalesce("in_con", F.lit(False)).alias("in_con"),
    )
    b2i = lambda c: F.sum(F.when(F.col(c) if isinstance(c, str) else c, 1).otherwise(0)).cast("long")  # noqa: E731
    return u.agg(
        b2i("in_jac").alias("n_jaccard"),
        b2i("in_con").alias("n_containment"),
        b2i(F.col("in_jac") & F.col("in_con")).alias("n_both"),
        b2i(F.col("in_jac") & ~F.col("in_con")).alias("n_jaccard_only"),
        b2i(F.col("in_con") & ~F.col("in_jac")).alias("n_containment_only"),
    )

# ----------------------- language-ID confusion matrix ---------------------
from python_etl_spark.plans.common import ORACLES as _ORACLES  # noqa: E402

_LANGID_SQL = _ORACLES["text_langid"]


@register(
    "text_langid_confusion",
    oracle=f"""
WITH per_doc AS (
{_LANGID_SQL}
)
SELECT lang AS true_lang, pred_lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM per_doc GROUP BY lang, pred_lang
""",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: true label x predicted label doc
    counts — the full evaluation artifact behind text_langid_accuracy's
    single number (which language pairs the marker heuristic confuses,
    and how much lands in 'unknown'). Composes the per-doc text_langid
    query; the oracle wraps the identical per-doc SQL, so the two stay
    in lockstep by construction.

    Scale posture: per-doc scoring is a zero-shuffle projection; the
    matrix is one collapsing partial-agg shuffle to ≤ |langs|² rows."""
    from python_etl_spark.plans.llm import text_langid

    per_doc = text_langid(spark, sf_dir)
    return (
        per_doc.groupBy(
            F.col("lang").alias("true_lang"), "pred_lang"
        ).agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register("events_audience_overlap_hll")  # approximate: rows-only + pytest error bound
def events_audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch twin of events_audience_overlap — the form a 100 TB
    audience system actually runs. One pass builds a Datasketches HLL
    per event type (mergeable partials: partial sketches combine
    map-side, one collapsing shuffle to |types| rows); the pairwise
    stage then works ONLY on sketches — |A∩B| ≈ |A| + |B| − |A∪B| via
    hll_union over a |types|² self-join of 1 KB sketch blobs, never
    re-touching the fact table. With lgK=12 (4096 buckets, ~1.6% std
    error per estimate) the inclusion–exclusion error is bounded by a
    few percent of the union size — tests/test_hll_overlap.py pins it
    against the exact op at sf0.001 and sf0.01.

    No SQL oracle by design: DuckDB's approx_distinct uses a different
    sketch; the exact twin IS the calibration (rows-only driver check +
    pytest error bound, same pattern as etl_approx_distinct)."""
    ev = _t(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12)).alias("sk")
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    est = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a", "type_b",
            F.hll_sketch_estimate("sk_a").alias("n_a_est"),
            F.hll_sketch_estimate("sk_b").alias("n_b_est"),
            F.hll_sketch_estimate(
                F.hll_union("sk_a", "sk_b")
            ).alias("n_union_est"),
        )
    )
    return est.select(
        "type_a", "type_b", "n_a_est", "n_b_est",
        F.greatest(
            F.col("n_a_est") + F.col("n_b_est") - F.col("n_union_est"),
            F.lit(0),
        ).alias("n_both_est"),
        F.col("n_union_est").alias("n_union_est"),
    )


@register(
    "etl_zorder3_code",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
  {morton_code_n_sql(['l_partkey', 'l_suppkey', 'l_orderkey % 65536'])}
    AS zcode3
FROM lineitem
""",
)
def etl_zorder3_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-column Morton code (l_partkey, l_suppkey, l_orderkey mod 2^16)
    — the k-way generalization of etl_zorder_code, hash-oracled against
    the identical bit-placement expression in DuckDB so the cross-engine
    exactness of the n-column interleave is a driver-checked fact, not
    just a pytest. Same properties: integer-exact constant-shift bit
    arithmetic (48 OR terms), zero shuffles, bijective over the 3x16-bit
    cell domain (property-tested in tests/test_bucketing.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        morton_code_n(
            [
                F.col("l_partkey"),
                F.col("l_suppkey"),
                F.col("l_orderkey") % 65536,
            ]
        ).alias("zcode3"),
    )


# ------------------- overlapping-window duplication ------------------------
_WDF_W = 8  # tokens per overlapping window


@register(
    "text_window_dup_fraction",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wins AS (
  SELECT doc_id,
    unnest(list_transform(range(len(t) - {_WDF_W} + 1),
      i -> md5(array_to_string(t[i + 1 : i + {_WDF_W}], ' ')))) AS wh
  FROM toks WHERE len(t) >= {_WDF_W}),
wc AS (SELECT wh, COUNT(*) AS c FROM wins GROUP BY wh),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
    CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM wins JOIN wc USING (wh) GROUP BY doc_id)
SELECT d.doc_id AS doc_id,
  COALESCE(n_windows, 0) AS n_windows,
  COALESCE(n_dup_windows, 0) AS n_dup_windows,
  CAST(CASE WHEN COALESCE(n_windows, 0) = 0 THEN 0
       ELSE n_dup_windows * 1000000 // n_windows END AS BIGINT)
    AS dup_fraction_ppm
FROM documents d LEFT JOIN per_doc ON per_doc.doc_id = d.doc_id
""",
)
def text_window_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text fraction over OVERLAPPING 8-token
    windows: the fraction of a doc's windows whose content appears >=2
    times corpus-wide — the diagnostic behind exact-substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): a high fraction marks boilerplate/templated docs that
    disjoint-segment dedup (text_segment_dedup) under-counts because
    duplicated spans rarely align to segment boundaries.

    Scale posture: windows carry only their md5 (cross-engine
    checkable; swap to xxhash64 for an 8-byte shuffle key in
    production — plan shape identical). Two partial-agg shuffles
    (window counts, per-doc rollup) plus one join on the window-hash
    key — the same key the count aggregated on, so the exchange is
    reusable; nothing is ever collected. Integer-ppm fraction — no
    float fold-order exposure."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ", -1).alias("t")
    )
    n = F.size("t")
    wins = (
        toks.where(n >= _WDF_W)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n - _WDF_W),
                    lambda i: F.md5(
                        F.array_join(F.slice(F.col("t"), i + 1, _WDF_W), " ")
                    ),
                )
            ).alias("wh"),
        )
    )
    wc = wins.groupBy("wh").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        wins.join(wc, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0).cast("long")).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("n_dup_windows * 1000000 div n_windows")
            )
            .alias("dup_fraction_ppm"),
        )
    )


# ---------------------- exact-substring span removal -----------------------
_ESD_W = 8  # tokens per overlapping window (Lee et al. use 50; 8 fires
#             at synthetic scale — the plan shape is length-agnostic)


@register(
    "text_exact_substr_dedup",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wins AS (
  SELECT doc_id, i, md5(array_to_string(t[i + 1 : i + {_ESD_W}], ' ')) AS wh
  FROM toks, (SELECT unnest(generate_series(0,
      (SELECT COALESCE(MAX(len(t)), 0) FROM toks) - {_ESD_W})) AS i)
  WHERE i <= len(t) - {_ESD_W}),
wc AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
cov AS (
  SELECT DISTINCT w.doc_id, w.i + j AS p
  FROM wins w JOIN wc USING (wh),
       (SELECT unnest(generate_series(0, {_ESD_W} - 1)) AS j)),
pos AS (
  SELECT doc_id, p, t[p + 1] AS tok
  FROM toks, (SELECT unnest(generate_series(0,
      (SELECT COALESCE(MAX(len(t)), 1) FROM toks) - 1)) AS p)
  WHERE p < len(t)),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tok
  FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.p = pos.p
  WHERE cov.p IS NULL),
agg AS (
  SELECT doc_id,
    array_to_string(list(tok ORDER BY p), ' ') AS dedup_text,
    COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT t.doc_id AS doc_id,
  COALESCE(a.dedup_text, '') AS dedup_text,
  CAST(len(t.t) AS INT) AS n_tokens,
  CAST(len(t.t) - COALESCE(a.n_kept, 0) AS INT) AS n_removed_tokens
FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
""",
)
def text_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") — the operation behind the
    text_window_dup_fraction diagnostic: every token covered by ANY
    overlapping W=8-token window whose content occurs >=2 times
    corpus-wide is dropped (both copies, the paper's behavior), and
    the surviving tokens are reassembled in order. Exact twins erase
    each other completely; partially-templated docs lose exactly the
    shared spans; docs with no duplicated window come back
    byte-identical.

    Scale posture: window hashes (not window text) are the shuffle
    currency; one groupBy(wh) for corpus counts, the wins->wc join
    reuses that exchange, covered positions roll up per doc
    (collect_set over a doc's covered positions — bounded by doc
    length, never corpus), and reassembly is a zero-shuffle
    higher-order filter over the token array using the covered-set
    membership. No driver collect anywhere. The suffix-array
    construction of the paper is replaced by the hashed-window
    pigeonhole — same guarantees for spans >= W at 1/W the memory,
    the standard distributed formulation. Implementation shared with
    the incremental-corpus example: operators/dedup.exact_substr_dedup."""
    from python_etl_spark.operators.dedup import exact_substr_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_substr_dedup(docs, "text", "doc_id", _ESD_W)


# ------------- quality model fit via normal equations ----------------------
#
# "Train a quality regressor at 100 TB" done the MLlib-normal-equation
# way: the ONLY corpus-scale work is one pass of integer moment sums
# (X'X, X'y — 9 longs); the solve is O(d³) on 3x3. Here even the solve
# stays engine-side: Cramer's rule over the exact integer moments gives
# rational weights (det-scaled integers), and predictions round via
# exact integral division — so the ENTIRE train→predict pipeline is
# hash-checkable cross-engine, no floats until the final rounded value.
#
# Features x1 = word count, x2 = char count; target y = distinct-word
# count (vocabulary richness — a real quality proxy). A = [[n,sx1,sx2],
# [sx1,sx11,sx12],[sx2,sx12,sx22]], b = [sy,sx1y,sx2y]; w_i = det_i/det.

_QF_FEATS_SQL = """
feats AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
    CAST(strlen(text) AS BIGINT) AS x2,
    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
  FROM documents)
"""

_QF_MOMENTS_SQL = f"""
WITH {_QF_FEATS_SQL}
SELECT CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(x1) AS BIGINT) AS sx1, CAST(SUM(x2) AS BIGINT) AS sx2,
  CAST(SUM(x1 * x1) AS BIGINT) AS sx11,
  CAST(SUM(x1 * x2) AS BIGINT) AS sx12,
  CAST(SUM(x2 * x2) AS BIGINT) AS sx22,
  CAST(SUM(y) AS BIGINT) AS sy,
  CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
  CAST(SUM(x2 * y) AS BIGINT) AS sx2y
FROM feats
"""


def _qf_feats(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ", -1)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("x1"),
        F.length("text").cast("long").alias("x2"),
        F.size(F.array_distinct(toks)).cast("long").alias("y"),
    )


def _qf_moments(docs: DataFrame) -> DataFrame:
    f = _qf_feats(docs)
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).cast("long").alias("sx1"),
        F.sum(x2).cast("long").alias("sx2"),
        F.sum(x1 * x1).cast("long").alias("sx11"),
        F.sum(x1 * x2).cast("long").alias("sx12"),
        F.sum(x2 * x2).cast("long").alias("sx22"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x1 * y).cast("long").alias("sx1y"),
        F.sum(x2 * y).cast("long").alias("sx2y"),
    )


@register("text_quality_fit_moments", oracle=_QF_MOMENTS_SQL)
def text_quality_fit_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sufficient statistics of the quality regression — X'X and
    X'y as 9 exact integer sums in ONE map-combine pass (the only
    corpus-touching stage of model fitting; at 100 TB this is a single
    partial-agg job producing one 72-byte row)."""
    return _qf_moments(_t(spark, sf_dir, "documents"))


# Cramer determinants over the moment row (integer-exact):
#   det  = |A|
#   det0/det1/det2 = |A with column i replaced by b|  =>  w_i = det_i/det
_QF_DETS_SQL = """
dets AS (
  SELECT
    n*(sx11*sx22 - sx12*sx12) - sx1*(sx1*sx22 - sx12*sx2)
      + sx2*(sx1*sx12 - sx11*sx2) AS det,
    sy*(sx11*sx22 - sx12*sx12) - sx1*(sx1y*sx22 - sx12*sx2y)
      + sx2*(sx1y*sx12 - sx11*sx2y) AS det0,
    n*(sx1y*sx22 - sx12*sx2y) - sy*(sx1*sx22 - sx12*sx2)
      + sx2*(sx1*sx2y - sx1y*sx2) AS det1,
    n*(sx11*sx2y - sx1y*sx12) - sx1*(sx1*sx2y - sx1y*sx2)
      + sy*(sx1*sx12 - sx11*sx2) AS det2
  FROM (SELECT CAST(n AS HUGEINT) AS n, CAST(sx1 AS HUGEINT) AS sx1,
        CAST(sx2 AS HUGEINT) AS sx2, CAST(sx11 AS HUGEINT) AS sx11,
        CAST(sx12 AS HUGEINT) AS sx12, CAST(sx22 AS HUGEINT) AS sx22,
        CAST(sy AS HUGEINT) AS sy, CAST(sx1y AS HUGEINT) AS sx1y,
        CAST(sx2y AS HUGEINT) AS sx2y FROM moments))
"""


@register(
    "text_quality_fit_predict",
    oracle=f"""
WITH {_QF_FEATS_SQL},
moments AS ({_QF_MOMENTS_SQL}),
{_QF_DETS_SQL}
SELECT doc_id, y AS y_true,
  (CAST(
     (CASE WHEN ((pnum * 1000000) < 0) != (det < 0) THEN -1 ELSE 1 END)
     * ((ABS(pnum * 1000000) * 2 + ABS(det)) // (ABS(det) * 2))
   AS DOUBLE) / 1000000.0) AS y_pred
FROM (
  SELECT f.doc_id, f.y,
    d.det0 + d.det1 * CAST(f.x1 AS HUGEINT)
           + d.det2 * CAST(f.x2 AS HUGEINT) AS pnum,
    d.det
  FROM feats f, dets d)
""",
)
def text_quality_fit_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares quality regression, trained AND applied entirely
    engine-side: Cramer's rule over the exact integer moment row gives
    det-scaled integer weights, every document's prediction is the
    rational (det0 + det1·x1 + det2·x2)/det rounded half-away-from-zero
    at 6 decimals by exact integral division — bit-identical doubles in
    Spark and DuckDB, so the hash check covers featurize → fit →
    predict with zero driver math. Plan: one moment aggregation (1-row
    broadcast) + a zero-shuffle scoring map; the weights never exist as
    floats. Pytest pins the weights against numpy.linalg.lstsq."""
    from python_etl_spark.functions.exact import _idiv

    docs = _t(spark, sf_dir, "documents")
    feats = _qf_feats(docs)
    m = _qf_moments(docs).select(
        *[F.col(c).cast("decimal(38,0)").alias(c)
          for c in ["n", "sx1", "sx2", "sx11", "sx12", "sx22",
                    "sy", "sx1y", "sx2y"]]
    )
    n, sx1, sx2 = F.col("n"), F.col("sx1"), F.col("sx2")
    sx11, sx12, sx22 = F.col("sx11"), F.col("sx12"), F.col("sx22")
    sy, sx1y, sx2y = F.col("sy"), F.col("sx1y"), F.col("sx2y")
    dets = m.select(
        (n * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1 * sx22 - sx12 * sx2)
         + sx2 * (sx1 * sx12 - sx11 * sx2)).alias("det"),
        (sy * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1y * sx22 - sx12 * sx2y)
         + sx2 * (sx1y * sx12 - sx11 * sx2y)).alias("det0"),
        (n * (sx1y * sx22 - sx12 * sx2y) - sy * (sx1 * sx22 - sx12 * sx2)
         + sx2 * (sx1 * sx2y - sx1y * sx2)).alias("det1"),
        (n * (sx11 * sx2y - sx1y * sx12) - sx1 * (sx1 * sx2y - sx1y * sx2)
         + sy * (sx1 * sx12 - sx11 * sx2)).alias("det2"),
    )
    scored = feats.crossJoin(F.broadcast(dets)).select(
        "doc_id",
        F.col("y").alias("y_true"),
        (F.col("det0")
         + F.col("det1") * F.col("x1").cast("decimal(38,0)")
         + F.col("det2") * F.col("x2").cast("decimal(38,0)")).alias("pnum"),
        "det",
    )
    p = F.col("pnum") * F.lit(1000000).cast("decimal(38,0)")
    q = F.col("det")
    mag = _idiv(F.abs(p) * 2 + F.abs(q), F.abs(q) * 2)
    sign = F.when((p < 0) != (q < 0), F.lit(-1)).otherwise(F.lit(1))
    return scored.select(
        "doc_id",
        "y_true",
        ((sign * mag).cast("double") / F.lit(1000000.0)).alias("y_pred"),
    )


# ---------------------- benchmark decontamination --------------------------


@register(
    "text_decontaminate_spans",
    oracle=f"""
WITH base AS (SELECT doc_id, text FROM documents),
aug AS (
  SELECT b.doc_id,
    CASE WHEN b.doc_id % 11 = 0 AND b.doc_id % 13 <> 0
              AND p.text IS NOT NULL
      THEN b.text || ' '
           || array_to_string((string_split(p.text, ' '))[1:8], ' ')
      ELSE b.text END AS text
  FROM base b
  LEFT JOIN base p ON p.doc_id = b.doc_id - (b.doc_id % 13)),
train AS (SELECT doc_id, text FROM aug WHERE doc_id % 13 <> 0),
rtoks AS (SELECT string_split(text, ' ') AS t FROM base
          WHERE doc_id % 13 = 0),
rwins AS (
  SELECT DISTINCT md5(array_to_string(t[i + 1 : i + {_ESD_W}], ' ')) AS wh
  FROM rtoks, (SELECT unnest(generate_series(0,
      (SELECT COALESCE(MAX(len(t)), 0) FROM rtoks) - {_ESD_W})) AS i)
  WHERE i <= len(t) - {_ESD_W}),
ttoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM train),
twins AS (
  SELECT doc_id, i, md5(array_to_string(t[i + 1 : i + {_ESD_W}], ' ')) AS wh
  FROM ttoks, (SELECT unnest(generate_series(0,
      (SELECT COALESCE(MAX(len(t)), 0) FROM ttoks) - {_ESD_W})) AS i)
  WHERE i <= len(t) - {_ESD_W}),
cov AS (
  SELECT DISTINCT w.doc_id, w.i + j AS p
  FROM twins w JOIN rwins USING (wh),
       (SELECT unnest(generate_series(0, {_ESD_W} - 1)) AS j)),
pos AS (
  SELECT doc_id, p, t[p + 1] AS tok
  FROM ttoks, (SELECT unnest(generate_series(0,
      (SELECT COALESCE(MAX(len(t)), 1) FROM ttoks) - 1)) AS p)
  WHERE p < len(t)),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tok
  FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.p = pos.p
  WHERE cov.p IS NULL),
agg AS (
  SELECT doc_id,
    array_to_string(list(tok ORDER BY p), ' ') AS clean_text,
    COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT t.doc_id AS doc_id,
  COALESCE(a.clean_text, '') AS clean_text,
  CAST(len(t.t) AS INT) AS n_tokens,
  CAST(len(t.t) - COALESCE(a.n_kept, 0) AS INT) AS n_removed_tokens
FROM ttoks t LEFT JOIN agg a ON a.doc_id = t.doc_id
""",
)
def text_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by SPAN REMOVAL (operators/dedup.
    remove_reference_spans): the doc_id%13 slice plays the benchmark;
    every 11th remaining doc gets an 8-token benchmark window planted
    at its tail (in-plan, oracle-replayed), and the operator must cut
    exactly the covered tokens back out — leaving the document usable
    for training with the leaked eval text gone, where
    dedup_contamination would have flagged-and-dropped the whole doc.
    Scale posture: the benchmark window set is DISTINCT-ed and tiny
    (benchmarks are MBs against TB corpora — broadcastable), the
    corpus pays one window explode + semi join, and reassembly is the
    zero-shuffle higher-order filter shared with exact_substr_dedup."""
    from python_etl_spark.operators.dedup import remove_reference_spans

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    partner = base.select(
        F.col("doc_id").alias("p_id"), F.col("text").alias("p_text")
    )
    joined = base.join(
        partner,
        (F.col("doc_id") - (F.col("doc_id") % 13)) == F.col("p_id"),
        "left",
    )
    planted = F.concat(
        F.col("text"),
        F.lit(" "),
        F.array_join(
            F.slice(F.split(F.col("p_text"), " ", -1), 1, _ESD_W), " "
        ),
    )
    aug = joined.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 11 == 0)
            & (F.col("doc_id") % 13 != 0)
            & F.col("p_text").isNotNull(),
            planted,
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    train = aug.where(F.col("doc_id") % 13 != 0)
    ref = base.where(F.col("doc_id") % 13 == 0)
    return remove_reference_spans(train, ref, "text", "doc_id", _ESD_W)


@register(
    "events_decayed_engagement",
    oracle="""
WITH a AS (
  SELECT user_id,
    CAST(DATE '2024-02-01' - CAST(ts AS DATE) AS BIGINT) AS age_days
  FROM events),
w AS (
  SELECT user_id,
    1000000 // (CAST(1 AS BIGINT) << CAST(LEAST(age_days // 7, 19)
        AS INT)) AS wt
  FROM a)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(wt) AS BIGINT) AS decayed_score
FROM w GROUP BY user_id
""",
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score: each event contributes a weight
    halving per week of age (as of a fixed reference date) — the
    recency-weighted activity metric behind churn/engagement ranking.
    Decay is INTEGER-EXACT by construction: weight = 1e6 >> weeks
    (capped), so the per-user sum is an exact integer both engines
    agree on — no float decay exponentials whose summation order could
    differ. One partial-agg shuffle on user_id; the weight is a
    codegen expression."""
    ev = _t(spark, sf_dir, "events")
    age = F.datediff(
        F.lit("2024-02-01").cast("date"), F.to_date(F.col("ts"))
    ).cast("long")
    wt = F.expr(
        "1000000 div shiftleft(CAST(1 AS BIGINT), "
        "CAST(LEAST(__age div 7, CAST(19 AS BIGINT)) AS INT))"
    )
    return (
        ev.select("user_id", age.alias("__age"))
        .select("user_id", wt.alias("wt"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("wt").cast("long").alias("decayed_score"),
        )
    )


@register(
    "events_path_trigrams",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
    LEAD(event_type, 1) OVER w AS e2,
    LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
  CAST(COUNT(*) AS BIGINT) AS n
FROM s WHERE e3 IS NOT NULL
GROUP BY path
""",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: every 3-event consecutive sequence per
    user (ordered by time, event_id tiebreak for simultaneous rows)
    counted corpus-wide — the input behind Sankey/path-exploration
    views, complementing the 1-step transition matrix. Per-user
    windows partition on user_id (bounded frames), path counts are one
    partial-agg shuffle on the path string; nothing global-orders."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    return s.groupBy(
        F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


_VOCAB_K = 1000  # top types the hypothetical tokenizer vocabulary keeps


@register(
    "text_vocab_coverage",
    oracle=f"""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
c AS (SELECT w, COUNT(*) AS n FROM t WHERE w <> '' GROUP BY w),
r AS (
  SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rk FROM c)
SELECT
  CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_types,
  CAST((SELECT SUM(n) FROM c) AS BIGINT) AS n_tokens,
  CAST((SELECT COALESCE(SUM(n), 0) FROM r WHERE rk <= {_VOCAB_K})
       AS BIGINT) AS n_covered,
  CAST((SELECT COALESCE(SUM(n), 0) FROM r WHERE rk <= {_VOCAB_K})
       * 1000000 // (SELECT SUM(n) FROM c) AS BIGINT) AS coverage_ppm
""",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate input for tokenizer sizing: the
    share of corpus TOKENS covered by the top-K word TYPES
    (deterministic count-desc word-asc head — the corpus_word_counts
    cap's ordering). Integer-exact ppm (no float division). Plan: one
    type-count shuffle; the top-K cut is a bounded orderBy+limit over
    the TYPE table (Zipf-bounded, never the corpus) whose sum reduces
    to one row before joining the 1-row totals."""
    docs = _t(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    head = (
        c.orderBy(F.desc("n"), F.asc("w"))
        .limit(_VOCAB_K)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_covered"))
    )
    return totals.crossJoin(F.broadcast(head)).select(
        "n_types",
        "n_tokens",
        "n_covered",
        F.expr("n_covered * 1000000 div n_tokens").alias("coverage_ppm"),
    )


# ----------------------- scalar quantization (SQ8) -------------------------
_SQ_DIM = 64


@register(
    "emb_scalar_quantize",
    oracle=f"""
WITH ve AS (
  SELECT vec_id, r.i AS i, CAST(embedding[r.i + 1] AS DOUBLE) AS x
  FROM embeddings, range({_SQ_DIM}) r(i)),
st AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM ve GROUP BY i),
q AS (
  SELECT vec_id, i, x, lo, hi,
    CASE WHEN hi = lo THEN 0
      ELSE CAST(ROUND(((x - lo) * 127) / (hi - lo), 0) AS BIGINT)
    END AS code
  FROM ve JOIN st USING (i)),
e AS (
  SELECT vec_id, i, code,
    CASE WHEN hi = lo THEN 0
      ELSE CAST(ROUND(
        (x - (lo + (code * (hi - lo)) / 127))
        * (x - (lo + (code * (hi - lo)) / 127)) * 1000000000000, 0)
        AS BIGINT)
    END AS ep
  FROM q)
SELECT vec_id,
  MAX(CASE WHEN i = 0 THEN code END) AS q0,
  MAX(CASE WHEN i = 1 THEN code END) AS q1,
  MAX(CASE WHEN i = 2 THEN code END) AS q2,
  MAX(CASE WHEN i = 3 THEN code END) AS q3,
  CAST(SUM(ep) AS BIGINT) AS sse_pico
FROM e GROUP BY vec_id
""",
)
def emb_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization of the embedding corpus — the OTHER
    standard ANN compression next to the PQ codebooks (sim_topk_pq):
    per-dimension [min, max] over the corpus, each component rounded
    to a 0..127 code, reconstruction error reported per vector. At
    100 TB this is the 4x-8x memory lever that decides whether an
    index fits the cluster.

    Exactness: min/max are order-independent (no float-summation
    hazard), each code and each squared reconstruction error is
    rounded ONCE from a scalar double expression with identical
    association on both engines ((x-lo)*127)/(hi-lo); the per-vector
    SSE is then a 64-bit integer sum of pico-unit errors — no
    order-sensitive double accumulation anywhere. Degenerate
    dimensions (hi = lo) code to 0 with zero error identically.

    Scale posture: ONE corpus pass of 128 min/max partial aggregates
    -> a single stats row broadcast back; codes and errors are
    whole-stage array transforms in the scan stage (zero shuffles for
    the per-vector work, output one row per vector)."""
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    stats = emb.agg(
        # single-parse agg exprs (r14): identical GetArrayItem(Cast)
        # trees, built without 128 x ~5 py4j round trips
        *[F.expr(f"min(cast(embedding as array<double>)[{i}])").alias(f"lo{i}")
          for i in range(_SQ_DIM)],
        *[F.expr(f"max(cast(embedding as array<double>)[{i}])").alias(f"hi{i}")
          for i in range(_SQ_DIM)],
    )
    lo = F.array(*[F.col(f"lo{i}") for i in range(_SQ_DIM)])
    hi = F.array(*[F.col(f"hi{i}") for i in range(_SQ_DIM)])
    # one array<struct<lo,hi>> per row + two zip_with passes: the
    # per-element lambda evaluates at runtime instead of unrolling a
    # 64-dim expression tree per column (the unrolled form spent ~10s
    # in Catalyst/codegen on a 2000-row input)
    bounds = F.arrays_zip(lo.alias("lo"), hi.alias("hi"))

    def code(x, s):
        return F.when(s.hi == s.lo, F.lit(0).cast("long")).otherwise(
            F.round(((x - s.lo) * 127) / (s.hi - s.lo), 0).cast("long")
        )

    def err_pico(x, s):
        c = code(x, s).cast("double")
        xhat = s.lo + (c * (s.hi - s.lo)) / 127
        return F.when(s.hi == s.lo, F.lit(0).cast("long")).otherwise(
            F.round((x - xhat) * (x - xhat) * F.lit(1e12), 0).cast("long")
        )

    joined = emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.zip_with(vec, bounds, code).alias("codes"),
        F.aggregate(
            F.zip_with(vec, bounds, err_pico),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        ).alias("sse_pico"),
    )
    return joined.select(
        "vec_id",
        *[F.col("codes")[i].alias(f"q{i}") for i in range(4)],
        "sse_pico",
    )


@register(
    "sim_topk_sq8",
    oracle=f"""
WITH ve AS (
  SELECT vec_id, r.i AS i, CAST(embedding[r.i + 1] AS DOUBLE) AS x
  FROM embeddings, range({_SQ_DIM}) r(i)),
st AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM ve GROUP BY i),
q AS (SELECT i, x AS qx FROM ve WHERE vec_id = 0),
terms AS (
  SELECT ve.vec_id, ve.i,
    CAST(ROUND(q.qx * (st.lo + (CASE WHEN st.hi = st.lo THEN 0
        ELSE CAST(ROUND(((ve.x - st.lo) * 127) / (st.hi - st.lo), 0)
          AS BIGINT) END * (st.hi - st.lo)) / 127) * 1000000, 0)
      AS BIGINT) AS t
  FROM ve JOIN st USING (i) JOIN q USING (i)
  WHERE ve.vec_id <> 0),
scores AS (
  SELECT vec_id AS neighbor_id, CAST(SUM(t) AS BIGINT) AS adc_micro
  FROM terms GROUP BY vec_id)
SELECT neighbor_id, adc_micro,
  CAST(ROW_NUMBER() OVER (ORDER BY adc_micro DESC, neighbor_id ASC)
    AS INT) AS rnk
FROM scores
QUALIFY rnk <= 10
""",
)
def sim_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 by ASYMMETRIC distance over the SQ8 codes — the
    search half of the emb_scalar_quantize compression story (Faiss
    "ADC": float query against quantized corpus, the memory-bound
    regime at 100 TB where the index holds 1 byte/dim). Each dot-
    product term q_i * dequant(code_i) is rounded ONCE to integer
    micro-units, so the score is an order-independent 64-bit integer
    sum and the top-k boundary is exact on both engines — a fully
    hash-oracled approximate-by-quantization search (recall vs the
    exact brute force is pytest-bounded separately).

    Scale posture: stats are one broadcast row; scoring is a
    whole-stage zip_with over the scan (zero shuffles); the top-k is
    TakeOrderedAndProject. At cluster scale the codes come from the
    stored index (1/4th the float bytes), not recomputation."""
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    stats = emb.agg(
        # single-parse agg exprs (r14): identical GetArrayItem(Cast)
        # trees, built without 128 x ~5 py4j round trips
        *[F.expr(f"min(cast(embedding as array<double>)[{i}])").alias(f"lo{i}")
          for i in range(_SQ_DIM)],
        *[F.expr(f"max(cast(embedding as array<double>)[{i}])").alias(f"hi{i}")
          for i in range(_SQ_DIM)],
    )
    q = emb.where(F.col("vec_id") == 0).select(
        vec.alias("qv")
    )
    lo = F.array(*[F.col(f"lo{i}") for i in range(_SQ_DIM)])
    hi = F.array(*[F.col(f"hi{i}") for i in range(_SQ_DIM)])
    z = F.arrays_zip(lo.alias("lo"), hi.alias("hi"), F.col("qv").alias("qx"))

    def term(x, s):
        code = F.when(s.hi == s.lo, F.lit(0).cast("long")).otherwise(
            F.round(((x - s.lo) * 127) / (s.hi - s.lo), 0).cast("long")
        )
        xhat = s.lo + (code.cast("double") * (s.hi - s.lo)) / 127
        return F.round(s.qx * xhat * F.lit(1e6), 0).cast("long")

    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(stats.crossJoin(q)))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(vec, z, term),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).alias("adc_micro"),
        )
    )
    w = Window.orderBy(F.desc("adc_micro"), F.asc("neighbor_id"))
    return (
        scored.orderBy(F.desc("adc_micro"), F.asc("neighbor_id"))
        .limit(10)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )


_THETA_K = 128
_THETA_R = 1 << 40  # 10 md5 hex digits: portable 40-bit member hash


@register(
    "events_audience_theta",
    oracle=rf"""
WITH du AS (
  SELECT DISTINCT event_type AS t,
    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
         AS BIGINT) AS h
  FROM events
),
kept AS (
  SELECT t, h FROM (
    SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t ORDER BY h) AS r
    FROM du
  ) WHERE r <= {_THETA_K}
),
st AS (
  SELECT t, COUNT(*) AS nk, MAX(h) AS hmax,
    CASE WHEN COUNT(*) >= {_THETA_K} THEN MAX(h)
         ELSE {_THETA_R} END AS theta
  FROM kept GROUP BY t
),
single AS (
  SELECT k.t, s.theta, COUNT(*) AS ret
  FROM kept k JOIN st s ON s.t = k.t AND k.h < s.theta
  GROUP BY k.t, s.theta
),
pr AS (
  SELECT a.t AS ta, b.t AS tb,
    CASE WHEN a.theta < b.theta THEN a.theta ELSE b.theta END AS theta_ab
  FROM st a JOIN st b ON a.t < b.t
),
um AS (
  SELECT DISTINCT p.ta, p.tb, k.h, p.theta_ab
  FROM pr p JOIN kept k ON (k.t = p.ta OR k.t = p.tb)
    AND k.h < p.theta_ab
),
ur AS (
  SELECT ta, tb, h, theta_ab,
    ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS r
  FROM um
),
ukept AS (SELECT * FROM ur WHERE r <= {_THETA_K}),
ust AS (
  SELECT ta, tb, theta_ab, COUNT(*) AS nk, MAX(h) AS hmax,
    CASE WHEN COUNT(*) >= {_THETA_K} THEN MAX(h)
         ELSE theta_ab END AS theta_u
  FROM ukept GROUP BY ta, tb, theta_ab
),
uni AS (
  SELECT u.ta, u.tb, s.theta_u, COUNT(*) AS ret
  FROM ukept u JOIN ust s ON s.ta = u.ta AND s.tb = u.tb
    AND u.h < s.theta_u
  GROUP BY u.ta, u.tb, s.theta_u
),
inter AS (
  SELECT p.ta, p.tb, COUNT(*) AS ret
  FROM pr p
  JOIN kept a ON a.t = p.ta AND a.h < p.theta_ab
  JOIN kept b ON b.t = p.tb AND b.h = a.h
  GROUP BY p.ta, p.tb
),
diff AS (
  SELECT p.ta, p.tb, COUNT(*) AS ret
  FROM pr p
  JOIN kept a ON a.t = p.ta AND a.h < p.theta_ab
  WHERE NOT EXISTS (
    SELECT 1 FROM kept b WHERE b.t = p.tb AND b.h = a.h
  )
  GROUP BY p.ta, p.tb
)
SELECT p.ta AS type_a, p.tb AS type_b,
  CAST((sa.ret * {_THETA_R}) // sa.theta AS BIGINT) AS est_a,
  CAST((sb.ret * {_THETA_R}) // sb.theta AS BIGINT) AS est_b,
  CAST((u.ret * {_THETA_R}) // u.theta_u AS BIGINT) AS est_union,
  CAST((COALESCE(i.ret, 0) * {_THETA_R}) // p.theta_ab AS BIGINT)
    AS est_intersect,
  CAST((COALESCE(d.ret, 0) * {_THETA_R}) // p.theta_ab AS BIGINT)
    AS est_diff
FROM pr p
JOIN single sa ON sa.t = p.ta
JOIN single sb ON sb.t = p.tb
JOIN uni u ON u.ta = p.ta AND u.tb = p.tb
LEFT JOIN inter i ON i.ta = p.ta AND i.tb = p.tb
LEFT JOIN diff d ON d.ta = p.ta AND d.tb = p.tb
""",
)
def events_audience_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA-SKETCH audience set algebra: per event-type pair, the
    estimated audience sizes plus UNION, INTERSECTION and DIFFERENCE
    — the set operations HLL cannot give (inclusion-exclusion
    degrades catastrophically for small intersections; theta sketches
    intersect natively, the DataSketches company-metrics workhorse).
    KMV construction: each member's 40-bit md5-derived hash, the K
    smallest per audience kept; theta = the K-th smallest when
    saturated (else 1.0), estimate = retained * R / theta, integer
    division end-to-end — the oracle replays the identical sketch, so
    the driver check is an exact hash match, while the pytest bounds
    the estimates against exact set sizes.

    Scale posture: ONE distinct shuffle over (type, member-hash) and
    one same-key window keep only K rows per audience; every later
    op touches <= K x |types| rows (broadcast joins) — at 100 TB the
    sketch build is the only pass over data, exactly how a real
    DataSketches aggregation behaves."""
    K, R = _THETA_K, _THETA_R
    ev = _t(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    du = ev.select(F.col("event_type").alias("t"), h.alias("h")).distinct()
    w = Window.partitionBy("t").orderBy("h")
    kept = (
        du.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= K)
        .drop("r")
    )
    kept = kept.persist()
    st = kept.groupBy("t").agg(
        F.count(F.lit(1)).alias("nk"), F.max("h").alias("hmax")
    ).withColumn(
        "theta",
        F.when(F.col("nk") >= K, F.col("hmax")).otherwise(F.lit(R)),
    )
    single = (
        kept.join(F.broadcast(st), "t")
        .where(F.col("h") < F.col("theta"))
        .groupBy("t", "theta")
        .agg(F.count(F.lit(1)).alias("ret"))
        .select("t", "theta", "ret")
    )
    sa = st.select(F.col("t").alias("ta"), F.col("theta").alias("th_a"))
    sb = st.select(F.col("t").alias("tb"), F.col("theta").alias("th_b"))
    pr = (
        sa.crossJoin(sb)
        .where(F.col("ta") < F.col("tb"))
        .select("ta", "tb", F.least("th_a", "th_b").alias("theta_ab"))
    )
    ka = kept.select(F.col("t").alias("ta"), "h")
    kb = kept.select(F.col("t").alias("tb"), "h")
    um = (
        pr.join(ka, "ta")
        .select("ta", "tb", "h", "theta_ab")
        .unionByName(pr.join(kb, "tb").select("ta", "tb", "h", "theta_ab"))
        .where(F.col("h") < F.col("theta_ab"))
        .dropDuplicates(["ta", "tb", "h"])
    )
    wu = Window.partitionBy("ta", "tb").orderBy("h")
    ukept = (
        um.withColumn("r", F.row_number().over(wu))
        .where(F.col("r") <= K)
        .drop("r")
    )
    ust = ukept.groupBy("ta", "tb", "theta_ab").agg(
        F.count(F.lit(1)).alias("nk"), F.max("h").alias("hmax")
    ).withColumn(
        "theta_u",
        F.when(F.col("nk") >= K, F.col("hmax")).otherwise(
            F.col("theta_ab")
        ),
    )
    uni = (
        ukept.join(
            F.broadcast(ust.select("ta", "tb", "theta_u")), ["ta", "tb"]
        )
        .where(F.col("h") < F.col("theta_u"))
        .groupBy("ta", "tb", "theta_u")
        .agg(F.count(F.lit(1)).alias("ret"))
    )
    below = pr.join(ka, "ta").where(F.col("h") < F.col("theta_ab"))
    inter = (
        below.join(kb, ["tb", "h"])
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("ret_i"))
    )
    diff = (
        below.join(kb, ["tb", "h"], "left_anti")
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("ret_d"))
    )
    out = (
        pr.join(
            F.broadcast(
                single.select(
                    F.col("t").alias("ta"),
                    F.col("theta").alias("theta_a"),
                    F.col("ret").alias("ret_a"),
                )
            ),
            "ta",
        )
        .join(
            F.broadcast(
                single.select(
                    F.col("t").alias("tb"),
                    F.col("theta").alias("theta_b"),
                    F.col("ret").alias("ret_b"),
                )
            ),
            "tb",
        )
        .join(F.broadcast(uni), ["ta", "tb"])
        .join(F.broadcast(inter), ["ta", "tb"], "left")
        .join(F.broadcast(diff), ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.expr(f"(ret_a * {R}) div theta_a").alias("est_a"),
            F.expr(f"(ret_b * {R}) div theta_b").alias("est_b"),
            F.expr(f"(ret * {R}) div theta_u").alias("est_union"),
            F.expr(
                f"(coalesce(ret_i, 0) * {R}) div theta_ab"
            ).alias("est_intersect"),
            F.expr(
                f"(coalesce(ret_d, 0) * {R}) div theta_ab"
            ).alias("est_diff"),
        )
    )
    return out
