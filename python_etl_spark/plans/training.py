"""Round-5/6 plans: training-data pipeline depth.

* ``text_segment_dedup`` — C4-style corpus-wide segment-level exact
  dedup with document reassembly (the unit here is a fixed-width token
  segment; C4 uses lines — same shape, same Spark plan).
* ``emb_random_projection`` — Johnson–Lindenstrauss Rademacher
  projection 64→16 dims with a distortion report (the cheap
  dimensionality squeeze before LSH/clustering at scale).
* ``text_quality_linear_score`` — fasttext-style linear classifier over
  the hashed bag-of-words (deterministic md5 weights; integer-exact).
* ``sim_topk_ivfpq`` — IVF + residual-PQ ANN, the Faiss IVFPQ
  architecture (coarse quantizer restricts the scan to probed inverted
  lists, byte codes + asymmetric distance score the candidates, exact
  re-rank on top). Approximate: rows-only driver check + recall pytest.
* ``stream_dedup_batch_equiv`` — batch twin of
  streaming.dedup.dedup_events (bounded-state streaming dedup),
  hash-checked against DuckDB.
* ``graph_pagerank`` / ``graph_degree_stats`` — fixed-iteration damped
  PageRank over the SF-scaling customer–supplier trade graph (the
  Common-Crawl link-quality shape; oracled against unrolled-iteration
  SQL) and its degree-skew pre-flight.
* ``etl_bloom_semi_join`` — Bloom-prefiltered semi join (map-side
  bitmap predicate before the shuffle, exact semi join after; result
  row-identical to plain EXISTS).
* ``emb_pca_variance`` — top-8 principal components via distributed
  moment partials + driver eig (rows-only; numpy-pinned pytest).
* ``etl_zorder_code`` / ``etl_zorder3_code`` — Morton clustering keys
  for OPTIMIZE ZORDER layouts, 2-column magic-mask fast path and the
  k-way generalization (integer-exact bit interleave; zorder_by
  measured to tighten per-file bounding boxes ≥3x in
  tests/test_bucketing.py for both 2 and 3 columns).

Round-6 additions: ``etl_incremental_load`` (high-watermark extract
through the Pipeline API — bookmark rides the versioned-table manifest,
crash-safe, hash-oracled vs a one-shot load) and
``events_audience_overlap_hll`` (Datasketches HLL inclusion–exclusion
twin of the exact overlap matrix; rows-only + pytest error bound).

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
from python_etl_spark.plans.common import (
    dmean_sql,
    dsum,
    dsum_sql,
    register,
    stable_digest,
)
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


# ----------------------- incremental high-watermark load -------------------


@register(
    "etl_incremental_load",
    oracle=f"""
SELECT o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  {dsum_sql('o_totalprice')} AS sum_price,
  MAX(o_orderdate) AS max_date
FROM orders
GROUP BY o_orderstatus
""",
)
def etl_incremental_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run incremental extract through the Pipeline API: run 1
    bootstraps a versioned table with orders up to a cutoff date and
    commits the high watermark (max o_orderdate loaded) inside the SAME
    manifest rename as the data; run 2 is handed the FULL source and
    extracts only rows strictly past the bookmark. The final snapshot
    must equal a one-shot load of the whole table — which is exactly
    what the oracle computes, so a skipped or double-loaded row breaks
    the hash. Structural asserts: exactly 2 commits, run 2 loaded a
    non-empty strict subset.

    Scale posture: the bookmark filter is a plain pushdown predicate
    (prunes files on a date-partitioned source before any read), and
    the loaded batch is persisted once so the recorded watermark is
    computed from the same snapshot that lands in the commit
    (incremental.py has the crash-safety contract)."""
    import shutil
    import tempfile

    from python_etl_spark.pipeline import Pipeline
    from python_etl_spark.sinks.table import VersionedTable

    orders = _t(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="pyetl_inc_")
    shutil.rmtree(root)  # VersionedTable creates its own layout
    cutoff = "1995-06-01"

    p1 = (
        Pipeline(spark)
        .extract_df("orders", orders.where(F.col("o_orderdate") <= F.lit(cutoff)))
        .load_incremental("orders", root, "o_orderdate")
    )
    p1.run()
    p2 = (
        Pipeline(spark)
        .extract_df("orders", orders)
        .load_incremental("orders", root, "o_orderdate")
    )
    p2.run()

    table = VersionedTable(root)
    n1 = p1.incremental_results["orders"]["rows_loaded"]
    n2 = p2.incremental_results["orders"]["rows_loaded"]
    assert table.latest_version() == 1, "expected exactly 2 commits"
    assert n1 > 0 and n2 > 0, (n1, n2)

    out = (
        table.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice").alias("sum_price"),
            F.max("o_orderdate").alias("max_date"),
        )
    )
    # materialize before deleting the scratch table — the returned
    # frame must not depend on the temp files
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


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


# ---------------------- incremental dedup (hash-checked) -------------------

_INCR_STORE_CACHE: dict = {}


@register(
    "etl_incremental_dedup",
    oracle=r"""
WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
b2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents
  WHERE doc_id % 2 = 1 AND doc_id % 7 = 1
),
n1 AS (SELECT doc_id,
  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM b1),
n2 AS (SELECT doc_id,
  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM b2),
a1 AS (SELECT doc_id FROM n1
  WHERE doc_id = (SELECT MIN(x.doc_id) FROM n1 x WHERE x.norm = n1.norm)),
a2 AS (SELECT doc_id FROM n2
  WHERE doc_id = (SELECT MIN(x.doc_id) FROM n2 x WHERE x.norm = n2.norm)
    AND NOT EXISTS (SELECT 1 FROM n1 WHERE n1.norm = n2.norm))
SELECT doc_id, 'b1' AS batch FROM a1
UNION ALL
SELECT doc_id, 'b2' AS batch FROM a2
""",
)
def etl_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup (operators/incremental.IncrementalDeduper)
    driven end-to-end and HASH-CHECKED: batch 1 = even docs, batch 2 =
    odd docs plus planted "recrawl" copies — every 10th even doc
    reappears under a new id (a cross-batch dup the signature store
    must kill WITHOUT rescanning batch-1 text) and every 7th odd doc
    is duplicated within the batch (keep-first must keep the
    original). The accepted output is exactly the original corpus ids;
    any under- or over-dropping surfaces extra/missing rows and breaks
    the hash. The signature store is a real VersionedTable in a
    session-scoped temp dir (re-invocation in the same session is the
    crash-replay path: batches are already committed, accept_batch
    returns the identical accepted sets and skips the appends — the
    idempotency contract under test a second way). Ordering caveat
    (documented in operators/incremental.py): replaying batch 1 after
    batch 2 committed is stable precisely because accepted signature
    sets are disjoint across batches."""
    import os
    import tempfile

    from python_etl_spark.operators.incremental import IncrementalDeduper

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    b2 = odd.unionByName(
        even.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        odd.where(F.col("doc_id") % 7 == 1).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_incr_{key[0]}_{stable_digest(key[1])}",
        )
        _INCR_STORE_CACHE[key] = root
    d = IncrementalDeduper(root)
    a1 = d.accept_batch(even, "b1").select(
        "doc_id", F.lit("b1").alias("batch")
    )
    a2 = d.accept_batch(b2, "b2").select(
        "doc_id", F.lit("b2").alias("batch")
    )
    return a1.unionByName(a2)


# ---------------- incremental materialized rollup --------------------------


@register(
    "etl_incremental_rollup",
    oracle=r"""
SELECT o_orderpriority AS priority,
  CAST(year(o_orderdate) AS INT) AS order_year,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
  MIN(o_orderdate) AS first_order,
  MAX(o_orderdate) AS last_order
FROM orders
GROUP BY 1, 2
""",
)
def etl_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate (materialized view) driven
    end-to-end and HASH-CHECKED against the full recompute: orders
    lands in a VersionedTable as three nightly appends (orderkey mod
    3); a MaterializedRollup (operators/incremental.py) folds each
    append into (priority, year) -> count / exact-decimal revenue /
    first / last via ``VersionedTable.changes`` — the delta read opens
    ONLY the new commit's files — and commits merged state + source
    bookmark in one atomic overwrite. The returned frame is the final
    maintained state; any mis-merge (double-folded batch, lost delta,
    sum-of-sums drift) breaks the hash against the one-shot GROUP BY
    oracle.

    Scale posture: each refresh aggregates one night's append (GBs)
    and rewrites only the rollup (aggregate cardinality, KBs) — the
    100 TB fact table is never rescanned. Revenue is maintained as
    DECIMAL end-to-end (associative merge, order-independent), cast to
    double only on the way out. Crash/replay semantics are pytest-
    proven in tests/test_incremental.py (bookmark no-op replay, crash
    between append and refresh, conflict recompute)."""
    import os
    import tempfile

    from python_etl_spark.operators.incremental import MaterializedRollup
    from python_etl_spark.sinks.table import VersionedTable

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
        "o_orderdate",
    )
    key = (
        "rollup",
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
    )
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_mroll_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    source = VersionedTable(os.path.join(root, "source"))
    rollup = MaterializedRollup(
        os.path.join(root, "rollup"),
        keys=["priority", "order_year"],
        spec={
            "n_orders": ("count", "o_orderkey"),
            "revenue_dec": ("sum", "price"),
            "first_order": ("min", "o_orderdate"),
            "last_order": ("max", "o_orderdate"),
        },
    )

    def _batch(i: int) -> DataFrame:
        return orders.where(F.col("o_orderkey") % 3 == i).select(
            F.col("o_orderpriority").alias("priority"),
            "order_year",
            "o_orderkey",
            "price",
            "o_orderdate",
        )

    if not source.exists():
        source.create(_batch(0))
        rollup.refresh(source, spark)  # initial build from v0
    v = source.latest_version()
    while v < 2:  # re-entrant: append exactly the missing nights
        source.append(_batch(v + 1))
        rollup.refresh(source, spark)  # fold ONLY the new commit
        v = source.latest_version()
    if source.latest_version() < 3:
        # night 4: a CDC RESTATEMENT — upstream re-sends night 0's rows
        # byte-identical (the at-least-once delivery case). The MERGE
        # commit persists its change feed; the refresh crosses the
        # rewrite WITHOUT re-baselining (min/max spec → affected-key
        # recompute over the feed's key set) and, because every
        # pre/post pair nets to zero, the maintained state — and the
        # one-shot GROUP BY oracle — are unchanged. The round-9 fold
        # machinery, driven on the hash-checked path.
        source.merge(_batch(0), keys=["o_orderkey"])
        rollup.refresh(source, spark)
    rollup.refresh(source, spark)  # idempotent no-op when current
    return rollup.read(spark).select(
        "priority",
        "order_year",
        "n_orders",
        F.col("revenue_dec").cast("double").alias("revenue"),
        "first_order",
        "last_order",
    )


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


# ----------------- row-level change feed (CDF) over the lakehouse ----------
#
# The round-9 lakehouse surface: a VersionedTable source takes a MERGE
# (updates + inserts) and a DELETE; etl_cdf_changes hash-checks the
# TYPED feed (VersionedTable.row_changes) itself, etl_cdf_replay
# hash-checks the feed APPLIED back onto the base snapshot (the
# etl_cdc_apply semantics: latest change per key wins, deletes drop
# the key) against a direct final-state oracle. Both reuse one
# session-scoped table built from orders: base = o_orderkey % 3 != 2;
# MERGE bumps price by +100 for every % 5 == 0 key (matched keys emit
# pre/post pairs, % 3 == 2 keys become inserts); DELETE drops
# % 7 == 0 keys from the merged snapshot.


def _cdf_source(spark: SparkSession, sf_dir: str):
    """Build (once per session+sf) the 3-commit CDF demo table:
    v0 create, v1 merge (track_changes), v2 delete. Re-entrant: each
    step only runs if its version is missing."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("cdf", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_cdf_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(orders.where(F.col("o_orderkey") % 3 != 2))
    if t.latest_version() < 1:
        upd = orders.where(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey",
            "priority",
            (F.col("price") + 100).cast("decimal(28,6)").alias("price"),
        )
        t.merge(upd, ["o_orderkey"])
    if t.latest_version() < 2:
        t.delete_where(F.col("o_orderkey") % 7 == 0)
    return t


@register(
    "etl_cdf_changes",
    oracle=r"""
WITH priced AS (
  SELECT o_orderkey AS k, o_orderpriority AS priority,
    CAST(o_totalprice AS DECIMAL(28,6)) AS price FROM orders),
ch AS (
  SELECT 'update_preimage' AS change_type, priority, price
  FROM priced WHERE k % 3 <> 2 AND k % 5 = 0
  UNION ALL
  SELECT 'update_postimage', priority, price + 100
  FROM priced WHERE k % 3 <> 2 AND k % 5 = 0
  UNION ALL
  SELECT 'insert', priority, price + 100
  FROM priced WHERE k % 3 = 2 AND k % 5 = 0
  UNION ALL
  SELECT 'delete', priority,
    CASE WHEN k % 5 = 0 THEN price + 100 ELSE price END
  FROM priced WHERE k % 7 = 0 AND (k % 3 <> 2 OR k % 5 = 0)
)
SELECT change_type, priority, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(price) AS DOUBLE) AS amount
FROM ch GROUP BY 1, 2
""",
)
def etl_cdf_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TYPED row-level change feed of a lakehouse MERGE + DELETE,
    hash-checked end-to-end: VersionedTable.row_changes() replays the
    v1 merge's persisted pre/post/insert rows and the v2 delete's
    removed rows; any mis-derivation (wrong matched set, preimage from
    the wrong snapshot, delete rows taken pre-merge) shifts a count or
    a decimal sum and breaks the hash against the set-logic oracle.

    Scale posture: the feed reads ONLY the two commits' cdf files
    (pytest-asserted on inputFiles in tests/test_table.py) — a nightly
    CDC consumer of a 100 TB table scans the night's change dirs,
    never the corpus; the aggregate is one shuffle at change-type x
    priority cardinality (~20 groups)."""
    t = _cdf_source(spark, sf_dir)
    feed = t.row_changes(spark, 0, 2)
    return feed.groupBy(
        F.col("_change_type").alias("change_type"), "priority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("double").alias("amount"),
    )


@register(
    "etl_cdf_replay",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN o_orderkey % 5 = 0
    THEN CAST(o_totalprice AS DECIMAL(28,6)) + 100
    ELSE CAST(o_totalprice AS DECIMAL(28,6)) END) AS DOUBLE) AS amount
FROM orders
WHERE (o_orderkey % 3 <> 2 OR o_orderkey % 5 = 0) AND o_orderkey % 7 <> 0
GROUP BY 1
""",
)
def etl_cdf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC REPLAY twin (the etl_cdc_apply semantics applied to the
    change feed): take the v0 snapshot, apply the typed feed — latest
    change per key wins (postimage beats its same-commit preimage),
    delete drops the key — and aggregate the replayed state. The
    oracle computes the final state DIRECTLY from orders, so the
    replay machinery (not the snapshot read) is what's being checked;
    the replayed frame must equal read(latest) row-for-row for the
    hash to match.

    Scale posture: replay = one window over the feed (keyed by the
    merge key) + one anti join against the base — both shuffle on the
    key; the feed is night-sized, the base join is the only
    corpus-touching stage (and prunable by key layout)."""
    t = _cdf_source(spark, sf_dir)
    feed = t.row_changes(spark, 0, 2)
    w = Window.partitionBy("o_orderkey").orderBy(
        F.desc("_commit_version"),
        F.when(F.col("_change_type") == "update_preimage", 1).otherwise(0),
    )
    last = feed.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    alive = last.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("o_orderkey", "priority", "price")
    replayed = (
        t.read(spark, 0)
        .join(last.select("o_orderkey"), "o_orderkey", "left_anti")
        .select("o_orderkey", "priority", "price")
        .unionByName(alive)
    )
    return replayed.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


@register(
    "etl_scd2_from_cdf",
    oracle=r"""
WITH priced AS (
  SELECT o_orderkey AS k, o_orderpriority AS priority,
    CAST(o_totalprice AS DECIMAL(28,6)) AS price FROM orders),
v AS (
  SELECT k, priority, price, 0 AS vf,
    CASE WHEN k % 5 = 0 THEN 1
         WHEN k % 7 = 0 THEN 2
         ELSE -1 END AS vt
  FROM priced WHERE k % 3 <> 2
  UNION ALL
  SELECT k, priority, price + 100, 1,
    CASE WHEN k % 7 = 0 THEN 2 ELSE -1 END
  FROM priced WHERE k % 5 = 0
)
SELECT k AS o_orderkey, priority, CAST(price AS DOUBLE) AS price,
  CAST(vf AS BIGINT) AS valid_from, CAST(vt AS BIGINT) AS valid_to
FROM v
""",
)
def etl_scd2_from_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history built FROM the change feed (the
    CDC-to-warehouse pattern a lakehouse user actually runs): every
    insert/update_postimage opens a version at its commit, every
    update_preimage/delete closes the version that was open before it
    (valid_to = the earliest later close; -1 = still current). The
    builder is GENERIC over the feed — it never looks at the commits'
    semantics, only typed rows — while the oracle derives the same
    history directly from orders arithmetic, so an off-by-one in
    open/close matching or a same-commit pre/post mixup breaks the
    hash.

    Scale posture: opens and closes are both night-sized feed frames
    plus the base snapshot; the close-matching join and the min-
    aggregate shuffle on the merge key only — the etl_scd2_history
    family's cost shape, fed by cdf files instead of a staged
    changelog."""
    t = _cdf_source(spark, sf_dir)
    feed = t.row_changes(spark, 0, 2)
    base = t.read(spark, 0)
    opens = base.select(
        "o_orderkey", "priority", "price", F.lit(0).cast("long").alias("valid_from")
    ).unionByName(
        feed.where(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(
            "o_orderkey", "priority", "price",
            F.col("_commit_version").alias("valid_from"),
        )
    )
    closes = feed.where(
        F.col("_change_type").isin("update_preimage", "delete")
    ).select(F.col("o_orderkey").alias("ck"), F.col("_commit_version").alias("cv"))
    # the close-eligibility predicate (cv > valid_from) must live IN
    # the join condition: an open whose only closes are <= valid_from
    # is still current and must survive with cv NULL
    joined = opens.join(
        closes,
        (opens["o_orderkey"] == closes["ck"])
        & (closes["cv"] > opens["valid_from"]),
        "left",
    ).drop("ck")
    return (
        joined.groupBy("o_orderkey", "priority", "price", "valid_from")
        .agg(F.min("cv").alias("vt"))
        .select(
            "o_orderkey",
            "priority",
            F.col("price").cast("double").alias("price"),
            "valid_from",
            F.coalesce(F.col("vt"), F.lit(-1)).cast("long").alias("valid_to"),
        )
    )


# ----------------- conditional MERGE clauses (full surface) -----------------
#
# Round 10: the full public MERGE surface (WHEN MATCHED AND cond THEN
# UPDATE / DELETE, WHEN NOT MATCHED AND cond THEN INSERT) exercised in
# ONE commit against a VersionedTable built from orders, with both the
# final snapshot and the per-clause-typed change feed hash-checked by
# set-logic oracles. Clause arithmetic: base = k % 3 != 2; source =
# k % 5 == 0 with price+100; matched & k % 11 == 0 -> DELETE (clause
# order puts delete first), matched & k % 2 == 0 -> UPDATE, unmatched
# & k % 2 == 1 -> INSERT; everything else passes through untouched.


def _mclause_source(spark: SparkSession, sf_dir: str):
    """Build (once per session+sf) the 2-commit clause-MERGE table:
    v0 create, v1 conditional merge. Re-entrant like _cdf_source."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("mclause", spark.sparkContext.applicationId,
           os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_mclause_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(orders.where(F.col("o_orderkey") % 3 != 2))
    if t.latest_version() < 1:
        src = orders.where(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey",
            "priority",
            (F.col("price") + 100).cast("decimal(28,6)").alias("price"),
        )
        t.merge(
            src,
            ["o_orderkey"],
            when_matched_delete="t.o_orderkey % 11 = 0",
            when_matched_update="t.o_orderkey % 2 = 0",
            when_not_matched_insert="s.o_orderkey % 2 = 1",
        )
    return t


@register(
    "etl_merge_clauses",
    oracle=r"""
WITH priced AS (
  SELECT o_orderkey AS k, o_orderpriority AS priority,
    CAST(o_totalprice AS DECIMAL(28,6)) AS price FROM orders),
final AS (
  SELECT k, priority,
    CASE WHEN k % 5 = 0 AND k % 2 = 0 THEN price + 100
         ELSE price END AS price
  FROM priced
  WHERE k % 3 <> 2 AND NOT (k % 5 = 0 AND k % 11 = 0)
  UNION ALL
  SELECT k, priority, price + 100
  FROM priced WHERE k % 3 = 2 AND k % 5 = 0 AND k % 2 = 1
)
SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(price) AS DOUBLE) AS amount
FROM final GROUP BY 1
""",
)
def etl_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-MERGE final state, hash-checked: one MERGE commit
    fires update+delete+insert clauses (operators.upsert.merge_clauses
    through VersionedTable.merge) and the snapshot read must equal the
    oracle's direct set-logic derivation from orders — a clause
    misfire (wrong order, wrong side's columns, an unmatched row
    leaking through skip) shifts a count or a decimal sum.

    Scale posture: the MERGE itself is the dir-pruned CoW path (one
    full-outer join on the key over touched dirs only); the check
    aggregate is one shuffle at priority cardinality."""
    t = _mclause_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


@register(
    "etl_merge_clauses_feed",
    oracle=r"""
WITH priced AS (
  SELECT o_orderkey AS k, o_orderpriority AS priority,
    CAST(o_totalprice AS DECIMAL(28,6)) AS price FROM orders),
ch AS (
  SELECT 'update_preimage' AS change_type, priority, price
  FROM priced WHERE k % 3 <> 2 AND k % 5 = 0 AND k % 11 <> 0 AND k % 2 = 0
  UNION ALL
  SELECT 'update_postimage', priority, price + 100
  FROM priced WHERE k % 3 <> 2 AND k % 5 = 0 AND k % 11 <> 0 AND k % 2 = 0
  UNION ALL
  SELECT 'delete', priority, price
  FROM priced WHERE k % 3 <> 2 AND k % 5 = 0 AND k % 11 = 0
  UNION ALL
  SELECT 'insert', priority, price + 100
  FROM priced WHERE k % 3 = 2 AND k % 5 = 0 AND k % 2 = 1
)
SELECT change_type, priority, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(price) AS DOUBLE) AS amount
FROM ch GROUP BY 1, 2
""",
)
def etl_merge_clauses_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional MERGE's change feed, typed PER FIRED CLAUSE and
    hash-checked: updated keys emit pre/post pairs, matched-delete
    keys emit ``delete`` rows carrying the pre-delete values, inserted
    keys emit ``insert`` — and matched keys whose conditions all
    missed emit NOTHING (the silent-keep property: a spurious pre/post
    pair for a kept row breaks the hash).

    Scale posture: identical to etl_cdf_changes — the feed reads only
    the commit's cdf files; the aggregate is change-type x priority
    cardinality."""
    t = _mclause_source(spark, sf_dir)
    feed = t.row_changes(spark, 0, 1)
    return feed.groupBy(
        F.col("_change_type").alias("change_type"), "priority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("double").alias("amount"),
    )


# ------------- merge-on-read deletes + table_changes + widening -------------
#
# Round 10 part 2: the new lakehouse surfaces promoted from [T]-only to
# driver-hash-certified queries — a deletion-vector DELETE whose
# snapshot read proves both the tombstone anti-join AND re-insert
# safety, the registered table_changes source's batch face against the
# same oracle the row_changes query uses, and a type-widening append
# read back through the cast-conforming snapshot path.


def _mor_source(spark: SparkSession, sf_dir: str):
    """v0 create (k % 3 != 2), v1 MERGE-ON-READ delete (k % 7 == 0 —
    zero data files rewritten, tombstone sidecar only), v2 append
    RE-INSERTING value-identical rows for the deleted k % 11 == 0
    subset (they live in a newer dir, outside the tombstone's scope,
    and must survive). Re-entrant like _cdf_source."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("mor", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_mor_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(orders.where(F.col("o_orderkey") % 3 != 2))
    if t.latest_version() < 1:
        t.delete_where(F.col("o_orderkey") % 7 == 0, merge_on_read=True)
    if t.latest_version() < 2:
        t.append(
            orders.where(
                (F.col("o_orderkey") % 3 != 2)
                & (F.col("o_orderkey") % 7 == 0)
                & (F.col("o_orderkey") % 11 == 0)
            )
        )
    return t


@register(
    "etl_mor_delete",
    oracle=r"""
WITH priced AS (
  SELECT o_orderkey AS k, o_orderpriority AS priority,
    CAST(o_totalprice AS DECIMAL(28,6)) AS price FROM orders
  WHERE o_orderkey % 3 <> 2),
final AS (
  SELECT k, priority, price FROM priced WHERE k % 7 <> 0
  UNION ALL
  SELECT k, priority, price FROM priced
  WHERE k % 7 = 0 AND k % 11 = 0
)
SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(price) AS DOUBLE) AS amount
FROM final GROUP BY 1
""",
)
def etl_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE certified end-to-end: the v1 delete writes
    ONLY a deletion-vector sidecar (zero data files rewritten —
    inventory-asserted in tests/test_table.py), so the snapshot read's
    scoped tombstone anti-join is what produces these numbers; the v2
    append RE-INSERTS value-identical rows for the k %% 11 == 0
    deleted subset, which a naive value-tombstone design would
    re-delete — they must survive (dir-scoped DVs never touch newer
    dirs) or the per-priority counts and exact decimal sums break the
    hash against the set-logic oracle.

    Scale posture: the read is the corpus scan plus ONE anti-join of
    a night-sized tombstone set against only the dirs that existed at
    delete time; the delete itself cost O(matched rows), the
    delete-heavy nightly shape."""
    t = _mor_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


@register("etl_table_changes_batch", oracle=None)
def etl_table_changes_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered table_changes source's BATCH face over the same
    3-commit table etl_cdf_changes reads through row_changes(): one
    InputPartition per change file, executor-side Arrow reads, commit
    versions stamped by the planner. Registered with the IDENTICAL
    oracle SQL (set below), so the Python DataSource path is held to
    the same hash as the library path — a drift between the two
    implementations (missed commit, wrong typing, double-read) breaks
    this query while etl_cdf_changes stays green, pinpointing the
    source."""
    from python_etl_spark.sources.table_changes import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)
    t = _cdf_source(spark, sf_dir)
    feed = (
        spark.read.format("table_changes")
        .option("startingVersion", 0)
        .option("endingVersion", 2)
        .load(t.root)
    )
    return feed.groupBy(
        F.col("_change_type").alias("change_type"), "priority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("double").alias("amount"),
    )


# same typed-feed truth as the library path: hold the registered
# source to etl_cdf_changes' exact oracle
_ORACLES["etl_table_changes_batch"] = _ORACLES["etl_cdf_changes"]


def _widen_source(spark: SparkSession, sf_dir: str):
    """v0 create with (int, int, decimal(12,2)); v1 append widened
    (long keys, long qty, decimal(18,2)) + a NEW column — additive
    evolution and type widening in one batch. Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("widen", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_widen_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(
            orders.select(
                F.col("o_orderkey").cast("int").alias("k"),
                (F.col("o_orderkey") % 50).cast("int").alias("qty"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            )
        )
    if t.latest_version() < 1:
        t.append(
            orders.where(F.col("o_orderkey") % 2 == 0).select(
                (F.col("o_orderkey") + 3000000).cast("long").alias("k"),
                (F.lit(3000000000) + F.col("o_orderkey") % 1000)
                .cast("long")
                .alias("qty"),
                (F.col("o_totalprice") + 0.25)
                .cast("decimal(18,2)")
                .alias("price"),
                F.lit("b2").alias("src"),
            ),
            allow_evolution=True,
        )
    return t


@register(
    "etl_schema_widening",
    oracle=r"""
WITH v0 AS (
  SELECT 'base' AS src, o_orderkey % 50 AS qty,
    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS price
  FROM orders),
v1 AS (
  SELECT 'b2' AS src, 3000000000 + o_orderkey % 1000 AS qty,
    CAST(o_totalprice + 0.25 AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderkey % 2 = 0),
u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
SELECT src, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(qty) AS BIGINT) AS total_qty,
  CAST(SUM(price) AS DOUBLE) AS amount
FROM u GROUP BY 1
""",
)
def etl_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening evolution read back end-to-end: v0 files hold
    (int, int, decimal(12,2)), the v1 append widened every column
    (long, long, decimal(18,2)) and added a new one — parquet
    mergeSchema cannot merge int with long, so these numbers only come
    out right if the snapshot read conforms each dir by CAST to the
    manifest-recorded widened schema and null-fills the pre-evolution
    column. Exact decimal sums + long counts per source batch against
    the union-arithmetic oracle.

    Scale posture: the cast is a zero-shuffle projection per dir
    scan; nothing about the table rewrites at evolution time."""
    t = _widen_source(spark, sf_dir)
    return t.read(spark).groupBy(
        F.coalesce(F.col("src"), F.lit("base")).alias("src")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").cast("long").alias("total_qty"),
        F.sum("price").cast("double").alias("amount"),
    )


@register("etl_format_read", oracle=None)
def etl_format_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ face of the registered ``versioned_table`` format (r11
    verdict #2) over the SAME evolved table etl_schema_widening reads
    through the library: ``spark.read.format("versioned_table")
    .load(root)`` — one InputPartition per data file, executor-side
    Arrow conform to the widened schema (sources/table_read.py).
    Registered with the IDENTICAL oracle SQL (set below), so the
    Python DataSource read path is held to the same hash as
    ``VersionedTable.read`` — a drift between the two implementations
    (missed dir, wrong cast, unapplied rename/DV) breaks this query
    while etl_schema_widening stays green, pinpointing the source.

    Scale posture: interchange face — pure map over the snapshot's
    files, zero shuffles before the aggregation, no driver data path;
    heavy analytics keep using the library's Catalyst scan."""
    from python_etl_spark.sinks.table_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    t = _widen_source(spark, sf_dir)
    snap = spark.read.format("versioned_table").load(t.root)
    return snap.groupBy(
        F.coalesce(F.col("src"), F.lit("base")).alias("src")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").cast("long").alias("total_qty"),
        F.sum("price").cast("double").alias("amount"),
    )


@register(
    "etl_format_read_asof",
    oracle=r"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(o_orderkey % 50) AS BIGINT) AS total_qty,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders
""",
)
def etl_format_read_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL through the registered format:
    ``option("versionAsOf", 0)`` below the schema evolution must
    surface the ORIGINAL v0 schema and rows (int keys, decimal(12,2)
    prices, no ``src`` column) — the schema is resolved as of the
    requested version, Delta's ``VERSION AS OF`` contract. Oracled
    against direct v0 arithmetic over orders."""
    from python_etl_spark.sinks.table_stream import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    t = _widen_source(spark, sf_dir)
    snap = (
        spark.read.format("versioned_table")
        .option("versionAsOf", "0")
        .load(t.root)
    )
    assert "src" not in snap.columns  # pre-evolution schema surfaced
    return snap.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").cast("long").alias("total_qty"),
        F.sum("price").cast("double").alias("amount"),
    )


# the format read is held to the library read's exact oracle
_ORACLES["etl_format_read"] = _ORACLES["etl_schema_widening"]


@register(
    "etl_snapshot_drift",
    oracle=r"""
WITH v0 AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
         o_orderpriority AS priority
  FROM orders WHERE o_orderkey % 2 = 0),
cur AS (
  SELECT price, priority FROM v0
  UNION ALL
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1.2 AS DOUBLE),
         o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1),
pb AS (SELECT LEAST(19, GREATEST(0, CAST(FLOOR(price / 30000) AS INT)))
         AS b, COUNT(*) AS n FROM v0 GROUP BY 1),
qb AS (SELECT LEAST(19, GREATEST(0, CAST(FLOOR(price / 30000) AS INT)))
         AS b, COUNT(*) AS n FROM cur GROUP BY 1),
price_psi AS (
  SELECT SUM((q - p) * LN(q / p)) AS psi FROM (
    SELECT GREATEST(COALESCE(pb.n, 0) * 1.0
             / (SELECT SUM(n) FROM pb), 1e-6) AS p,
           GREATEST(COALESCE(qb.n, 0) * 1.0
             / (SELECT SUM(n) FROM qb), 1e-6) AS q
    FROM pb FULL OUTER JOIN qb ON pb.b = qb.b)),
pc AS (SELECT priority AS c, COUNT(*) AS n FROM v0 GROUP BY 1),
qc AS (SELECT priority AS c, COUNT(*) AS n FROM cur GROUP BY 1),
prio_psi AS (
  SELECT SUM((q - p) * LN(q / p)) AS psi FROM (
    SELECT GREATEST(COALESCE(pc.n, 0) * 1.0
             / (SELECT SUM(n) FROM pc), 1e-6) AS p,
           GREATEST(COALESCE(qc.n, 0) * 1.0
             / (SELECT SUM(n) FROM qc), 1e-6) AS q
    FROM pc FULL OUTER JOIN qc ON pc.c = qc.c))
SELECT 'price' AS col, ROUND(CAST(psi AS DOUBLE), 6) AS psi
FROM price_psi
UNION ALL
SELECT 'priority' AS col, ROUND(CAST(psi AS DOUBLE), 6) AS psi
FROM prio_psi
""",
)
def etl_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION DRIFT between two snapshots of a lakehouse table
    (r12): population stability index per column — the pre-training
    gate a 100 TB corpus pipeline runs before admitting a new crawl
    into the mixture (a silent upstream re-price/re-crawl shifts
    feature distributions long before row counts move). The fixture's
    v1 append re-prices its half of the rows +20%, so the price PSI
    must surface the shift while the priority PSI stays ~0 (the
    categorical mix is unchanged) — both held to a full SQL replay.

    Numeric columns bucket by FIXED integer-arithmetic bins (exact
    cross-engine, unlike quantile sketches); categorical columns use
    per-value shares; both sides clamp at 1e-6 (standard PSI
    smoothing) so an empty bucket contributes a bounded penalty, not
    infinity. One groupBy per snapshot per column; shares and the
    ``(q-p)*ln(q/p)`` fold are 20-row (or |categories|-row)
    arithmetic, rounded to 6 decimals for the hash.

    Scale posture: each PSI input is a tiny histogram — at 100 TB the
    baseline histogram would be a MATERIALIZED 20-row artifact
    (maintained like MaterializedRollup) and only the NEW snapshot
    pays a scan; the fixture computes both sides live to keep the
    oracle self-contained. Time travel supplies the baseline: the
    query literally reads ``t.read(spark, 0)`` against latest."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("drift", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_drift_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "t"))
    if not t.exists():
        t.create(
            orders.where(F.col("o_orderkey") % 2 == 0).select(
                F.col("o_totalprice")
                .cast("decimal(12,2)")
                .cast("double")
                .alias("price"),
                F.col("o_orderpriority").alias("priority"),
            )
        )
    if t.latest_version() < 1:
        t.append(
            orders.where(F.col("o_orderkey") % 2 == 1).select(
                (F.col("o_totalprice").cast("decimal(12,2)") * 1.2)
                .cast("double")
                .alias("price"),
                F.col("o_orderpriority").alias("priority"),
            )
        )
    base = t.read(spark, 0)
    cur = t.read(spark)

    def _psi(expr_name, bucket_of):
        p = (
            base.groupBy(bucket_of(base).alias("b"))
            .agg(F.count(F.lit(1)).alias("pn"))
        )
        q = (
            cur.groupBy(bucket_of(cur).alias("b"))
            .agg(F.count(F.lit(1)).alias("qn"))
        )
        joined = p.join(q, "b", "outer").select(
            F.greatest(
                F.coalesce(F.col("pn"), F.lit(0))
                / F.lit(float(base.count())),
                F.lit(1e-6),
            ).alias("p"),
            F.greatest(
                F.coalesce(F.col("qn"), F.lit(0))
                / F.lit(float(cur.count())),
                F.lit(1e-6),
            ).alias("q"),
        )
        return joined.agg(
            F.round(
                F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))),
                6,
            ).alias("psi")
        ).select(F.lit(expr_name).alias("col"), "psi")

    price_psi = _psi(
        "price",
        lambda d: F.least(
            F.lit(19),
            F.greatest(
                F.lit(0), F.floor(d["price"] / 30000).cast("int")
            ),
        ),
    )
    prio_psi = _psi("priority", lambda d: d["priority"])
    return price_psi.unionByName(prio_psi)


@register(
    "etl_point_lookup",
    oracle=r"""
SELECT md5(CAST(o_orderkey AS VARCHAR)) AS uk,
  o_orderpriority AS priority,
  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
FROM orders WHERE o_orderkey = 1 AND o_orderkey % 97 < 16
""",
)
def etl_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEEDLE LOOKUP on a uuid-shaped key (r12): the table is keyed
    by ``uk = md5(orderkey)`` — every commit dir spans the whole
    lexicographic key domain, so min-max stats prune NOTHING — and
    declared ``bloom_keys=["uk"]`` makes each commit embed a per-dir
    key bloom. ``read_pruned(eq={"uk": needle})`` probes the blooms
    with the SAME Spark xxhash64 expressions the commit path built
    the bits with (false negatives impossible by construction) and
    opens only the admitting dirs — asserted strictly fewer than the
    6-commit fixture's total, the O(1)-dirs point-read a 10k-dir
    table needs. Result held to the direct orders oracle.

    Scale posture: the probe is one 1-row Spark job + a driver-side
    bit test per dir (manifest-embedded, size-capped blooms); the
    lookup reads only admitting dirs' files."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("ptlk", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_ptlk_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    # thin to the NIGHTLY-INCREMENT shape blooms are designed for:
    # per-dir key blooms are size-capped (200k keys — beyond that the
    # FP rate would make the bits useless), so commits must be
    # bounded batches, not mega-dirs. k=1 (the needle) survives the
    # thinning at every SF/replica (1 % 97 = 1 < 16).
    base = orders.where(F.col("o_orderkey") % 97 < 16).select(
        F.md5(F.col("o_orderkey").cast("string")).alias("uk"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "t"))
    if not t.exists():
        t.create(base.where(F.col("k") % 6 == 0), bloom_keys=["uk"])
    for i in range(1, 6):
        if t.latest_version() < i:
            t.append(base.where(F.col("k") % 6 == i))
    needle = t.read(spark).where(F.col("k") == 1).first()["uk"]
    looked = t.read_pruned(spark, eq={"uk": needle})
    n_all = len(t.read(spark).inputFiles())
    n_hit = len(looked.inputFiles())
    if not n_hit < n_all:
        raise RuntimeError(
            f"bloom point-lookup ineffective: {n_hit}/{n_all} files"
        )
    return looked.select(
        "uk", "priority", F.col("price").cast("double").alias("price")
    )


@register(
    "etl_sql_update",
    oracle=r"""
WITH cur AS (
  SELECT
    CASE WHEN o_orderkey % 7 = 0 AND o_orderstatus <> 'F'
         THEN o_orderkey % 100 + 1000 ELSE o_orderkey % 100 END AS qty,
    CASE WHEN o_orderkey % 7 = 0 AND o_orderstatus <> 'F'
         THEN 'U' ELSE o_orderstatus END AS status
  FROM orders)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(qty) AS BIGINT) AS total
FROM cur GROUP BY 1
""",
)
def etl_sql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-subset UPDATE (r12, the DML verb MERGE deliberately
    refuses): ``UPDATE vt'<path>' SET qty = qty + 1000, status = 'U'
    WHERE k % 7 = 0 AND status <> 'F'`` through the SQL router onto
    ``VersionedTable.update_where`` — dir-pruned copy-on-write (only
    dirs holding a matching row rewrite; the probe materializes
    predicate columns only), SQL NULL-condition semantics (untouched
    rows byte-carried), update_preimage/postimage change feed. The
    oracle replays the CASE arithmetic over orders, so a row updated
    twice, missed, or resurrected breaks the hash.

    Scale posture: O(touched dirs) rewrite — an UPDATE touching one
    ingest day rewrites that day's dirs, never the corpus."""
    import os
    import tempfile

    from python_etl_spark import sql as vt_sql
    from python_etl_spark.sinks.table import VersionedTable

    key = ("squpd", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_squpd_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "t"))
    if not t.exists():
        t.create(
            orders.select(
                F.col("o_orderkey").cast("long").alias("k"),
                (F.col("o_orderkey") % 100).cast("long").alias("qty"),
                F.col("o_orderstatus").alias("status"),
            )
        )
    if t.latest_version() < 1:
        vt_sql(
            spark,
            f"UPDATE vt'{t.root}' SET qty = qty + 1000, status = 'U' "
            f"WHERE k % 7 = 0 AND status <> 'F'",
        )
    return vt_sql(
        spark,
        f"SELECT status, COUNT(*) AS n, SUM(qty) AS total "
        f"FROM vt'{t.root}' GROUP BY status",
    ).select(
        "status",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
    )


@register(
    "etl_sql_dml",
    oracle=r"""
WITH v0 AS (
  SELECT o_orderkey AS k, o_orderkey % 100 AS qty,
         o_orderstatus AS status
  FROM orders),
merged AS (
  SELECT k,
    CASE WHEN k % 3 = 0 THEN k % 100 + 1000 ELSE qty END AS qty,
    CASE WHEN k % 3 = 0 THEN 'U' ELSE status END AS status
  FROM v0
  UNION ALL
  SELECT o_orderkey + 4000000000, o_orderkey % 50, 'U'
  FROM orders WHERE o_orderkey % 3 = 0),
cur AS (SELECT * FROM merged WHERE status <> 'F')
SELECT 'v0' AS snap, status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(qty) AS BIGINT) AS total
FROM v0 GROUP BY 2
UNION ALL
SELECT 'cur' AS snap, status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(qty) AS BIGINT) AS total
FROM cur GROUP BY 2
""",
)
def etl_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DML surface end-to-end (r11 verdict #7,
    python_etl_spark.sql): a lakehouse table is MUTATED and read back
    entirely through SQL statements — ``MERGE INTO vt'<path>' AS t
    USING (...) AS s ON t.k = s.k`` (upsert: k%3==0 keys re-priced to
    qty+1000/status 'U', shifted twins inserted), ``DELETE FROM
    vt'<path>' WHERE status = 'F'``, then one ``SELECT`` unioning the
    CURRENT snapshot with ``VERSION AS OF 0`` time travel — so the
    router's table-literal substitution, key extraction, and DML
    routing are all on the oracle hash. Set-arithmetic oracle replays
    the merge/delete algebra over orders directly.

    Scale posture: the router only rewrites statements — the SELECT
    is a Catalyst scan of the snapshot, the MERGE routes to the
    dir-pruned library merge, DELETE to the dir-pruned delete."""
    import os
    import tempfile

    from python_etl_spark import sql as vt_sql
    from python_etl_spark.sinks.table import VersionedTable

    key = ("sqldml", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_sqldml_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "t"))
    if not t.exists():
        t.create(
            orders.select(
                F.col("o_orderkey").cast("long").alias("k"),
                (F.col("o_orderkey") % 100).cast("long").alias("qty"),
                F.col("o_orderstatus").alias("status"),
            )
        )
    orders.createOrReplaceTempView("__sqldml_orders")
    if t.latest_version() < 1:
        vt_sql(
            spark,
            f"""
            MERGE INTO vt'{t.root}' AS t
            USING (
              SELECT CAST(o_orderkey AS LONG) AS k,
                     CAST(o_orderkey % 100 + 1000 AS LONG) AS qty,
                     'U' AS status
              FROM __sqldml_orders WHERE o_orderkey % 3 = 0
              UNION ALL
              SELECT CAST(o_orderkey + 4000000000 AS LONG),
                     CAST(o_orderkey % 50 AS LONG), 'U'
              FROM __sqldml_orders WHERE o_orderkey % 3 = 0
            ) AS s
            ON t.k = s.k
            """,
        )
    if t.latest_version() < 2:
        vt_sql(spark, f"DELETE FROM vt'{t.root}' WHERE status = 'F'")
    return vt_sql(
        spark,
        f"""
        SELECT 'v0' AS snap, status, COUNT(*) AS n,
               SUM(qty) AS total
        FROM vt'{t.root}' VERSION AS OF 0 GROUP BY status
        UNION ALL
        SELECT 'cur' AS snap, status, COUNT(*) AS n,
               SUM(qty) AS total
        FROM vt'{t.root}' GROUP BY status
        """,
    ).select(
        "snap",
        "status",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
    )


@register(
    "etl_sql_merge_set",
    oracle=r"""
WITH v0 AS (
  SELECT o_orderkey AS k, o_orderkey % 100 AS qty,
         o_orderstatus AS status
  FROM orders),
src AS (
  SELECT o_orderkey AS k, o_orderkey % 37 AS delta
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey + 4000000000, o_orderkey % 37
  FROM orders WHERE o_orderkey % 10 = 0),
cur AS (
  SELECT v0.k,
    CASE WHEN s.k IS NOT NULL AND v0.status <> 'F'
         THEN v0.qty + s.delta ELSE v0.qty END AS qty,
    CASE WHEN s.k IS NOT NULL AND v0.status <> 'F'
         THEN 'M' ELSE v0.status END AS status
  FROM v0 LEFT JOIN src s ON v0.k = s.k
  UNION ALL
  SELECT s.k, s.delta, NULL
  FROM src s LEFT JOIN v0 ON v0.k = s.k WHERE v0.k IS NULL)
SELECT COALESCE(status, '_null') AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(qty) AS BIGINT) AS total
FROM cur GROUP BY 1
""",
)
def etl_sql_merge_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-subset MERGE assignments (r13): ``WHEN MATCHED AND
    t.status <> 'F' THEN UPDATE SET t.qty = t.qty + s.delta,
    t.status = 'M' WHEN NOT MATCHED THEN INSERT (k, qty) VALUES
    (s.k, s.delta)`` through the SQL router onto
    ``VersionedTable.merge(when_matched_set=...,
    when_not_matched_insert_values=...)`` — the common Delta MERGE
    spelling the full-row path refuses. The source carries ONLY
    ``(k, delta)``: unassigned target columns byte-carry on update,
    NULL-fill on insert, and a matched row whose condition misses
    stays untouched. The oracle replays the assignment algebra over
    orders with a LEFT JOIN + anti-join union, so a wrongly-assigned,
    wrongly-carried, or resurrected row breaks the hash.

    Scale posture: identical to the full-row clause merge — one
    full-outer join on the key over the TOUCHED dirs only (dir
    pruning is key-based and subset-agnostic); assignment
    expressions are Catalyst ``F.expr`` projections, zero Python."""
    import os
    import tempfile

    from python_etl_spark import sql as vt_sql
    from python_etl_spark.sinks.table import VersionedTable

    key = ("squms", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_squms_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "t"))
    if not t.exists():
        t.create(
            orders.select(
                F.col("o_orderkey").cast("long").alias("k"),
                (F.col("o_orderkey") % 100).cast("long").alias("qty"),
                F.col("o_orderstatus").alias("status"),
            )
        )
    orders.createOrReplaceTempView("__squms_orders")
    if t.latest_version() < 1:
        vt_sql(
            spark,
            f"""
            MERGE INTO vt'{t.root}' AS t
            USING (
              SELECT CAST(o_orderkey AS LONG) AS k,
                     CAST(o_orderkey % 37 AS LONG) AS delta
              FROM __squms_orders WHERE o_orderkey % 5 = 0
              UNION ALL
              SELECT CAST(o_orderkey + 4000000000 AS LONG),
                     CAST(o_orderkey % 37 AS LONG)
              FROM __squms_orders WHERE o_orderkey % 10 = 0
            ) AS s
            ON t.k = s.k
            WHEN MATCHED AND t.status <> 'F'
              THEN UPDATE SET t.qty = t.qty + s.delta, t.status = 'M'
            WHEN NOT MATCHED THEN INSERT (k, qty) VALUES (s.k, s.delta)
            """,
        )
    return vt_sql(
        spark,
        f"SELECT COALESCE(status, '_null') AS status, COUNT(*) AS n, "
        f"SUM(qty) AS total FROM vt'{t.root}' GROUP BY 1",
    ).select(
        "status",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
    )


@register(
    "etl_sql_copy_into",
    oracle=r"""
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey % 100) AS BIGINT) AS total
FROM orders GROUP BY 1
""",
)
def etl_sql_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent bulk ingestion (r13): ``COPY INTO vt'<path>' FROM
    '<stage>' FILEFORMAT = PARQUET`` — batch 1 (even keys) is staged
    and copied, the SAME statement re-runs (must load ZERO files: the
    load history publishes in the same atomic commit as the rows),
    batch 2 (odd keys) is staged and a third COPY picks up only the
    new file. The oracle is the plain orders aggregate — a
    double-loaded file doubles a group's count/sum and breaks the
    hash, a missed file drops rows.

    Scale posture: the nightly-ingest face — each run lists the stage
    (metadata), anti-joins the committed file history (manifest meta,
    never data), and scans ONLY the new files; rows land through the
    append path with constraints/stats/blooms intact."""
    import os
    import tempfile

    from python_etl_spark import sql as vt_sql
    from python_etl_spark.sinks.table import VersionedTable

    key = ("sqcpy", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_sqcpy_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        (F.col("o_orderkey") % 100).cast("long").alias("qty"),
        F.col("o_orderstatus").alias("status"),
    )
    t = VersionedTable(os.path.join(root, "t"))
    stage = os.path.join(root, "stage")
    if not t.exists():
        t.create(orders.limit(0))
    if (t.latest_version() or 0) < 1:
        orders.where(F.col("k") % 2 == 0).coalesce(2).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "b1"))
        stmt = (
            f"COPY INTO vt'{t.root}' FROM '{stage}' FILEFORMAT = PARQUET"
        )
        vt_sql(spark, stmt)
        rerun = vt_sql(spark, stmt).first()  # idempotence ON the hash
        if rerun["files_loaded"] != "0":
            raise RuntimeError(
                f"COPY INTO re-run loaded {rerun['files_loaded']} files"
            )
    if (t.latest_version() or 0) < 2:
        orders.where(F.col("k") % 2 == 1).coalesce(2).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "b2"))
        vt_sql(
            spark,
            f"COPY INTO vt'{t.root}' FROM '{stage}' FILEFORMAT = PARQUET",
        )
    return vt_sql(
        spark,
        f"SELECT status, COUNT(*) AS n, SUM(qty) AS total "
        f"FROM vt'{t.root}' GROUP BY status",
    ).select(
        "status",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
    )


@register(
    "etl_sql_copy_evolve",
    oracle=r"""
SELECT '_none' AS tag, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey % 100) AS BIGINT) AS total,
       CAST(SUM(o_orderkey) AS BIGINT) AS ksum
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT),
       CAST(SUM(o_orderkey % 100) AS BIGINT),
       CAST(SUM(o_orderkey + 4000000000) AS BIGINT)
FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1
""",
)
def etl_sql_copy_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO with PATTERN + schema evolution (r14, r13 verdict
    #5): BOTH stage batches exist up front — batch 1 (even keys,
    ``k int, qty``) under ``b1/``, batch 2 (odd keys, WIDENED ``k
    long`` with values past int range, plus a NEW ``tag`` column)
    under ``b2/``. The first ``COPY INTO ... PATTERN = 'b1/*'`` must
    load ONLY batch 1 — if PATTERN were ignored, the widened batch 2
    would hit the schema-strict refusal. The second COPY takes
    ``PATTERN = 'b2/*' COPY_OPTIONS ('mergeSchema' = 'true')`` and
    EVOLVES the table (k widens int->long, tag joins the schema,
    batch-1 rows surface it as NULL); its re-run must load zero files
    (load-history idempotence is PATTERN-independent). The oracle
    replays both batches over orders — a dropped widened value, a
    double-load, a mis-NULLed tag, or a pattern leak all break the
    hash.

    Scale posture: identical to etl_sql_copy_into (list stage, anti-
    join manifest-meta history, scan only new files) — PATTERN is a
    driver-side filter over the listing (O(#stage files)), and
    evolution is the append path's metadata-only schema record."""
    import os
    import tempfile

    from python_etl_spark import sql as vt_sql
    from python_etl_spark.sinks.table import VersionedTable

    key = ("sqcev", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_sqcev_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "t"))
    stage = os.path.join(root, "stage")
    if not t.exists():
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            F.col("o_orderkey").cast("int").alias("k"),
            (F.col("o_orderkey") % 100).cast("long").alias("qty"),
        ).coalesce(2).write.mode("overwrite").parquet(
            os.path.join(stage, "b1")
        )
        orders.where(F.col("o_orderkey") % 2 == 1).select(
            (F.col("o_orderkey") + F.lit(4_000_000_000))
            .cast("long").alias("k"),
            (F.col("o_orderkey") % 100).cast("long").alias("qty"),
            F.col("o_orderstatus").alias("tag"),
        ).coalesce(2).write.mode("overwrite").parquet(
            os.path.join(stage, "b2")
        )
        t.create(
            spark.createDataFrame([], "k int, qty long")
        )
    if (t.latest_version() or 0) < 1:
        vt_sql(
            spark,
            f"COPY INTO vt'{t.root}' FROM '{stage}' FILEFORMAT = "
            f"PARQUET PATTERN = 'b1/*.parquet'",
        )
    if (t.latest_version() or 0) < 2:
        stmt2 = (
            f"COPY INTO vt'{t.root}' FROM '{stage}' FILEFORMAT = "
            f"PARQUET PATTERN = 'b2/*.parquet' "
            f"COPY_OPTIONS ('mergeSchema' = 'true')"
        )
        vt_sql(spark, stmt2)
        rerun = vt_sql(spark, stmt2).first()
        if rerun["files_loaded"] != "0":
            raise RuntimeError(
                f"evolved COPY INTO re-run loaded "
                f"{rerun['files_loaded']} files"
            )
    return vt_sql(
        spark,
        f"SELECT COALESCE(tag, '_none') AS tag, COUNT(*) AS n, "
        f"SUM(qty) AS total, SUM(k) AS ksum "
        f"FROM vt'{t.root}' GROUP BY 1",
    ).select(
        "tag",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
        F.col("ksum").cast("long").alias("ksum"),
    )


@register(
    "etl_sql_txn",
    oracle=r"""
WITH t1 AS (
  SELECT o_orderkey AS k,
         o_orderkey % 100
         + CASE WHEN o_orderkey % 10 = 0 THEN 7 ELSE 0 END AS qty
  FROM orders WHERE o_orderkey % 2 = 0),
t2 AS (
  SELECT o_orderkey AS k, o_orderstatus AS status
  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderstatus <> 'F')
SELECT 't1' AS src, '_' AS status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(qty) AS BIGINT) AS total
FROM t1
UNION ALL
SELECT 't2', status, CAST(COUNT(*) AS BIGINT),
       CAST(SUM(k % 100) AS BIGINT)
FROM t2 GROUP BY 2
""",
)
def etl_sql_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table transaction through the SQL script face (r14, r13
    verdict #4): one ``BEGIN ... COMMIT`` loads TWO tables and then
    mutates them — the UPDATE and DELETE statements read the SAME
    transaction's still-PREPARED inserts (read-your-writes), nothing
    is visible to other sessions until COMMIT's atomic
    coordinator-record publish, and the prepared manifests finalize
    lazily on first read. The readback aggregate of both tables sits
    on the oracle hash, so a lost statement, a partial commit, or a
    prepared version leaking into the snapshot all break it.
    Crash/rollback/fencing semantics are pytest-pinned
    (tests/test_table.py transaction section).

    Scale posture: PREPARE writes each statement's data exactly once
    (same dir layout as a plain commit — only the manifest name
    differs); COMMIT is one tiny coordinator-record create plus one
    O(1) rename per table at next read; no data is rewritten at the
    commit point."""
    import os
    import tempfile

    from python_etl_spark.sql import sql_script
    from python_etl_spark.sinks.table import VersionedTable

    key = ("sqtxn", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_sqtxn_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t1 = VersionedTable(os.path.join(root, "t1"))
    t2 = VersionedTable(os.path.join(root, "t2"))
    if not t1.exists():
        t1.create(spark.createDataFrame([], "k long, qty long"))
    if not t2.exists():
        t2.create(spark.createDataFrame([], "k long, status string"))
    orders.createOrReplaceTempView("__sqtxn_orders")
    if (t1.latest_version() or 0) < 2:
        sql_script(
            spark,
            f"""
            BEGIN;
            INSERT INTO vt'{t1.root}'
              SELECT CAST(o_orderkey AS LONG),
                     CAST(o_orderkey % 100 AS LONG)
              FROM __sqtxn_orders WHERE o_orderkey % 2 = 0;
            INSERT INTO vt'{t2.root}'
              SELECT CAST(o_orderkey AS LONG), o_orderstatus
              FROM __sqtxn_orders WHERE o_orderkey % 2 = 1;
            UPDATE vt'{t1.root}' SET qty = qty + 7 WHERE k % 10 = 0;
            DELETE FROM vt'{t2.root}' WHERE status = 'F';
            COMMIT
            """,
        )
    from python_etl_spark.sql import sql as vt_sql

    return vt_sql(
        spark,
        f"""
        SELECT 't1' AS src, '_' AS status, COUNT(*) AS n,
               SUM(qty) AS total
        FROM vt'{t1.root}'
        UNION ALL
        SELECT 't2', status, COUNT(*), SUM(k % 100)
        FROM vt'{t2.root}' GROUP BY status
        """,
    ).select(
        "src",
        "status",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
    )


@register(
    "etl_identity_ids",
    oracle=r"""
WITH n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n2
  FROM orders)
SELECT 'create' AS commit, n1 AS n_rows,
       CAST(100 AS BIGINT) AS min_id,
       100 + 10 * (n1 - 1) AS max_id,
       CAST(n1 * 100 + 10 * (n1 * (n1 - 1) // 2) AS BIGINT) AS sum_id
FROM n
UNION ALL
SELECT 'append', n2,
       100 + 10 * n1,
       100 + 10 * (n1 + n2 - 1),
       CAST(n2 * 100 + 10 * ((n1 + n2) * (n1 + n2 - 1) // 2
                             - n1 * (n1 - 1) // 2) AS BIGINT)
FROM n
""",
)
def etl_identity_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTITY column arithmetic (r13): a table created from orders
    with ``id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100
    INCREMENT BY 10)`` and one appended batch. WHICH row gets WHICH id
    depends on partition layout (assignment is partition-parallel),
    but the id SET per commit is exactly determined — contiguous from
    the committed high-water mark — so per-commit count/min/max/sum
    of ids are all on the oracle hash: a gap, duplicate, or
    high-water drift breaks it.

    Scale posture: assignment is one O(#partitions) count agg + a
    literal offsets lookup over a checkpointed frame — zero row
    shuffles, zero Python; the high-water walk is metadata-only."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("ident", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_ident_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
    )
    t = VersionedTable(os.path.join(root, "t"))
    if not t.exists():
        t.create(
            orders, identity={"id": {"start": 100, "step": 10}}
        )
    if t.latest_version() < 1:
        t.append(orders.where(F.col("k") % 3 == 0))
    n1 = orders.count()
    boundary = 100 + 10 * (n1 - 1)
    return (
        t.read(spark)
        .withColumn(
            "commit",
            F.when(F.col("id") <= boundary, "create").otherwise("append"),
        )
        .groupBy("commit")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("id").alias("sum_id"),
        )
        .select(
            "commit",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("min_id").cast("long").alias("min_id"),
            F.col("max_id").cast("long").alias("max_id"),
            F.col("sum_id").cast("long").alias("sum_id"),
        )
    )


@register(
    "etl_identity_by_default",
    oracle=r"""
WITH n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(MIN(o_orderkey) AS BIGINT) AS mn,
         CAST(MAX(o_orderkey) AS BIGINT) AS mk,
         CAST(SUM(o_orderkey) AS BIGINT) AS sk,
         CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n5,
         CAST(SUM(CASE WHEN o_orderkey % 5 = 0 THEN o_orderkey
                       ELSE 0 END) AS BIGINT) AS sk5,
         CAST(MIN(CASE WHEN o_orderkey % 5 = 0 THEN o_orderkey
                       END) AS BIGINT) AS mn5,
         CAST(MAX(CASE WHEN o_orderkey % 5 = 0 THEN o_orderkey
                       END) AS BIGINT) AS mk5
  FROM orders)
SELECT 'explicit_create' AS commit, n1 AS n_rows,
       1000000 + 10 * mn AS min_id,
       1000000 + 10 * mk AS max_id,
       n1 * 1000000 + 10 * sk AS sum_id
FROM n
UNION ALL
SELECT 'auto_append', n3,
       1000000 + 10 * mk + 10,
       1000000 + 10 * mk + 10 * n3,
       n3 * (1000000 + 10 * mk) + 10 * (n3 * (n3 + 1) // 2)
FROM n
UNION ALL
SELECT 'explicit_below_water', n5,
       1000009 + 10 * mn5,
       1000009 + 10 * mk5,
       n5 * 1000009 + 10 * sk5
FROM n
""",
)
def etl_identity_by_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GENERATED BY DEFAULT AS IDENTITY`` (r14, r13 verdict #7) —
    the other half of the Delta identity surface, three commits:

    1. **explicit create** — the create frame SUPPLIES every id
       (``1000000 + 10*o_orderkey``; unique, ≡0 mod 10), allowed
       only because the column is BY DEFAULT; the high-water syncs
       to the batch max.
    2. **auto append** — the ``k % 3 == 0`` rows WITHOUT the column:
       assignment resumes ABOVE the synced mark (contiguous step-10
       ids), proving explicit ids moved the mark.
    3. **explicit below-water append** — the ``k % 5 == 0`` rows
       with ids ``1000009 + 10*o_orderkey`` (≡9 mod 10): every id
       sits BELOW the high-water, so the collision probe runs — and
       passes, because no existing id is ≡9 mod 10. A duplicate
       would refuse; a skipped probe that let one through, a
       mis-synced mark, or an id minted into the explicit range all
       break the per-commit count/min/max/sum oracle.

    Scale posture: explicit acceptance is ONE batch agg; the
    below-water probe reads only the id column (parquet column
    pruning) semi-joined against the batch's below-water distinct
    ids; auto assignment is the O(#partitions) offsets join. Zero
    row shuffles beyond the probe's one equijoin."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("identd", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_identd_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
    )
    t = VersionedTable(os.path.join(root, "t"))
    if not t.exists():
        t.create(
            orders.withColumn(
                "id", (F.lit(1_000_000) + F.col("k") * 10).cast("long")
            ),
            identity={
                "id": {"start": 100, "step": 10, "mode": "default"}
            },
        )
    if t.latest_version() < 1:
        t.append(orders.where(F.col("k") % 3 == 0))
    if t.latest_version() < 2:
        t.append(
            orders.where(F.col("k") % 5 == 0).withColumn(
                "id",
                (F.lit(1_000_009) + F.col("k") * 10).cast("long"),
            )
        )
    hw0 = 1_000_000 + 10 * orders.agg(F.max("k")).first()[0]
    return (
        t.read(spark)
        .withColumn(
            "commit",
            F.when(F.col("id") % 10 == 9, "explicit_below_water")
            .when(F.col("id") <= hw0, "explicit_create")
            .otherwise("auto_append"),
        )
        .groupBy("commit")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("id").alias("sum_id"),
        )
        .select(
            "commit",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("min_id").cast("long").alias("min_id"),
            F.col("max_id").cast("long").alias("max_id"),
            F.col("sum_id").cast("long").alias("sum_id"),
        )
    )


# ------------------------- MERGE-path schema evolution -------------------------
#
# Round 11: the r10 verdict's #2 — merge() used to silently DROP any
# updates column the snapshot lacked. Now it raises by default and,
# with allow_evolution=True, evolves the snapshot schema exactly like
# the append path (additive columns + type widening, manifest-recorded
# widened schema, change feed written in the evolved schema). These
# two queries certify the final state AND the typed feed of one
# evolving MERGE against set-logic oracles.


def _mevolve_source(spark: SparkSession, sf_dir: str):
    """v0 create (int k, int qty, decimal(12,2) price); v1 MERGE with
    allow_evolution=True whose updates batch WIDENS every column
    (long/long/decimal(18,2)), adds a NEW column ``src``, updates the
    k %% 4 == 0 keys and inserts shifted new keys (offset 4e9 — above
    any replica's key range). Re-entrant like _cdf_source."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("mevolve", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_mevolve_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(
            orders.select(
                F.col("o_orderkey").cast("int").alias("k"),
                (F.col("o_orderkey") % 50).cast("int").alias("qty"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            )
        )
    if t.latest_version() < 1:
        evolved = [
            (F.lit(3000000000) + F.col("o_orderkey") % 7)
            .cast("long")
            .alias("qty"),
            (F.col("o_totalprice") + 0.5)
            .cast("decimal(18,2)")
            .alias("price"),
            F.lit("m1").alias("src"),
        ]
        upd = orders.where(F.col("o_orderkey") % 4 == 0).select(
            F.col("o_orderkey").cast("long").alias("k"), *evolved
        )
        ins = orders.where(F.col("o_orderkey") % 4 == 1).select(
            (F.col("o_orderkey") + F.lit(4000000000))
            .cast("long")
            .alias("k"),
            *evolved,
        )
        t.merge(upd.unionByName(ins), keys=["k"], allow_evolution=True)
    return t


@register(
    "etl_merge_evolve",
    oracle=r"""
WITH src AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
merged AS (
  SELECT CASE WHEN k % 4 = 0 THEN 'm1' ELSE 'base' END AS tag,
         CASE WHEN k % 4 = 0 THEN 3000000000 + k % 7
              ELSE k % 50 END AS qty,
         CASE WHEN k % 4 = 0 THEN CAST(p + 0.5 AS DECIMAL(18,2))
              ELSE CAST(CAST(p AS DECIMAL(12,2)) AS DECIMAL(18,2))
              END AS price
  FROM src
  UNION ALL
  SELECT 'm1', 3000000000 + k % 7, CAST(p + 0.5 AS DECIMAL(18,2))
  FROM src WHERE k % 4 = 1
)
SELECT tag AS src, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(qty) AS BIGINT) AS total_qty,
  CAST(SUM(price) AS DOUBLE) AS amount
FROM merged GROUP BY 1
""",
)
def etl_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-EVOLVING MERGE certified end-to-end: one merge commit
    widens int->long and decimal(12,2)->(18,2), adds a new ``src``
    column, updates a quarter of the keys and inserts shifted new
    ones — the snapshot read only matches the oracle if untouched-dir
    rows conform by cast AND null-fill the new column while
    updated/inserted rows carry the evolved values (the silent-drop
    regression this replaces would zero out the 'm1' group).

    Scale posture: identical to etl_merge_clauses — dir-pruned CoW
    (the updates' key range bounds the touched dirs), one full-outer
    join on the key, untouched dirs carried by reference; the
    evolution itself is metadata + a per-dir cast projection, nothing
    rewrites beyond the merge's own touched set."""
    t = _mevolve_source(spark, sf_dir)
    return t.read(spark).groupBy(
        F.coalesce(F.col("src"), F.lit("base")).alias("src")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").cast("long").alias("total_qty"),
        F.sum("price").cast("double").alias("amount"),
    )


@register(
    "etl_merge_evolve_feed",
    oracle=r"""
WITH src AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
ch AS (
  SELECT 'update_preimage' AS change_type, 'base' AS src,
         CAST(k % 50 AS BIGINT) AS qty,
         CAST(CAST(p AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS price
  FROM src WHERE k % 4 = 0
  UNION ALL
  SELECT 'update_postimage', 'm1', 3000000000 + k % 7,
         CAST(p + 0.5 AS DECIMAL(18,2))
  FROM src WHERE k % 4 = 0
  UNION ALL
  SELECT 'insert', 'm1', 3000000000 + k % 7,
         CAST(p + 0.5 AS DECIMAL(18,2))
  FROM src WHERE k % 4 = 1
)
SELECT change_type, src, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(qty) AS BIGINT) AS total_qty,
  CAST(SUM(price) AS DOUBLE) AS amount
FROM ch GROUP BY 1, 2
""",
)
def etl_merge_evolve_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evolving MERGE's change feed, written in the EVOLVED
    schema and hash-checked: pre-images carry the conformed old
    values (cast-widened, NULL src), post-images and inserts carry
    the evolved values — a feed left in the pre-evolution schema (or
    pre-images picking up post values) breaks the per-type sums.

    Scale posture: the feed reads only the commit's cdf files; the
    aggregate is change-type x src cardinality."""
    t = _mevolve_source(spark, sf_dir)
    feed = t.row_changes(spark, 0, 1)
    return feed.groupBy(
        F.col("_change_type").alias("change_type"),
        F.coalesce(F.col("src"), F.lit("base")).alias("src"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qty").cast("long").alias("total_qty"),
        F.sum("price").cast("double").alias("amount"),
    )


def _mor_keyed_source(spark: SparkSession, sf_dir: str):
    """_mor_source's twin with KEY-COLUMN deletion vectors
    (key_cols=['o_orderkey']): same v0 create / v1 MOR delete / v2
    re-insert shape, but the tombstone sidecar stores only the key —
    the wide-row DV economy. Final state is value-identical to
    _mor_source's, so the query shares etl_mor_delete's oracle
    verbatim."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("mork", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_mork_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(orders.where(F.col("o_orderkey") % 3 != 2))
    if t.latest_version() < 1:
        t.delete_where(
            F.col("o_orderkey") % 7 == 0,
            merge_on_read=True,
            key_cols=["o_orderkey"],
        )
    if t.latest_version() < 2:
        t.append(
            orders.where(
                (F.col("o_orderkey") % 3 != 2)
                & (F.col("o_orderkey") % 7 == 0)
                & (F.col("o_orderkey") % 11 == 0)
            )
        )
    return t


@register("etl_mor_delete_keyed", oracle=None)
def etl_mor_delete_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE with KEY-COLUMN tombstones (r10 verdict
    #7): the sidecar stores only o_orderkey (pytest-asserted schema),
    so the read-side anti-join shuffles a 1-column frame instead of
    the full row width — the wide-table DV economy. Held to
    etl_mor_delete's EXACT oracle (set below): same delete + re-insert
    semantics, same per-priority counts and decimal sums; a keyed
    tombstone that over-deletes (non-identifying key) or misses the
    dir scoping breaks the hash while the full-row twin stays green.

    Scale posture: identical to etl_mor_delete except the anti-join's
    build side is keys-only — the shape that matters when rows are
    KB-wide documents rather than order headers."""
    t = _mor_keyed_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


# same final-state truth as the full-row-tombstone path
_ORACLES["etl_mor_delete_keyed"] = _ORACLES["etl_mor_delete"]


def _rename_source(spark: SparkSession, sf_dir: str):
    """v0 create (even keys, column ``v``); v1 METADATA-ONLY rename
    v -> price (zero files rewritten); v2 append the odd keys under
    the NEW name. Half the table's files carry the old physical name,
    half the new — only the manifest name-mapping makes them one
    column. Re-entrant like _cdf_source."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("rename", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_rename_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(
            orders.where(F.col("o_orderkey") % 2 == 0).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("v"),
            )
        )
    if t.latest_version() < 1:
        t.rename_column("v", "price")
    if t.latest_version() < 2:
        t.append(
            orders.where(F.col("o_orderkey") % 2 == 1).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            )
        )
    return t


@register(
    "etl_rename_evolution",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders GROUP BY 1
""",
)
def etl_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column RENAME as metadata-only evolution, certified end-to-end
    (r10 verdict #3): the snapshot unions dirs written under the OLD
    physical name with dirs written under the new one, and only the
    manifest name-mapping (the Iceberg field-id idea) surfaces them as
    one ``price`` column — a broken conform either loses the
    pre-rename half (count drops) or nulls its values (sum drops)
    against the whole-orders oracle.

    Scale posture: the rename commit is O(1) metadata (zero files
    touched on a 100 TB table); the read-side conform is a per-dir
    column alias, no shuffle, and carried dir stats are re-keyed so
    min-max pruning keeps working across the rename."""
    t = _rename_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


def _bloom_merge_source(spark: SparkSession, sf_dir: str):
    """v0 create with bloom_keys on an md5-shaped key (min-max stats
    are USELESS on it — every dir spans the whole hash range), v1
    append, v2 keyed MERGE (updates + inserts). The merge's touched-dir
    discovery exercises the bloom pass end-to-end. Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("bloomm", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_bloomm_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        F.md5(F.col("o_orderkey").cast("string")).alias("k"),
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(orders.where(F.col("id") % 3 == 0), bloom_keys=["k"])
    if t.latest_version() < 1:
        t.append(orders.where(F.col("id") % 3 == 1))
    if t.latest_version() < 2:
        t.merge(
            orders.where(F.col("id") % 5 == 0).withColumn(
                "price", (F.col("price") + 100).cast("decimal(28,6)")
            ),
            keys=["k"],
        )
    return t


@register(
    "etl_merge_bloom_pruned",
    oracle=r"""
WITH src AS (
  SELECT o_orderkey AS id, o_orderpriority AS priority,
    CAST(o_totalprice AS DECIMAL(28,6)) AS price FROM orders),
final AS (
  SELECT priority,
    CASE WHEN id % 5 = 0 THEN price + 100 ELSE price END AS price
  FROM src WHERE id % 3 <> 2
  UNION ALL
  SELECT priority, price + 100 FROM src WHERE id % 3 = 2 AND id % 5 = 0
)
SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(price) AS DOUBLE) AS amount
FROM final GROUP BY 1
""",
)
def etl_merge_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE on md5-shaped keys through the per-dir BLOOM prune
    (r10 verdict #4), certified by final state: updates must override
    exactly the matched hash keys and inserts land once — a bloom false
    NEGATIVE (a matched key's dir pruned away) would duplicate its key
    (the untouched dir keeps the old row while the insert path adds a
    new one), shifting counts and the decimal sum against the set-logic
    oracle; false positives only cost a key scan (the exact semi-join
    stays authoritative).

    Scale posture: the nightly-upsert shape on a hash-keyed 100 TB
    table — min-max stats cannot prune, so without blooms every merge
    key-scans the corpus; with them it scans only admitting dirs
    (pytest pins the dir list). Bloom build is one job over the new
    dir's key column per commit; probes are a capped driver-side bit
    test."""
    t = _bloom_merge_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


def _fileskip_source(spark: SparkSession, sf_dir: str):
    """One commit dir holding lineitem CLUSTERED on l_orderkey into 8
    range-partitioned, sorted files — each file's footer covers a
    tight key range, so the manifest's per-file stats can prune inside
    the dir. Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("fskip", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_fskip_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        li = _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("k"),
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("qty"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        )
        t.create(
            li.repartitionByRange(8, "k").sortWithinPartitions("k")
        )
    return t


@register(
    "etl_read_pruned_files",
    oracle=r"""
SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
GROUP BY 1
""",
)
def etl_read_pruned_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range read through PER-FILE skipping stats (r10 verdict #5):
    the table is one commit dir of 8 key-clustered files, and
    read_pruned opens only the files whose footer [min, max] intersect
    the key range (a strict inputFiles subset, pytest-pinned) — the
    residual predicate keeps results exactly equal to the oracle's
    plain WHERE, so a prune that drops a file it shouldn't (or keeps
    rows outside the range) breaks the hash.

    Scale posture: the Delta add-file shape — on a 100 TB clustered
    table the manifest prune eliminates files BEFORE any Spark job
    plans, so a narrow range query schedules tasks for a handful of
    files instead of listing the corpus; degrade path (no file stats)
    is the dir-level scan, never a wrong answer."""
    t = _fileskip_source(spark, sf_dir)
    return (
        t.read_pruned(spark, "k", lo=1000, hi=3000)
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty").alias("total_qty"),
            F.sum("price").cast("double").alias("amount"),
        )
    )


def _optimize_source(spark: SparkSession, sf_dir: str):
    """A table driven through the pressures optimize() plans for:
    v0 create (even keys), three small appends (odd keys in slices),
    a MOR delete (k %% 7 == 0), then ONE optimize() call that
    materializes the DVs and bin-packs the small dirs. Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("optim", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_optim_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(orders.where(F.col("k") % 2 == 0))
    for i, r in enumerate((1, 3, 5), start=1):
        if t.latest_version() < i:
            t.append(orders.where(F.col("k") % 6 == r))
    if t.latest_version() < 4:
        t.delete_where(F.col("k") % 7 == 0, merge_on_read=True)
    if t.latest_version() < 5:
        # one planner call: materialize_dvs fires (tombstones present),
        # then compact_bins packs the small append dirs
        t.optimize(
            spark, small_bytes=1 << 26, max_dirs=64, dv_ratio=0.01
        )
    return t


@register(
    "etl_optimize_table",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS amount
FROM orders WHERE o_orderkey % 7 <> 0
GROUP BY 1
""",
)
def etl_optimize_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimize() maintenance planner certified ROW-PRESERVING
    end-to-end (r10 verdict #6): after append-heavy and delete-heavy
    phases, one planner call materializes the deletion vectors and
    bin-packs the small commit dirs — the post-maintenance snapshot
    must equal the logical content exactly (per-priority counts and
    decimal sums of all orders minus the deleted keys); a planner
    action that loses or resurrects rows breaks the hash.

    Scale posture: the planner's decision pass is metadata-only
    (manifest read + os.walks, no Spark job on a healthy table);
    each fixing action touches only the dirs its pressure names —
    DV'd dirs for materialization, small dirs for bin-packing —
    never the corpus."""
    t = _optimize_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


def _drop_source(spark: SparkSession, sf_dir: str):
    """v0 create (even keys + a scratch column), v1 METADATA-ONLY
    drop of the scratch column, v2 append of the odd keys WITHOUT it —
    the v2 append only passes the (strict, no-evolution) drift guard
    because the drop really took effect, so the final state certifies
    the whole chain. Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("dropc", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_dropc_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(
            orders.where(F.col("o_orderkey") % 2 == 0).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
                F.lit("staging-junk").alias("scratch"),
            )
        )
    if t.latest_version() < 1:
        t.drop_column("scratch")
    if t.latest_version() < 2:
        t.append(
            orders.where(F.col("o_orderkey") % 2 == 1).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            )
        )
    return t


@register(
    "etl_drop_evolution",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders GROUP BY 1
""",
)
def etl_drop_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DROP as metadata-only evolution, certified end-to-end
    (rename's sibling, r10 verdict #3): the pre-drop files still hold
    the dropped column's bytes, the post-drop append carries a
    narrower schema, and only the manifest retirement makes them one
    table — a broken projection either fails the union or fails the
    v2 append's drift guard, and a miscounted read breaks the
    whole-orders hash. The dropped NAME is retired (re-adding would
    resurrect old values from never-rewritten files — pytest-pinned).

    Scale posture: the drop commit is O(1) metadata on a 100 TB
    table; the read-side projection is free (Catalyst column pruning
    already skips unread columns); nothing rewrites."""
    t = _drop_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


def _constraints_source(spark: SparkSession, sf_dir: str):
    """Constraint lifecycle fixture: v0 create with two CHECK
    constraints, a violating append REFUSED (table must stay
    unchanged — silent acceptance inflates the count and breaks the
    hash), v1 valid append, v2 add_constraint (validated against the
    live snapshot), a violating merge REFUSED, v3 valid merge insert.
    Re-entrant across driver/oracle replays."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import (
        ConstraintViolationError,
        VersionedTable,
    )

    key = ("cons", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_cons_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(
            base.where(F.col("k") % 3 == 0),
            constraints={
                "pos_price": "price > 0",
                "has_priority": "priority IS NOT NULL",
            },
        )
    if t.latest_version() < 1:
        # enforcement certified IN the query: a violating batch must
        # be refused with the table unchanged
        try:
            t.append(
                base.where(F.col("k") % 3 == 1).withColumn(
                    "price", F.lit(-1).cast("decimal(12,2)")
                )
            )
            raise RuntimeError(
                "constraint enforcement failed: violating append landed"
            )
        except ConstraintViolationError:
            pass
        t.append(base.where(F.col("k") % 3 == 1))
    if t.latest_version() < 2:
        t.add_constraint("k_nonneg", "k >= 0")
    if t.latest_version() < 3:
        try:
            t.merge(
                base.where(F.col("k") % 3 == 2).withColumn(
                    "k", -F.col("k")
                ),
                keys=["k"],
            )
            raise RuntimeError(
                "constraint enforcement failed: violating merge landed"
            )
        except ConstraintViolationError:
            pass
        t.merge(base.where(F.col("k") % 3 == 2), keys=["k"])
    return t


@register(
    "etl_constraints",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders GROUP BY 1
""",
)
def etl_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints on VersionedTable certified end-to-end: two
    constraints declared at create, one added later as a metadata-only
    commit (snapshot-validated first), a violating append AND a
    violating merge each refused pre-publish with the table unchanged
    — if enforcement silently passed, the refused rows would land and
    break the whole-orders hash; if it over-rejected, the valid
    batches would be missing and break it the other way.

    Scale posture: enforcement is ONE extra codegen scan of the batch
    being written (all constraints checked in a single action, Delta's
    invariant shape) — never a scan of the table; add_constraint
    validates the snapshot once at declaration time."""
    t = _constraints_source(spark, sf_dir)
    assert sorted(t.constraints()) == [
        "has_priority", "k_nonneg", "pos_price",
    ]
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


def _zorder_source(spark: SparkSession, sf_dir: str):
    """Z-order fixture: orders keyed by (k=orderkey, c=custkey),
    created row-ordered in 4 files (custkey ranges full-domain in
    every file), then optimize(cluster_by=[k, c]) rewrites Z-ordered.
    Re-entrant: the provenance skip makes the second optimize a
    no-op."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("zord", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_zord_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(
            orders.select(
                F.col("o_orderkey").alias("k"),
                F.col("o_custkey").alias("c"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            ).repartition(4)
        )
    if t.latest_version() < 1:
        acts = t.optimize(
            spark, small_bytes=1, max_dirs=64, cluster_by=["k", "c"]
        )
        if [a["action"] for a in acts] != ["compact_zorder"]:
            raise RuntimeError(
                f"expected one compact_zorder action, got {acts}"
            )
    return t


@register(
    "etl_optimize_zorder",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders WHERE o_custkey BETWEEN 100 AND 300
GROUP BY 1
""",
)
def etl_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered compaction driven by the optimize() planner,
    certified end-to-end: the planner reads per-file footer ranges
    (metadata-only), sees every file spanning the full custkey domain,
    and rewrites on the interleaved quantile-bucket code of
    (orderkey, custkey); the query then answers a custkey range via
    read_pruned over the SECOND dimension — file-skipping that a
    lexicographic sort cannot give — and re-filters exactly, so a
    pruning false-negative (lost rows) breaks the hash against the
    whole-orders oracle.

    Scale posture: the rewrite is ONE shuffle (range-partition on the
    code); the trigger and the pruning are manifest/footer metadata
    only; clustering provenance in the commit meta stops the nightly
    planner from re-clustering an unchanged snapshot."""
    t = _zorder_source(spark, sf_dir)
    pruned = t.read_pruned(spark, "c", lo=100, hi=300)
    n_all = len(t.read(spark).inputFiles())
    n_pruned = len(pruned.inputFiles())
    if not n_pruned < n_all:
        raise RuntimeError(
            f"z-order pruning ineffective: {n_pruned}/{n_all} files"
        )
    return (
        pruned.where(F.col("c").between(100, 300))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast("double").alias("amount"),
        )
    )


def _zorder_str_source(spark: SparkSession, sf_dir: str):
    """String-cluster-key fixture (r11 verdict #3): orders keyed by
    (host string = 'h' + zero-padded custkey%500, k=orderkey), the
    web-corpus shape (tables cluster by host/url). cluster_keys are
    DECLARED AT CREATE — r12's create-time validation accepts the
    string key — and a BARE optimize() (no schema knowledge) Z-orders
    on them via sampled lexicographic boundaries. Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("zords", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_zords_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(
            orders.select(
                F.concat(
                    F.lit("h"),
                    F.lpad((F.col("o_custkey") % 500).cast("string"), 4, "0"),
                ).alias("host"),
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            ).repartition(4),
            cluster_keys=["host", "k"],
        )
    if t.latest_version() < 1:
        acts = t.optimize(spark, small_bytes=1, max_dirs=64)
        if [a["action"] for a in acts] != ["compact_zorder"]:
            raise RuntimeError(
                f"expected one compact_zorder action, got {acts}"
            )
    return t


@register(
    "etl_optimize_zorder_str",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders WHERE o_custkey % 500 BETWEEN 0 AND 63
GROUP BY 1
""",
)
def etl_optimize_zorder_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER on a STRING cluster key (r11 verdict #3), certified
    end-to-end: cluster_keys=("host", k) declared at create (string
    keys legal since r12 — rank-bucketed via sampled lexicographic
    boundaries, so buckets are LEXICOGRAPHIC ranges and per-file
    min/max stats on host stay tight), a BARE nightly optimize()
    Z-orders on the declared keys, and the query answers a host-RANGE
    predicate via read_pruned on the string dimension — measured
    file-skipping asserted, then exact re-filtering held to the
    whole-orders oracle (a pruning false-negative breaks the hash).

    Scale posture: boundary sampling is one distributed top-K over
    DISTINCT hosts (only ~8k strings reach the driver); the rewrite
    is the same single range-partition shuffle as the numeric path;
    trigger + pruning are manifest/footer metadata only."""
    t = _zorder_str_source(spark, sf_dir)
    pruned = t.read_pruned(spark, "host", lo="h0000", hi="h0063")
    n_all = len(t.read(spark).inputFiles())
    n_pruned = len(pruned.inputFiles())
    if not n_pruned < n_all:
        raise RuntimeError(
            f"string z-order pruning ineffective: {n_pruned}/{n_all}"
        )
    return (
        pruned.where(F.col("host").between("h0000", "h0063"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast("double").alias("amount"),
        )
    )


def _clone_source(spark: SparkSession, sf_dir: str):
    """Shallow-clone fixture: source = even orderkeys, clone it
    (zero-copy), append the odd orderkeys ONLY to the clone — the
    clone must see all orders while the source still holds exactly
    the evens (divergence both asserted here and hash-certified by
    the oracle). Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("clone", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_clone_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    src = VersionedTable(os.path.join(root, "source"))
    if not src.exists():
        src.create(base.where(F.col("k") % 2 == 0))
    cl = VersionedTable(os.path.join(root, "clone"))
    if not cl.exists():
        cl = src.clone(cl.root)
    if cl.latest_version() < 1:
        cl.append(base.where(F.col("k") % 2 == 1))
    # divergence invariant: the source never sees the clone's append
    if src.latest_version() != 0:
        raise RuntimeError("clone write leaked into the source")
    return cl


@register(
    "etl_clone_divergence",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders GROUP BY 1
""",
)
def etl_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE certified end-to-end: the clone's v0 references
    the source snapshot's dirs by path (zero bytes copied — an
    O(metadata) commit however large the table), then an append lands
    only under the clone's root. The query reads the diverged clone:
    if the clone missed source rows (broken reference carry) or the
    append leaked into the source (broken isolation, asserted in the
    fixture), the whole-orders hash breaks.

    Scale posture: cloning a 100 TB table costs one manifest write;
    skipping stats, blooms, deletion vectors, and evolution state
    carry over, so reads on the clone plan identically to the
    source's."""
    t = _clone_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
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


def _partev_source(spark: SparkSession, sf_dir: str):
    """Partition-evolution fixture: v0 flat create (even orderkeys),
    v1 metadata-only set_partitioning(priority), v2 append of the odd
    orderkeys landing under the new hive layout — asserted on the
    commit dir itself, so a silently-flat append fails the fixture
    before the hash can pass. Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import VersionedTable

    key = ("pev", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_pev_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(base.where(F.col("k") % 2 == 0))
    if t.latest_version() < 1:
        t.set_partitioning(["priority"])
    if t.latest_version() < 2:
        t.append(base.where(F.col("k") % 2 == 1))
        new_dir = t._read_manifest()["data_dirs"][-1]
        if not any(
            d.startswith("priority=") for d in os.listdir(new_dir)
        ):
            raise RuntimeError(
                "post-evolution append did not use the new hive layout"
            )
    return t


@register(
    "etl_partition_evolution",
    oracle=r"""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders GROUP BY 1
""",
)
def etl_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION certified end-to-end (the Iceberg headline
    feature, manifest-side): the layout change is an O(1) metadata
    commit — old dirs stay flat and untouched, the next append lands
    hive-partitioned by priority (asserted on disk in the fixture),
    and the snapshot read conforms both layouts per dir with the
    types the evolution commit pinned. Lost rows from either layout,
    or a priority column that changed type crossing from file bytes
    to path encoding, break the whole-orders hash.

    Scale posture: evolving the layout of a 100 TB table costs one
    manifest write and rewrites nothing; post-evolution commits get
    partition pruning on the new column immediately; compact()
    materializes the layout table-wide when wanted."""
    t = _partev_source(spark, sf_dir)
    return t.read(spark).groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


def _generated_source(spark: SparkSession, sf_dir: str):
    """Generated-column fixture: v0 create declares bucket = k % 7
    (computed — the initial frame omits it), v1 append WITHOUT the
    column (computed again), a disagreeing append REFUSED with the
    table unchanged, v2 append WITH the correct values (verified).
    Re-entrant."""
    import os
    import tempfile

    from python_etl_spark.sinks.table import (
        ConstraintViolationError,
        VersionedTable,
    )

    key = ("gcol", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_gcol_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    t = VersionedTable(os.path.join(root, "source"))
    if not t.exists():
        t.create(
            base.where(F.col("k") % 3 == 0),
            generated={"bucket": "k % 7"},
        )
    if t.latest_version() < 1:
        t.append(base.where(F.col("k") % 3 == 1))
    if t.latest_version() < 2:
        try:
            t.append(
                base.where(F.col("k") % 3 == 2).withColumn(
                    "bucket", F.lit(99).cast("long")
                )
            )
            raise RuntimeError(
                "generated-column enforcement failed: bad values landed"
            )
        except ConstraintViolationError:
            pass
        t.append(
            base.where(F.col("k") % 3 == 2).withColumn(
                "bucket", (F.col("k") % 7).cast("long")
            )
        )
    return t


@register(
    "etl_generated_columns",
    oracle=r"""
SELECT CAST(o_orderkey % 7 AS BIGINT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS amount
FROM orders GROUP BY 1
""",
)
def etl_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED COLUMNS certified end-to-end (Delta's generated-
    column shape): the definition (bucket = k % 7) lives in the
    manifest; batches omitting the column get it COMPUTED on every
    write path, batches carrying it are VERIFIED null-safely and a
    disagreeing batch is refused pre-publish with the table unchanged
    — if computation drifted or the refusal silently passed, grouping
    BY the stored column would disagree with the oracle computing the
    expression from scratch.

    Scale posture: computation is a codegen projection inside the
    write; verification is one extra scan of the batch (shared shape
    with the constraint gate); the definition rides manifests,
    checkpoints, and clones — nothing scans the table."""
    t = _generated_source(spark, sf_dir)
    return t.read(spark).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("amount"),
    )


# ------------------------- round-13: SQL DDL + catalog + CDC SQL faces --------
#
# r12 verdict #1/#2/#3: the router grew ALTER TABLE (rename/drop/add
# column, add/drop constraint), a real VACUUM behind an explicit
# RETAIN clause, a named-table catalog (CREATE TABLE <name> USING
# versioned_table LOCATION / DROP TABLE / names accepted wherever
# vt'<path>' is), and TABLE_CHANGES(<ref>, start[, end]) in SELECT.
# These three queries put each face on an oracle hash.


def _sqlddl_source(spark: SparkSession, sf_dir: str):
    """5-commit DDL demo table, built ENTIRELY through SQL (router
    surface on the hash): v0 CTAS from orders; v1 ALTER RENAME COLUMN
    qty->quantity; v2 ALTER ADD COLUMN bonus; v3 UPDATE filling bonus
    for k%10==0; v4 ALTER ADD CONSTRAINT; then an INSERT violating
    the constraint is REFUSED (marker row on the oracle). Re-entrant
    like _cdf_source."""
    import os
    import tempfile

    from python_etl_spark import sql as vt_sql
    from python_etl_spark.sinks.table import VersionedTable

    key = ("sqlddl", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_sqlddl_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    tr = os.path.join(root, "t")
    t = VersionedTable(tr)
    if not t.exists():
        _t(spark, sf_dir, "orders").createOrReplaceTempView(
            "__sqlddl_orders"
        )
        vt_sql(
            spark,
            f"""
            CREATE TABLE vt'{tr}' AS
            SELECT CAST(o_orderkey AS LONG) AS k,
                   CAST(o_orderkey % 100 AS LONG) AS qty,
                   o_orderstatus AS status
            FROM __sqlddl_orders
            """,
        )
    if t.latest_version() < 1:
        vt_sql(spark, f"ALTER TABLE vt'{tr}' RENAME COLUMN qty TO quantity")
    if t.latest_version() < 2:
        vt_sql(spark, f"ALTER TABLE vt'{tr}' ADD COLUMN bonus bigint")
    if t.latest_version() < 3:
        vt_sql(
            spark,
            f"UPDATE vt'{tr}' SET bonus = quantity * 2 WHERE k % 10 = 0",
        )
    if t.latest_version() < 4:
        vt_sql(
            spark,
            f"ALTER TABLE vt'{tr}' ADD CONSTRAINT bonus_pos "
            f"CHECK (bonus IS NULL OR bonus >= 0)",
        )
    return t


@register(
    "etl_sql_ddl",
    oracle=r"""
WITH v0 AS (
  SELECT o_orderkey AS k, o_orderkey % 100 AS qty,
         o_orderstatus AS status
  FROM orders)
SELECT 'cur' AS snap, status, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(qty) AS BIGINT) AS qty_total,
  CAST(SUM(CASE WHEN k % 10 = 0 THEN qty * 2 END) AS BIGINT)
    AS bonus_total
FROM v0 GROUP BY 2
UNION ALL
SELECT 'v0', status, CAST(COUNT(*) AS BIGINT),
  CAST(SUM(qty) AS BIGINT), CAST(NULL AS BIGINT)
FROM v0 GROUP BY 2
UNION ALL
SELECT 'ddl', 'refused', 1, NULL, NULL
""",
)
def etl_sql_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DDL surface end-to-end (r12 verdict #1, sql.py _alter):
    rename→add-column→update-fill→constraint all through ``ALTER
    TABLE`` statements, then (a) the CURRENT snapshot aggregated
    under the NEW column names (rename + null-filled add on the
    hash), (b) ``VERSION AS OF 0`` aggregated under the OLD name
    (metadata-only evolution: time travel below the rename keeps
    qty), and (c) a marker row proving the post-DDL constraint
    REFUSED a violating SQL INSERT with the table unchanged — any
    mis-route, wrong-frame constraint check, or resurrected column
    shifts a sum and breaks the hash.

    Scale posture: every ALTER is an O(1) metadata commit; the
    UPDATE is the dir-pruned copy-on-write path; the aggregates are
    single-shuffle groupBys at |status| cardinality."""
    from python_etl_spark import sql as vt_sql
    from python_etl_spark.sinks.table import ConstraintViolationError

    t = _sqlddl_source(spark, sf_dir)
    refused = 0
    try:
        vt_sql(
            spark,
            f"INSERT INTO vt'{t.root}' VALUES "
            f"(4000000001, 1, 'X', -5)",
        )
    except ConstraintViolationError:
        refused = 1
    return vt_sql(
        spark,
        f"""
        SELECT 'cur' AS snap, status, COUNT(*) AS n,
               SUM(quantity) AS qty_total, SUM(bonus) AS bonus_total
        FROM vt'{t.root}' GROUP BY status
        UNION ALL
        SELECT 'v0', status, COUNT(*), SUM(qty), CAST(NULL AS BIGINT)
        FROM vt'{t.root}' VERSION AS OF 0 GROUP BY status
        UNION ALL
        SELECT 'ddl', 'refused', {refused}, CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT)
        """,
    ).select(
        "snap",
        "status",
        F.col("n").cast("long").alias("n"),
        F.col("qty_total").cast("long").alias("qty_total"),
        F.col("bonus_total").cast("long").alias("bonus_total"),
    )


@register("etl_sql_table_changes", oracle=None)
def etl_sql_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC SQL face (r12 verdict #3): ``SELECT ... FROM
    TABLE_CHANGES(vt'<root>', 0, 2)`` over the SAME 3-commit table
    etl_cdf_changes reads through the library feed — the router
    substitutes the call with the REGISTERED table_changes batch
    source, and the oracle below is assigned as etl_cdf_changes'
    exact SQL (the established twin trick), so a drift anywhere in
    the SQL face (bad parse, wrong version bounds, name resolution)
    breaks this hash while the library twin stays green.

    Scale posture: identical to etl_table_changes_batch — one
    InputPartition per change file, never the corpus."""
    from python_etl_spark import sql as vt_sql

    t = _cdf_source(spark, sf_dir)
    feed = vt_sql(
        spark,
        f"""
        SELECT _change_type AS change_type, priority, price
        FROM TABLE_CHANGES(vt'{t.root}', 0, 2)
        """,
    )
    return feed.groupBy("change_type", "priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("double").alias("amount"),
    )


# the twin trick: hold the SQL face to the library feed's exact oracle
_ORACLES["etl_sql_table_changes"] = _ORACLES["etl_cdf_changes"]


@register(
    "etl_sql_catalog",
    oracle=r"""
SELECT CAST(n_regionkey AS BIGINT) AS r,
  CAST(2 * COUNT(*) AS BIGINT) AS n,
  CAST(2 * SUM(n_nationkey) + 100 * COUNT(*) AS BIGINT) AS total
FROM nation GROUP BY 1
""",
)
def etl_sql_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED TABLES end-to-end (r12 verdict #2, catalog.py): a named
    CTAS materializes beside the catalog file, an ``INSERT INTO
    <name>`` appends through the resolved root, and the final
    ``SELECT ... FROM <name>`` substitutes the registered name in
    table position — path never appears in any statement after the
    CTAS. The oracle replays the CTAS∪INSERT arithmetic over nation
    directly, so a resolution bug (wrong root, stale catalog read,
    name hijacking a session view) breaks the hash.

    Scale posture: the catalog is O(#tables) metadata resolved once
    per statement, before Catalyst sees the query — never on the
    data path."""
    import os
    import tempfile

    from python_etl_spark import sql as vt_sql
    from python_etl_spark.catalog import Catalog
    from python_etl_spark.sinks.table import VersionedTable

    key = ("sqlcat", spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    root = _INCR_STORE_CACHE.get(key)
    if root is None:
        root = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_sqlcat_{key[1]}_{stable_digest(key[2])}",
        )
        _INCR_STORE_CACHE[key] = root
    cat_path = os.path.join(root, "catalog.json")
    spark.conf.set("spark.python_etl_spark.catalog", cat_path)
    name = "vtcat_nation"
    if name not in Catalog(cat_path).names():
        _t(spark, sf_dir, "nation").createOrReplaceTempView(
            "__sqlcat_nation"
        )
        vt_sql(
            spark,
            f"""
            CREATE TABLE {name} AS
            SELECT CAST(n_nationkey AS LONG) AS k,
                   CAST(n_regionkey AS LONG) AS r
            FROM __sqlcat_nation
            """,
        )
    t = VersionedTable(Catalog(cat_path).resolve(name))
    if t.latest_version() < 1:
        _t(spark, sf_dir, "nation").createOrReplaceTempView(
            "__sqlcat_nation"
        )
        vt_sql(
            spark,
            f"""
            INSERT INTO {name}
            SELECT CAST(n_nationkey + 100 AS LONG),
                   CAST(n_regionkey AS LONG)
            FROM __sqlcat_nation
            """,
        )
    return vt_sql(
        spark,
        f"SELECT r, COUNT(*) AS n, SUM(k) AS total "
        f"FROM {name} GROUP BY r",
    ).select(
        "r",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
    )
