"""Round-3 plans: corpus curation, time-series, entity resolution,
and the remaining relational/API surface.

Families in this module (each query's docstring carries its own scale
posture):

* LLM curation — ``text_dsir_importance`` (DSIR importance weights;
  Xie et al., 2023), ``text_cms_topk`` (count-min heavy hitters),
  ``dedup_cluster_size_dist`` / ``dedup_lsh_bucket_stats`` (dup and
  banding diagnostics), ``dedup_containment_capped`` (df-cap knob).
* Time-series / product analytics — ``events_hypertable_rollup``,
  ``stream_session_window_batch_equiv`` (native session_window),
  ``events_dau_wau``, ``events_heatmap_hour_dow``,
  ``win_rolling_median``, ``win_percent_of_total``,
  ``q23_market_basket``, ``etl_partial_agg_merge``.
* Joins — ``etl_asof_join_forward`` / ``_nearest`` (directional
  as-of), ``etl_interval_join`` (grid-bucketed overlap join).
* Entity resolution — ``etl_fuzzy_match_names`` (char-gram Jaccard),
  ``etl_edit_distance`` (blocked Levenshtein re-rank).
* Feature prep — ``etl_winsorize``, ``etl_robust_scale``.
* Remaining surface — ``win_cume_dist``, ``etl_grouping_sets``,
  ``etl_map_funcs``, ``etl_posexplode``, ``etl_try_arithmetic``,
  ``etl_variant_json`` (VariantType), ``etl_udtf_expand`` (Python
  UDTF via LATERAL), ``etl_union_schema_evolution``.

Cross-engine exactness follows plans/common.py: decimal sums, 6-decimal
rounds before aggregation, md5-derived hashing that both engines can
rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_spark.functions.exact import (
    dround_div,
    dround_div_sql,
    dsum,
    dsum_sql,
)
from python_etl_spark.plans.common import register
from python_etl_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------- DSIR importance ------------------------------
#
# Feature-hash bigrams into _DSIR_BUCKETS via md5 (identical in both
# engines: two hex chars -> small integer), estimate the target
# (lang='en') and raw bucket distributions with add-1 smoothing, and
# score every document by the mean log importance ratio of its bigrams.
# Scale posture: the bucket table is 64 rows (broadcast); the only
# data-sized shuffles are the bucket count aggregate (partial-agg
# collapses to 64 rows per partition before the exchange) and the
# per-doc mean.

_DSIR_BUCKETS = 64
_DSIR_TARGET_LANG = "en"


_DSIR_BUCKET_SQL = (
    "CAST((ASCII(SUBSTR(md5(b), 1, 1)) * 131 + ASCII(SUBSTR(md5(b), 2, 1)))"
    f" % {_DSIR_BUCKETS} AS INT)"
)


@register(
    "text_dsir_importance",
    oracle=f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
              FROM documents),
bg AS (
  SELECT doc_id, lang, unnest(list_transform(range(1, len(t)),
                        i -> concat_ws(' ', t[i], t[i+1]))) AS b
  FROM toks WHERE len(t) >= 2),
bgb AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket FROM bg),
ct AS (
  SELECT bucket, COUNT(*) AS rb,
    SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS tb
  FROM bgb GROUP BY bucket),
tot AS (SELECT SUM(rb) AS rt, SUM(tb) AS tt FROM ct),
lr AS (
  SELECT bucket,
    ROUND(LN(((tb + 1.0) / (tt + {_DSIR_BUCKETS}))
           / ((rb + 1.0) / (rt + {_DSIR_BUCKETS}))), 6) AS lw
  FROM ct, tot),
sums AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
    CAST(SUM(CAST(lw AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS sm
  FROM bgb JOIN lr USING (bucket)
  GROUP BY doc_id)
SELECT doc_id, n_bigrams,
  CAST(CASE WHEN sm < 0
       THEN -((2 * -sm + n_bigrams) // (2 * n_bigrams))
       ELSE (2 * sm + n_bigrams) // (2 * n_bigrams)
       END AS DOUBLE) / 1000000.0 AS dsir_logweight
FROM sums
""",
)
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: hashed-bigram log-ratio of the target
    (lang='en') distribution vs the raw corpus, averaged per document —
    the data-selection score used to resample a raw crawl toward a
    target domain. The 64-bucket ratio table is broadcast; per-bigram
    log-ratios are rounded to 6 decimals then decimal-summed so both
    engines aggregate identical values. Logic lives in
    operators/importance.py (the reusable pipeline stage)."""
    from python_etl_spark.operators.importance import dsir_logweights

    docs = _t(spark, sf_dir, "documents")
    return dsir_logweights(
        docs,
        F.col("lang") == _DSIR_TARGET_LANG,
        n_buckets=_DSIR_BUCKETS,
    )


# ----------------------- hypertable-style rollup --------------------------
@register(
    "events_hypertable_rollup",
    oracle=f"""
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
  hour(ts) AS hr,
  CASE WHEN GROUPING(hour(ts)) = 1 THEN 'day' ELSE 'hour' END
    AS granularity,
  COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events
GROUP BY GROUPING SETS (
  (event_type, strftime(ts, '%Y-%m-%d')),
  (event_type, strftime(ts, '%Y-%m-%d'), hour(ts)))
""",
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time-bucket rollup (the batch shape of a
    Timescale/Druid continuous aggregate): hour- and day-level sums for
    every event type computed in ONE grouping-sets pass — partial
    aggregation collapses each granularity before the single shuffle,
    instead of two scans + a union. `granularity` comes from
    grouping(), not NULL-testing, so a genuinely NULL bucket could
    never masquerade as a day row."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    hr = F.hour("ts").alias("hr")
    return (
        ev.select("event_type", day, hr, "value")
        .groupingSets(
            [["event_type", "day"], ["event_type", "day", "hr"]],
            "event_type",
            "day",
            "hr",
        )
        .agg(
            F.when(F.grouping("hr") == 1, F.lit("day"))
            .otherwise(F.lit("hour"))
            .alias("granularity"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


# ----------------------- native session_window ----------------------------
@register(
    "stream_session_window_batch_equiv",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM numbered GROUP BY user_id, session_idx
""",
)
def stream_session_window_batch_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark's NATIVE session_window aggregation (the operator
    Structured Streaming uses for session analytics) run in batch mode.
    Sessions merge while consecutive events are < 30 min apart; the
    window end is last-event + gap, so the oracle's gaps-and-islands
    split uses >= (Spark session windows are half-open [start, end)).
    One shuffle on user_id; in streaming the same expression runs
    incrementally with watermark-based state eviction."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# ------------------------------ cume_dist ---------------------------------
@register(
    "win_cume_dist",
    oracle="""
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
  ROUND(cume_dist() OVER (PARTITION BY l_returnflag ORDER BY l_quantity),
        6) AS qty_cume_dist
FROM lineitem WHERE l_orderkey < 1000
""",
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist window function: fraction of rows in the partition
    with a sort key <= this row's — tie-stable by definition (every
    tied row gets the same value), so no tiebreak column is needed."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.round(F.cume_dist().over(w), 6).alias("qty_cume_dist"),
    )


# ---------------------------- grouping sets -------------------------------
@register(
    "etl_grouping_sets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
  CASE WHEN GROUPING(o_orderstatus) = 0 AND GROUPING(o_orderpriority) = 0
         THEN 'status_priority'
       WHEN GROUPING(o_orderpriority) = 1 AND GROUPING(o_orderstatus) = 0
         THEN 'status'
       WHEN GROUPING(o_orderstatus) = 1 AND GROUPING(o_orderpriority) = 0
         THEN 'priority'
       ELSE 'total' END AS level,
  COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority), ())
""",
)
def etl_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form cube/rollup compile
    to): four aggregation levels in one pass with grouping() flags
    naming each level — one shuffle, partial-agg per level."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
                ["o_orderpriority"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.when(
                (F.grouping("o_orderstatus") == 0)
                & (F.grouping("o_orderpriority") == 0),
                F.lit("status_priority"),
            )
            .when(
                (F.grouping("o_orderpriority") == 1)
                & (F.grouping("o_orderstatus") == 0),
                F.lit("status"),
            )
            .when(
                (F.grouping("o_orderstatus") == 1)
                & (F.grouping("o_orderpriority") == 0),
                F.lit("priority"),
            )
            .otherwise(F.lit("total"))
            .alias("level"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


# ------------------------------ winsorize ---------------------------------
@register(
    "etl_winsorize",
    oracle="""
WITH bounds AS (
  SELECT l_returnflag,
    CAST(quantile_cont(l_extendedprice, 0.05) AS DOUBLE) AS lo,
    CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE) AS hi
  FROM lineitem GROUP BY l_returnflag)
SELECT l_orderkey, l_linenumber, l.l_returnflag,
  l_extendedprice,
  LEAST(GREATEST(l_extendedprice, lo), hi) AS price_winsorized,
  CAST(l_extendedprice < lo OR l_extendedprice > hi AS BOOLEAN)
    AS was_clipped
FROM lineitem l JOIN bounds b ON b.l_returnflag = l.l_returnflag
""",
)
def etl_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip a metric at its exact p05/p95
    (F.percentile == quantile_cont bit-for-bit, proven by
    etl_quantiles_checked). The bounds table is one row per group —
    broadcast back onto the scan, so the big side never shuffles; at
    100 TB the only wide op is the tiny percentile aggregate (or swap
    in the GK sketch for a single-pass approximate clip)."""
    li = _t(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    return (
        li.select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
        )
        .join(F.broadcast(bounds), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            F.least(
                F.greatest(F.col("l_extendedprice"), F.col("lo")),
                F.col("hi"),
            ).alias("price_winsorized"),
            (
                (F.col("l_extendedprice") < F.col("lo"))
                | (F.col("l_extendedprice") > F.col("hi"))
            ).alias("was_clipped"),
        )
    )


# ----------------------- dup-cluster size histogram -----------------------
@register(
    "dedup_cluster_size_dist",
    oracle="""
WITH clusters AS (
  SELECT md5(text) AS h, COUNT(*) AS sz FROM documents GROUP BY md5(text))
SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
  CAST(sz * COUNT(*) AS BIGINT) AS n_docs
FROM clusters GROUP BY sz
""",
)
def dedup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size histogram — the curation report
    that tells you HOW duplicated a crawl is (how many singletons,
    pairs, 100x boilerplate clusters). Two partial-agg-friendly
    shuffles, both collapsing: corpus -> clusters -> size counts."""
    docs = _t(spark, sf_dir, "documents")
    clusters = docs.groupBy(
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("h")
    ).agg(F.count(F.lit(1)).alias("sz"))
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("long")
        .alias("n_docs"),
    )


# ------------------------------ map funcs ---------------------------------
@register(
    "etl_map_funcs",
    oracle="""
WITH w AS (
  SELECT p_partkey, string_split(p_name, ' ') AS words,
    list_distinct(string_split(p_name, ' ')) AS dwords
  FROM part)
SELECT p_partkey,
  CAST(LEN(dwords) AS INT) AS n_keys,
  array_to_string(list_sort(dwords), '|') AS keys_sorted,
  CAST(LENGTH(words[1]) AS INT) AS first_word_len,
  CAST(list_sum(list_transform(dwords, x -> LENGTH(x))) AS INT)
    AS total_key_len
FROM w
""",
)
def etl_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: build word->length maps in-plan
    (map_from_arrays), then read them back through map_keys /
    element_at / map_values + higher-order aggregate. The map never
    leaves the plan — outputs are scalar/string mirrors the driver's
    canonicalizer (and DuckDB, which derives the same values straight
    from the word list) can hash. Zero shuffles: pure projection."""
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ", -1)
    dwords = F.array_distinct(words)
    m = F.map_from_arrays(dwords, F.transform(dwords, F.length))
    return part.select(
        "p_partkey",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(m)), "|").alias("keys_sorted"),
        F.element_at(m, F.element_at(words, 1)).alias("first_word_len"),
        F.aggregate(
            F.map_values(m), F.lit(0), lambda acc, x: acc + x
        ).alias("total_key_len"),
    )


# ----------------------- incremental aggregate merge ----------------------
@register(
    "etl_partial_agg_merge",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
  {dsum_sql('o_totalprice')} AS sum_price,
  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
""",
)
def etl_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the base partition (orders
    before 1995-01-01) and the delta batch (the rest) are aggregated
    SEPARATELY into mergeable partials (count / decimal sum / min /
    max), then merged — and the merge provably equals the direct
    aggregate, which is exactly what the oracle computes. Decimal
    partial sums stay decimal until the final cast, so associativity
    is exact. This is how a continuous aggregate absorbs a micro-batch
    at 100 TB without rescanning history."""
    o = _t(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    cut = "1995-01-01"
    base = partial(o.where(F.col("o_orderdate") < cut))
    delta = partial(o.where(F.col("o_orderdate") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("double").alias("sum_price"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
        )
    )


# --------------------------- count-min sketch -----------------------------
#
# The frequency-sketch family member (alongside HLL distinct counts and
# GK quantiles): d x w counter matrix, each occurrence votes in one
# bucket per row, point estimate = min over rows. The sketch is d*w
# cells (KBs) — built by ONE collapsing aggregate and broadcast back to
# score candidates, so the corpus never shuffles by gram. Approximate
# ([R]): estimates overestimate by at most eps*N with eps ~ e/w
# (pytest-bounded vs exact counts); not SQL-expressible bit-for-bit
# because xxhash64 seeds differ per row.
_CMS_D = 4
_CMS_W = 1024


@register("text_cms_topk")
def text_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate corpus top-20 trigrams via a count-min sketch:
    build the 4x1024 counter matrix in one partial-agg shuffle,
    broadcast it, score each DISTINCT trigram with a min-over-rows
    lookup, TakeOrdered the top 20. At 100 TB the sketch stays 4 KB
    of cells and the heavy-hitter scan is one distinct + broadcast
    join — no gram-keyed count shuffle of the full stream."""
    from python_etl_spark.operators.dedup import _word_grams

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    grams = docs.select(toks.alias("t")).where(F.size("t") >= 3).select(
        F.explode(_word_grams(F.col("t"), 3)).alias("g")
    )

    def bucket(r: int) -> F.Column:
        return F.pmod(F.xxhash64(F.lit(r), F.col("g")), F.lit(_CMS_W))

    cells = (
        grams.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"), bucket(r).alias("b")
                        )
                        for r in range(_CMS_D)
                    ]
                )
            ).alias("e")
        )
        .groupBy("e.r", "e.b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = grams.distinct()
    est = (
        cand.select(
            "g",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"), bucket(r).alias("b")
                        )
                        for r in range(_CMS_D)
                    ]
                )
            ).alias("e"),
        )
        .select("g", "e.r", "e.b")
        .join(F.broadcast(cells), ["r", "b"])
        .groupBy("g")
        .agg(F.min("c").alias("est_count"))
    )
    return est.orderBy(F.desc("est_count"), F.asc("g")).limit(20)


# ------------------------ as-of join directions ---------------------------
def _asof_sides(spark: SparkSession, sf_dir: str):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return purchases, clicks


@register(
    "etl_asof_join_forward",
    oracle="""
SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
       p.value AS value, c.ts AS click_ts, c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts <= c.ts
""",
)
def etl_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase matched to the NEXT click at
    or after it (the 'what did the user do next' direction). Same
    single-shuffle union-sort-fill as backward, with the fill window
    flipped (operators/asof.py)."""
    from python_etl_spark.operators.asof import asof_join

    purchases, clicks = _asof_sides(spark, sf_dir)
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts", "click_value"],
        direction="forward",
    )


@register(
    "etl_asof_join_nearest",
    oracle="""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click'),
b AS (
  SELECT p.event_id, c.ts AS bts, c.value AS bval
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
f AS (
  SELECT p.event_id, c.ts AS fts, c.value AS fval
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts)
SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
  p.value AS value,
  CASE WHEN bts IS NULL THEN fts
       WHEN fts IS NULL THEN bts
       WHEN (p.ts - bts) <= (fts - p.ts) THEN bts ELSE fts END
    AS click_ts,
  CASE WHEN bts IS NULL THEN fval
       WHEN fts IS NULL THEN bval
       WHEN (p.ts - bts) <= (fts - p.ts) THEN bval ELSE fval END
    AS click_value
FROM p JOIN b USING (event_id) JOIN f USING (event_id)
""",
)
def etl_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: each purchase matched to the click closest
    in time on either side (ties prefer backward, like pandas
    merge_asof). Both fills run over ONE sorted partition — still a
    single shuffle."""
    from python_etl_spark.operators.asof import asof_join

    purchases, clicks = _asof_sides(spark, sf_dir)
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts", "click_value"],
        direction="nearest",
    )


# ------------------------ interval overlap join ---------------------------
@register(
    "etl_interval_join",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_start,
    ts + INTERVAL 1 HOUR AS p_end
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT event_id AS click_id, user_id, ts AS c_start,
    ts + INTERVAL 1 HOUR AS c_end
  FROM events WHERE event_type = 'click')
SELECT purchase_id, click_id, p.user_id AS user_id,
  CAST(date_diff('microsecond', GREATEST(p_start, c_start),
                 LEAST(p_end, c_end)) AS BIGINT) AS overlap_us
FROM p JOIN c ON p.user_id = c.user_id
  AND p_start < c_end AND c_start < p_end
""",
)
def etl_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: 1-hour activity windows around purchases
    vs clicks of the same user; output the overlapping pairs + overlap
    length. Grid-bucketed equijoin (operators/range_join.py) — each
    pair emits exactly once from its first shared bucket, so no
    DISTINCT pass; never |a| x |b|."""
    from python_etl_spark.operators.range_join import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    hour = F.expr("INTERVAL 1 HOUR")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_start"),
        (F.col("ts") + hour).alias("p_end"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_start"),
        (F.col("ts") + hour).alias("c_end"),
    )
    joined = interval_overlap_join(
        p, c, ["user_id"], "p_start", "p_end", "c_start", "c_end"
    )
    us = lambda col: F.unix_micros(F.col(col).cast("timestamp"))  # noqa: E731
    return joined.select(
        "purchase_id",
        "click_id",
        "user_id",
        (
            F.least(us("p_end"), us("c_end"))
            - F.greatest(us("p_start"), us("c_start"))
        ).alias("overlap_us"),
    )


# ------------------------------ posexplode --------------------------------
@register(
    "etl_posexplode",
    oracle="""
WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part)
SELECT p_partkey, CAST(unnest(range(len(w))) AS INT) AS pos,
  unnest(w) AS word
FROM w
""",
)
def etl_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: element + 0-based position in one generator —
    the order-preserving explode (token position features, windowed
    token contexts). Pure narrow projection, zero shuffles."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.posexplode(F.split("p_name", " ", -1)).alias("pos", "word"),
    )


# ---------------------------- try_ arithmetic -----------------------------
@register(
    "etl_try_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
  CAST(l_extendedprice / NULLIF(l_discount, 0.0) AS DOUBLE)
    AS price_per_discount,
  TRY_CAST(CASE WHEN l_linenumber % 2 = 0
                THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                ELSE l_returnflag END AS DOUBLE) AS mixed_as_number,
  CAST(NULL AS BIGINT) AS overflow_guard
FROM lineitem WHERE l_orderkey < 500
""",
)
def etl_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: try_divide (NULL on /0 instead of
    ANSI failure), try_cast on a non-numeric column, try_multiply at
    guaranteed-overflow magnitudes — the ingestion-hardening functions
    a pipeline uses on untrusted columns. Zero shuffles."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500)
    big = F.lit(9_000_000_000_000_000_000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"),
            F.nullif(F.col("l_discount"), F.lit(0.0)),
        ).alias("price_per_discount"),
        F.when(
            F.col("l_linenumber") % 2 == 0,
            F.col("l_quantity").cast("bigint").cast("string"),
        )
        .otherwise(F.col("l_returnflag"))
        .try_cast("double")
        .alias("mixed_as_number"),
        F.try_multiply(big, big).alias("overflow_guard"),
    )


# ---------------------------- rolling median ------------------------------
@register(
    "win_rolling_median",
    oracle="""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
    COUNT(*) AS n_events
  FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d'))
SELECT event_type, day, n_events,
  CAST(quantile_cont(n_events, 0.5) OVER (
    PARTITION BY event_type ORDER BY day
    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS med7
FROM daily
""",
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of daily event volume — the robust trend
    line (moving averages chase outliers, medians don't). percentile
    as a WINDOW aggregate == DuckDB quantile_cont over the same frame;
    the window runs over the tiny post-aggregation daily frame, never
    the raw event stream."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.percentile("n_events", F.lit(0.5)).over(w).alias("med7"),
    )


# ------------------------------- DAU / WAU --------------------------------
@register(
    "events_dau_wau",
    oracle="""
WITH du AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
wau AS (
  SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
  FROM days d JOIN du u
    ON u.day <= d.day
   AND u.day >= strftime(CAST(d.day AS DATE) - INTERVAL 6 DAY, '%Y-%m-%d')
  GROUP BY d.day)
SELECT day, dau, wau,
  ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
FROM dau JOIN wau USING (day)
""",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness: daily and trailing-7-day distinct
    actives per day. The raw stream collapses FIRST to distinct
    (day, user) pairs — one partial-agg shuffle, after which every
    join touches only days x users rows. The WAU range join is a
    7-day window self-join on that collapsed frame (windowed count
    distinct isn't a thing in any engine; this is the standard
    formulation). Stickiness = DAU/WAU."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = du.select("day").distinct()
    window_lo = F.date_format(
        F.date_sub(F.to_date(F.col("d.day")), 6), "yyyy-MM-dd"
    )
    wau = (
        days.alias("d")
        .join(
            du.alias("u"),
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") >= window_lo),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "stickiness"
        ),
    )


# ----------------------------- variant JSON -------------------------------
@register(
    "etl_variant_json",
    oracle="""
SELECT event_id,
  CAST(json_extract(props, '$.k') AS INT) AS k_int,
  CAST(json_extract(props, '$.k') AS VARCHAR) IS NOT NULL AS has_k,
  json_extract_string(props, '$.missing') AS missing_field
FROM events WHERE event_id < 2000
""",
)
def etl_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType ingestion: parse_json once into the binary
    variant encoding, then typed variant_get paths — the
    schema-on-read path for semi-structured columns (vs per-access
    string re-parsing with get_json_object). Zero shuffles."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_int"),
        F.try_variant_get(v, "$.k", "string").isNotNull().alias("has_k"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_field"),
    )


# ----------------------------- robust scaler ------------------------------
@register(
    "etl_robust_scale",
    oracle="""
WITH st AS (
  SELECT l_returnflag,
    CAST(quantile_cont(l_extendedprice, 0.50) AS DOUBLE) AS med,
    CAST(quantile_cont(l_extendedprice, 0.75)
       - quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS iqr
  FROM lineitem GROUP BY l_returnflag)
SELECT l_orderkey, l_linenumber, l.l_returnflag,
  ROUND((l_extendedprice - med) / iqr, 6) AS price_robust
FROM lineitem l JOIN st USING (l_returnflag)
WHERE l_orderkey < 2000
""",
)
def etl_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust feature scaling: (x - median) / IQR per group — the
    outlier-immune cousin of z-score normalization (etl_zscore uses
    mean/stddev, which heavy tails corrupt). Exact percentiles
    (F.percentile == quantile_cont bit-for-bit), tiny bounds table
    broadcast onto an unshuffled scan."""
    li = _t(spark, sf_dir, "lineitem")
    st = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.50)).alias("med"),
        (
            F.percentile("l_extendedprice", F.lit(0.75))
            - F.percentile("l_extendedprice", F.lit(0.25))
        ).alias("iqr"),
    )
    return (
        li.where(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
                "l_extendedprice")
        .join(F.broadcast(st), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round(
                (F.col("l_extendedprice") - F.col("med")) / F.col("iqr"), 6
            ).alias("price_robust"),
        )
    )


# ----------------------- LSH bucket-skew diagnostics ----------------------
from python_etl_spark.plans.llm import MH_BUCKETS_SQL  # noqa: E402


@register(
    "dedup_lsh_bucket_stats",
    oracle=f"""
WITH {MH_BUCKETS_SQL},
bs AS (SELECT band, bucket, COUNT(*) AS sz FROM buckets
       GROUP BY band, bucket)
SELECT band, sz AS bucket_size, COUNT(*) AS n_buckets,
  CAST(sz * (sz - 1) / 2 * COUNT(*) AS BIGINT) AS candidate_pairs
FROM bs GROUP BY band, sz
""",
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size distribution of the MinHash-LSH banding — the
    pre-flight skew check for the candidate join: a hot bucket of size
    s contributes s*(s-1)/2 pairs, so this histogram IS the join's
    cost model (run it before a 100 TB dedup to catch degenerate
    banding / boilerplate floods and pick df-caps). Two collapsing
    aggregates over the bucket frame; identical md5 banding to
    dedup_minhash_lsh_checked (shared code + shared SQL prefix), so
    it's hash-checked end to end."""
    from python_etl_spark.plans.llm import mh_sig_buckets

    docs = _t(spark, sf_dir, "documents")
    # sig feeds only the band explode here: skip its checkpoint job
    _, buckets = mh_sig_buckets(docs, materialize=False)
    bs = buckets.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return bs.groupBy("band", F.col("sz").alias("bucket_size")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (
            F.col("bucket_size")
            * (F.col("bucket_size") - 1)
            / 2
            * F.count(F.lit(1))
        )
        .cast("long")
        .alias("candidate_pairs"),
    )


# ---------------------- df-capped containment pairs -----------------------
from python_etl_spark.plans.llm import _NGRAM_SH_SQL  # noqa: E402

_CONT_CAP = 20


@register(
    "dedup_containment_capped",
    oracle=f"""
WITH {_NGRAM_SH_SQL},
capped AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (
    SELECT shingle FROM sh GROUP BY shingle
    HAVING COUNT(*) <= {_CONT_CAP})),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM capped a JOIN capped b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
  CAST(shared AS DOUBLE) / ca.n AS containment
FROM pair JOIN cnt ca ON ca.doc_id = pair.doc_a
WHERE CAST(shared AS DOUBLE) / ca.n >= 0.12
""",
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs with the document-frequency cap engaged
    (max_doc_freq=20): 'stop shingles' that appear in more docs than
    the cap are dropped BEFORE the inverted-index join — the knob that
    keeps boilerplate-heavy corpora from going quadratic at 100 TB.
    Containment denominators count only surviving shingles, exactly as
    the oracle's HAVING filter does; the cap's hot set broadcasts as a
    left-anti join (operators/dedup.py:_cap_doc_freq)."""
    from python_etl_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(
        docs, k=3, threshold=0.12, max_doc_freq=_CONT_CAP
    )


# ------------------------------ Python UDTF -------------------------------
@register(
    "etl_udtf_expand",
    oracle="""
WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part
           WHERE p_partkey <= 200)
SELECT p_partkey, CAST(unnest(range(len(w))) AS INT) AS pos,
  unnest(w) AS word,
  CAST(LENGTH(unnest(w)) AS INT) AS word_len
FROM w
""",
)
def etl_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function): one input
    row fans out to one row per token with position and length. This
    is the API-surface demo — row-at-a-time Python is the slow path,
    and etl_posexplode is the native equivalent you'd run at 100 TB;
    a real UDTF earns its cost only when the expansion logic can't be
    expressed with generators (API calls, parsers, samplers). Applied
    to a pruned 200-part slice for exactly that reason."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="p_partkey bigint, pos int, word string, word_len int")
    class ExpandWords:
        def eval(self, p_partkey: int, p_name: str):
            for pos, word in enumerate(p_name.split(" ")):
                yield p_partkey, pos, word, len(word)

    spark.udtf.register("expand_words", ExpandWords)
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    part.createOrReplaceTempView("_udtf_part")
    return spark.sql(
        "SELECT f.p_partkey, f.pos, f.word, f.word_len "
        "FROM _udtf_part, LATERAL expand_words(p_partkey, p_name) f"
    )


# ------------------------- fuzzy name matching ----------------------------
@register(
    "etl_fuzzy_match_names",
    oracle="""
WITH vals AS (SELECT DISTINCT p_name AS val FROM part),
grams AS (
  SELECT val, unnest(list_distinct(list_transform(
    range(1, LENGTH(val) - 1), i -> val[i:i+2]))) AS g
  FROM vals WHERE LENGTH(val) >= 3),
sizes AS (SELECT val, COUNT(*) AS ng FROM grams GROUP BY val),
shared AS (
  SELECT a.val AS val_a, b.val AS val_b, COUNT(*) AS shared
  FROM grams a JOIN grams b ON a.g = b.g AND a.val < b.val
  GROUP BY a.val, b.val)
SELECT val_a, val_b,
  ROUND(CAST(shared AS DOUBLE) / (sa.ng + sb.ng - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.val = shared.val_a
JOIN sizes sb ON sb.val = shared.val_b
WHERE ROUND(CAST(shared AS DOUBLE) / (sa.ng + sb.ng - shared), 6) >= 0.4
""",
)
def etl_fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching for entity resolution: char-3-gram
    Jaccard pairs over the DISTINCT product names (typo-tolerant,
    unlike word grams). The match runs on the deduped value domain —
    64 names here, and still only the distinct set at 100 TB — via
    the inverted-index join (operators/dedup.py:
    char_gram_jaccard_pairs)."""
    from python_etl_spark.operators.dedup import char_gram_jaccard_pairs

    part = _t(spark, sf_dir, "part")
    return char_gram_jaccard_pairs(part, "p_name", k=3, threshold=0.4)


# --------------------------- edit distance --------------------------------
@register(
    "etl_edit_distance",
    oracle="""
WITH vals AS (SELECT DISTINCT p_name AS val FROM part),
pairs AS (
  SELECT a.val AS val_a, b.val AS val_b
  FROM vals a JOIN vals b
    ON a.val < b.val
   AND string_split(a.val, ' ')[2] = string_split(b.val, ' ')[2])
SELECT val_a, val_b,
  CAST(levenshtein(val_a, val_b) AS INT) AS edit_dist,
  ROUND(1.0 - CAST(levenshtein(val_a, val_b) AS DOUBLE)
        / GREATEST(LENGTH(val_a), LENGTH(val_b)), 6) AS similarity
FROM pairs
""",
)
def etl_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein re-rank for entity resolution: same-noun product
    name pairs scored by edit distance + normalized similarity. The
    blocking key (shared last word) keeps candidates linear — the
    standard block-then-score shape; the quadratic scorer only ever
    sees within-block pairs."""
    part = _t(spark, sf_dir, "part")
    vals = part.select(F.col("p_name").alias("val")).distinct()
    noun = F.element_at(F.split(F.col("val"), " ", -1), 2)
    a = vals.select(F.col("val").alias("val_a"), noun.alias("blk"))
    b = vals.select(F.col("val").alias("val_b"), noun.alias("blk"))
    lev = F.levenshtein(F.col("val_a"), F.col("val_b"))
    return (
        a.join(b, ["blk"])
        .where(F.col("val_a") < F.col("val_b"))
        .select(
            "val_a",
            "val_b",
            lev.cast("int").alias("edit_dist"),
            F.round(
                1.0
                - lev.cast("double")
                / F.greatest(F.length("val_a"), F.length("val_b")),
                6,
            ).alias("similarity"),
        )
    )


# ----------------------- schema-evolution union ---------------------------
@register(
    "etl_union_schema_evolution",
    oracle="""
SELECT o_orderkey AS id, o_totalprice AS amount,
  o_orderpriority AS priority, CAST(NULL AS VARCHAR) AS flag
FROM orders WHERE o_orderkey < 300
UNION ALL
SELECT l_orderkey AS id, l_extendedprice AS amount,
  CAST(NULL AS VARCHAR) AS priority, l_returnflag AS flag
FROM lineitem WHERE l_orderkey < 300
""",
)
def etl_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two sources with overlapping but
    different columns merged via unionByName(allowMissingColumns) —
    the ingestion pattern when a feed adds fields mid-stream. Missing
    columns become typed NULLs; no reordering surprises (by-name, not
    positional)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 300)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 300)
    left = o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderpriority").alias("priority"),
    )
    right = li.select(
        F.col("l_orderkey").alias("id"),
        F.col("l_extendedprice").alias("amount"),
        F.col("l_returnflag").alias("flag"),
    )
    return left.unionByName(right, allowMissingColumns=True)


# --------------------------- hour x dow heatmap ---------------------------
@register(
    "events_heatmap_hour_dow",
    oracle=f"""
SELECT dayofweek(ts) AS dow, hour(ts) AS hr,
  COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events GROUP BY dayofweek(ts), hour(ts)
""",
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event volume by (day-of-week, hour) — the
    24x7 operational dashboard grid. One partial-agg shuffle to at
    most 168 rows. DuckDB dayofweek is 0=Sunday; Spark's dayofweek is
    1=Sunday, so the Spark side subtracts 1 to match."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )


# ----------------------------- market basket ------------------------------
@register(
    "q23_market_basket",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
    COUNT(*) AS together
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey),
freq AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey)
SELECT part_a, part_b, together,
  ROUND(CAST(together AS DOUBLE) * n.n / (fa.cnt * fb.cnt), 6) AS lift
FROM pair
JOIN freq fa ON fa.l_partkey = pair.part_a
JOIN freq fb ON fb.l_partkey = pair.part_b
CROSS JOIN n_orders n
WHERE together >= 3
""",
)
def q23_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair analysis: parts bought together in the same
    order, with lift = P(a,b) / (P(a)P(b)). The self-join is keyed on
    the order (baskets are small, so within-basket pairs stay linear
    in order count). The part-frequency table grows with the part
    dimension (~20M rows at 100 TB), so it attaches via plain shuffle
    joins — only the 1-row order count broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, ["l_orderkey"])
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("together"))
        .where(F.col("together") >= 3)
    )
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("ca"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cb"))
    return (
        pair.join(fa, ["part_a"])
        .join(fb, ["part_b"])
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "together",
            F.round(
                F.col("together").cast("double")
                * F.col("n")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------- percent of total -----------------------------
@register(
    "win_percent_of_total",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice,
  ROUND(o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
    OVER (PARTITION BY o_orderstatus) AS DOUBLE), 9) AS pct_of_status
FROM orders WHERE o_orderkey < 2000
""",
)
def win_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each order's share of its status group — the
    BI staple. Window sum per partition, no global exchange. The
    denominator is a DECIMAL window sum (package convention:
    summation-order-independent, so both engines divide identical
    doubles)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderstatus")
    denom = (
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.round(F.col("o_totalprice") / denom, 9).alias("pct_of_status"),
    )


# --------------------------- trending event types -------------------------
@register(
    "events_trending_types",
    oracle=f"""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
    COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
  FROM events GROUP BY strftime(ts, '%Y-%m-%d'), event_type),
ranked AS (
  SELECT day, event_type, n_events, sum_value,
    CAST(RANK() OVER (PARTITION BY day
                      ORDER BY n_events DESC, event_type) AS INT) AS rnk
  FROM daily)
SELECT day, event_type, n_events, rnk,
  CAST(LAG(rnk) OVER (PARTITION BY event_type ORDER BY day) AS INT)
    AS prev_rank,
  CAST(COALESCE(LAG(rnk) OVER (PARTITION BY event_type ORDER BY day)
                - rnk, 0) AS INT) AS rank_gain
FROM ranked
""",
)
def events_trending_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detector: per-day volume rank of each event type plus
    its day-over-day rank movement (positive = climbing). Two window
    passes over the tiny post-aggregation daily frame — the raw stream
    is touched once by the collapsing count shuffle."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    w_day = Window.partitionBy("day").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    ranked = daily.withColumn("rnk", F.rank().over(w_day).cast("int"))
    w_type = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("rnk").over(w_type).cast("int")
    return ranked.select(
        "day",
        "event_type",
        "n_events",
        "rnk",
        prev.alias("prev_rank"),
        F.coalesce(prev - F.col("rnk"), F.lit(0)).cast("int").alias(
            "rank_gain"
        ),
    )


# ------------------------------ CDC apply ---------------------------------
@register(
    "etl_cdc_apply",
    oracle="""
WITH changes AS (
  SELECT o_orderkey % 1000 AS key, o_totalprice AS amount,
    o_orderkey AS seq,
    CASE WHEN o_orderkey % 7 = 0 THEN 'D'
         WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END AS op
  FROM orders WHERE o_orderkey < 5000),
latest AS (
  SELECT key, amount, op,
    ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
  FROM changes)
SELECT key, amount, op AS last_op
FROM latest WHERE rn = 1 AND op <> 'D'
""",
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY: replay an insert/update/delete change stream in
    sequence order and materialize the surviving state — keep each
    key's LAST operation, drop keys whose last op is a delete. One
    shuffle on the key; at 100 TB this is the per-micro-batch MERGE
    the streaming CDC sink runs (tests/test_streaming.py), here as
    the batch query. The change stream is derived deterministically
    from orders — key = o_orderkey % 1000 folds ~5 sequenced changes
    onto each key (seq = the full orderkey, unique within key), so the
    last-op-wins replay genuinely resolves I/U/D chains rather than
    degenerating to one change per key."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 5000)
    changes = o.select(
        (F.col("o_orderkey") % 1000).alias("key"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 7 == 0, "D")
        .when(F.col("o_orderkey") % 3 == 0, "U")
        .otherwise("I")
        .alias("op"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("seq"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("key", "amount", F.col("op").alias("last_op"))
    )


# --------------------------- column profiler ------------------------------
_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_orderdate"]


@register(
    "etl_profile_columns",
    oracle=" UNION ALL ".join(
        f"""
SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null,
  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
  CAST(MIN({c}) AS VARCHAR) AS min_value,
  CAST(MAX({c}) AS VARCHAR) AS max_value
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def etl_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: long-format per-column stats (rows, nulls,
    distincts, min/max as strings) — the data-discovery report a
    catalog runs on every new table. One aggregate per column over a
    single cached-free scan each; at 100 TB run the distincts as HLL
    (etl_approx_distinct) instead of exact COUNT(DISTINCT)."""
    o = _t(spark, sf_dir, "orders")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            o.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col(c).isNull(), 1).otherwise(0)
                ).alias("n_null"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------ power users -------------------------------
@register(
    "events_power_users",
    oracle=f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_events, {dsum_sql('value')} AS user_value
  FROM events GROUP BY user_id),
tot AS (SELECT CAST(SUM(CAST(user_value AS DECIMAL(28,6))) AS DOUBLE)
          AS total_value FROM per_user),
dec AS (
  SELECT user_id, n_events, user_value,
    CAST(NTILE(10) OVER (ORDER BY user_value DESC, user_id) AS INT)
      AS decile
  FROM per_user)
SELECT decile, COUNT(*) AS n_users,
  CAST(SUM(CAST(user_value AS DECIMAL(28,6))) AS DOUBLE) AS decile_value,
  {dround_div_sql('CAST(SUM(CAST(user_value AS DECIMAL(28,6))) AS DOUBLE)',
                  't.total_value')} AS value_share
FROM dec, tot t
GROUP BY decile, t.total_value
""",
)
def events_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale curve: users bucketed into value deciles, each decile's
    share of total value — the concentration report behind 'top 10%
    of users drive X%'. Deciles come from operators/ranking.with_ntile
    (NTILE's closed form over the global rank: one window when the
    per-user frame fits, range partitions with literal offsets when it
    does not), so the oracle can still say NTILE."""
    from python_etl_spark.operators.ranking import with_ntile

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("user_value"),
    )
    tot = per_user.agg(
        F.sum(F.col("user_value").cast("decimal(28,6)"))
        .cast("double")
        .alias("total_value")
    )
    dec = with_ntile(
        per_user, [F.desc("user_value"), F.asc("user_id")], 10, "decile"
    )
    return (
        dec.crossJoin(F.broadcast(tot))
        .groupBy("decile", "total_value")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("user_value").cast("decimal(28,6)"))
            .cast("double")
            .alias("decile_value"),
        )
        .select(
            "decile",
            "n_users",
            "decile_value",
            dround_div("decile_value", "total_value").alias("value_share"),
        )
    )


# ------------------------------ Benford audit -----------------------------
@register(
    "etl_benford_check",
    oracle="""
WITH digits AS (
  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS d
  FROM orders WHERE o_totalprice >= 1),
obs AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
tot AS (SELECT SUM(n) AS t FROM obs)
SELECT d AS first_digit, n AS observed,
  ROUND(CAST(n AS DOUBLE) / t.t, 6) AS observed_freq,
  ROUND(LOG10(1.0 + 1.0 / d), 6) AS benford_freq,
  ROUND(ABS(CAST(n AS DOUBLE) / t.t - LOG10(1.0 + 1.0 / d)), 6)
    AS abs_deviation
FROM obs, tot t
""",
)
def etl_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: first-digit distribution of order amounts
    vs the log10(1 + 1/d) expectation — the classic anomaly/fraud
    screen for financial columns. One collapsing digit-count shuffle;
    the 9-row expectation is computed in-plan."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("t"))
    benford = F.round(F.log10(1.0 + 1.0 / F.col("d")), 6)
    freq = F.round(F.col("n").cast("double") / F.col("t"), 6)
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("first_digit"),
            F.col("n").alias("observed"),
            freq.alias("observed_freq"),
            benford.alias("benford_freq"),
            F.round(
                F.abs(
                    F.col("n").cast("double") / F.col("t")
                    - F.log10(1.0 + 1.0 / F.col("d"))
                ),
                6,
            ).alias("abs_deviation"),
        )
    )


# --------------------------- inter-event times ----------------------------
@register(
    "events_inter_event_time",
    oracle="""
WITH gaps AS (
  SELECT user_id,
    CAST(date_diff('second', LAG(ts) OVER w, ts) AS BIGINT) AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, COUNT(gap_s) AS n_gaps,
  MIN(gap_s) AS min_gap_s,
  CAST(quantile_cont(gap_s, 0.5) AS DOUBLE) AS median_gap_s,
  CAST(quantile_cont(gap_s, 0.95) AS DOUBLE) AS p95_gap_s,
  MAX(gap_s) AS max_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY user_id
""",
)
def events_inter_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per user: min/median/p95/max gap
    between consecutive events — the cadence signal behind session-gap
    tuning and bot detection. One shuffle on user_id (window + agg
    share the partitioning); exact percentiles over integer-second
    gaps are engine-identical."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # DuckDB date_diff('second') counts SECOND-BOUNDARY crossings
    # (floor(ts) - floor(prev)), not floor(ts - prev) — mirror that.
    sec = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
    gaps = ev.select(
        "user_id",
        (sec - F.lag(sec).over(w)).cast("long").alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        F.min("gap_s").alias("min_gap_s"),
        F.percentile("gap_s", F.lit(0.5)).alias("median_gap_s"),
        F.percentile("gap_s", F.lit(0.95)).alias("p95_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


# ------------------------------ data masking ------------------------------
@register(
    "etl_mask_pii",
    oracle="""
SELECT c_custkey,
  regexp_replace(regexp_replace(regexp_replace(c_name,
    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
    AS name_masked,
  CAST(LENGTH(c_name) AS INT) AS name_len
FROM customer WHERE c_custkey < 1000
""",
)
def etl_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data masking: Spark's built-in mask() (upper->X, lower->x,
    digit->n, punctuation kept) — the column-level PII masking
    primitive for lower-trust zones; format-preserving, so downstream
    LIKE/length logic still works. Zero shuffles."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 1000)
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("name_masked"),
        F.length("c_name").cast("int").alias("name_len"),
    )


# --------------------------- bitmap aggregates ----------------------------
@register(
    "etl_bitmap_distinct",
    oracle="""
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY o_orderstatus
""",
)
def etl_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-aggregate distinct counting (Spark 4 bitmap_* family):
    keys bucket into 32k-bit bitmaps (bitmap_bucket_number +
    bitmap_construct_agg), per-bucket bitmaps OR together map-side,
    and bitmap_count sums set bits. Same result as COUNT(DISTINCT) —
    but the shuffle carries fixed-size bitmaps instead of raw keys,
    the pattern warehouses use for fast exact distinct at scale."""
    o = _t(spark, sf_dir, "orders")
    per_bucket = o.groupBy(
        "o_orderstatus",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(o_custkey))"
        ).alias("bm")
    )
    return per_bucket.groupBy("o_orderstatus").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_customers")
    )


# ------------------------------ xpath funcs -------------------------------
@register(
    "etl_xpath_funcs",
    oracle="""
WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part
           WHERE p_partkey < 500)
SELECT p_partkey,
  w[1] AS first_word,
  CAST(LEN(w) AS INT) AS n_words,
  array_to_string(w, '|') AS all_words
FROM w
""",
)
def etl_xpath_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath over an XML column: the document is built in-plan from
    p_name, then xpath_string / xpath(...) extract nodes — the
    untrusted-XML-field extraction path (the XML SOURCE is
    sources/readers.py, pytest-verified; this is the per-column
    function surface). The oracle derives identical values straight
    from the words, proving the XML round-trip is lossless. Zero
    shuffles."""
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 500)
    words = F.split("p_name", " ", -1)
    xml = F.concat(
        F.lit("<r>"),
        F.array_join(
            F.transform(
                words, lambda t: F.concat(F.lit("<w>"), t, F.lit("</w>"))
            ),
            "",
        ),
        F.lit("</r>"),
    )
    doc = part.select("p_partkey", xml.alias("xml"))
    return doc.select(
        "p_partkey",
        F.xpath_string("xml", F.lit("/r/w[1]")).alias("first_word"),
        F.xpath_int("xml", F.lit("count(/r/w)")).alias("n_words"),
        F.array_join(
            F.xpath("xml", F.lit("/r/w/text()")), "|"
        ).alias("all_words"),
    )


# ------------------------------- URL funcs --------------------------------
@register(
    "etl_url_funcs",
    oracle="""
SELECT p_partkey,
  'https' AS protocol,
  'shop.example.com' AS host,
  '/parts/' || replace(p_name, ' ', '-') AS path,
  CAST(p_partkey AS VARCHAR) AS part_id_param
FROM part WHERE p_partkey < 500
""",
)
def etl_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing: parse_url over URLs constructed in-plan (protocol,
    host, path, and a query parameter) — the clickstream/referrer
    decomposition every web-log ETL needs. The oracle recomputes the
    components from the raw inputs, proving the build+parse round-trip
    exact. Zero shuffles."""
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 500)
    url = F.concat(
        F.lit("https://shop.example.com/parts/"),
        F.regexp_replace("p_name", " ", "-"),
        F.lit("?part_id="),
        F.col("p_partkey").cast("string"),
    )
    u = part.select("p_partkey", url.alias("url"))
    return u.select(
        "p_partkey",
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("part_id")).alias(
            "part_id_param"
        ),
    )


# -------------------------- higher-order funcs ----------------------------
@register(
    "etl_higher_order_funcs",
    oracle="""
WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part
           WHERE p_partkey < 500)
SELECT p_partkey,
  COALESCE(array_to_string(list_filter(w, x -> LENGTH(x) > 4), '|'),
           '') AS long_words,
  CAST(list_aggregate(list_transform(w, x -> CASE WHEN x LIKE '%a%'
       THEN 1 ELSE 0 END), 'max') = 1 AS BOOLEAN) AS any_has_a,
  CAST(list_aggregate(list_transform(w, x -> CASE WHEN LENGTH(x) >= 3
       THEN 1 ELSE 0 END), 'min') = 1 AS BOOLEAN) AS all_len3,
  CAST(list_aggregate(list_transform(w, x -> LENGTH(x)), 'sum')
       AS INT) AS total_chars
FROM w
""",
)
def etl_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas — filter / exists / forall /
    aggregate — the Catalyst-native way to process nested collections
    without exploding or leaving the JVM. All four stay inside
    whole-stage codegen; zero shuffles."""
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 500)
    w = F.split("p_name", " ", -1)
    return part.select(
        "p_partkey",
        F.array_join(
            F.filter(w, lambda x: F.length(x) > 4), "|"
        ).alias("long_words"),
        F.exists(w, lambda x: x.contains("a")).alias("any_has_a"),
        F.forall(w, lambda x: F.length(x) >= 3).alias("all_len3"),
        F.aggregate(
            w, F.lit(0), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
    )


# ------------------------------- hash funcs -------------------------------
@register(
    "etl_hash_funcs",
    oracle="""
SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
  CAST(LENGTH(text) AS INT) AS n_chars
FROM documents
""",
)
def etl_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash surface: md5 + sha2-256 per document — fingerprint
    columns for integrity checks, change detection, and content-hash
    partitioning keys. Pure projection, zero shuffles; xxhash64 (the
    shuffle-key workhorse) is exercised throughout the dedup family
    but isn't SQL-portable, so the oracle pins the portable pair."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("md5_hex"),
        F.sha2(F.encode("text", "UTF-8"), 256).alias("sha256_hex"),
        F.length("text").cast("int").alias("n_chars"),
    )


# ----------------------------- collect_set --------------------------------
@register(
    "etl_collect_set_agg",
    oracle="""
SELECT o_orderstatus,
  array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|')
    AS priorities,
  CAST(LEN(list_distinct(list(o_orderpriority))) AS INT) AS n_distinct
FROM orders GROUP BY o_orderstatus
""",
)
def etl_collect_set_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set aggregation with a deterministic mirror: the set is
    sorted then joined (collection order is partition-dependent, so
    raw collect_set output is never hashable — the sort makes it
    engine- and partitioning-invariant). Partial aggregation merges
    sets map-side."""
    o = _t(spark, sf_dir, "orders")
    s = F.collect_set("o_orderpriority")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.array_sort(s), "|").alias("priorities"),
        F.size(s).alias("n_distinct"),
    )


# ------------------------ first/last-touch journeys -----------------------
@register(
    "events_touch_attribution",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS rn_first,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC,
                       event_id DESC) AS rn_last
  FROM events),
touch AS (
  SELECT user_id,
    MAX(CASE WHEN rn_first = 1 THEN event_type END) AS first_touch,
    MAX(CASE WHEN rn_last = 1 THEN event_type END) AS last_touch
  FROM ranked GROUP BY user_id)
SELECT first_touch, last_touch, COUNT(*) AS n_users
FROM touch GROUP BY first_touch, last_touch
""",
)
def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch x last-touch journey matrix: each user's entry and
    exit event types, counted — the attribution crosstab. min_by /
    max_by collapse each user in ONE aggregate pass (no window, no
    self-join); ties break on event_id via the struct order."""
    ev = _t(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    touch = ev.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_touch"),
        F.max_by("event_type", key).alias("last_touch"),
    )
    return touch.groupBy("first_touch", "last_touch").agg(
        F.count(F.lit(1)).alias("n_users")
    )
