"""Round-4 plans: customer/product analytics, corpus-curation
additions, and the delivery scorecard.

Families in this module (each query's docstring carries its own scale
posture):

* Product analytics — ``events_rfm_segments`` (RFM quartile
  segmentation), ``events_user_lifespan`` (per-user tenure/activity),
  ``events_burst_minutes`` (rate-anomaly minutes).
* Relational reporting — ``etl_decile_report`` (ntile decile stats),
  ``q24_supplier_delivery_scorecard`` (late-shipment rates).
* Corpus curation — ``text_prefix_dedup`` (boilerplate-prefix
  fingerprint dedup, the RefinedWeb-style cheap pre-pass before
  MinHash), ``text_token_len_stats`` (per-language token-length
  distribution for mixture/length curation).

Cross-engine exactness follows plans/common.py: decimal sums, 6-decimal
rounds before comparison, md5 fingerprints both engines can rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_spark.functions.exact import (
    davg_sql,
    dmean,
    dmean_sql,
    dround_div,
    dround_div_sql,
    dsum,
    dsum_sql,
)
from python_etl_spark.plans.common import bc_dim, register
from python_etl_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ------------------------------ RFM segments ------------------------------
@register(
    "events_rfm_segments",
    oracle=f"""
WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
rfm AS (
  SELECT user_id,
    date_diff('day', MAX(ts), (SELECT mx FROM anchor)) AS recency_days,
    COUNT(*) AS frequency,
    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS monetary
  FROM events GROUP BY user_id),
q AS (
  SELECT user_id, recency_days, frequency, monetary,
    NTILE(4) OVER (ORDER BY recency_days, user_id) AS r_q,
    NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
    NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
  FROM rfm)
SELECT r_q, f_q, m_q, COUNT(*) AS n_users,
  {dmean_sql('monetary')} AS avg_monetary
FROM q GROUP BY r_q, f_q, m_q
""",
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile-bucket every user by recency,
    frequency, and monetary value, then profile the segments — the
    classic CRM cut. The raw stream collapses to one row per user
    FIRST (one partial-agg shuffle); each quartile is then assigned by
    operators/ranking.with_ntile: once the per-user frame — |users|
    rows, 10^8–10^9 at 100 TB — outgrows the broadcast threshold, each
    pass is range-partition + per-partition row_number + literal
    offsets, never a single-partition window. Deterministic via
    user_id tie-breaks."""
    from python_etl_spark.operators.ranking import with_ntile

    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("mx"))
    rfm = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("value").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.to_date("mx"), F.to_date("last_ts")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    q = with_ntile(rfm, ["recency_days", "user_id"], 4, out_col="r_q")
    q = with_ntile(
        q, [F.desc("frequency"), F.asc("user_id")], 4, out_col="f_q"
    )
    q = with_ntile(
        q, [F.desc("monetary"), F.asc("user_id")], 4, out_col="m_q"
    )
    q = q.select("monetary", "r_q", "f_q", "m_q")
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_users"),
        dmean("monetary").alias("avg_monetary"),
    )


# ----------------------------- decile report ------------------------------
@register(
    "etl_decile_report",
    oracle=f"""
WITH d AS (
  SELECT o_totalprice,
    NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders)
SELECT decile, COUNT(*) AS n_orders,
  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
  ROUND({davg_sql('o_totalprice')}, 6) AS avg_price,
  ROUND({dsum_sql('o_totalprice')}, 2) AS total_value
FROM d GROUP BY decile
""",
)
def etl_decile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding of order value — the distribution report every
    revenue dashboard starts with. NTILE(10) semantics via
    operators/ranking.with_ntile: past the broadcast threshold,
    range-partition on (o_totalprice, o_orderkey), per-partition
    row_number, literal offsets, decile in closed form — the orders
    fact never funnels through one task. The deterministic o_orderkey
    tie-break makes bucket edges engine-identical to the oracle's
    windowed NTILE."""
    from python_etl_spark.operators.ranking import with_ntile

    o = _t(spark, sf_dir, "orders")
    d = with_ntile(
        o.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        10,
        out_col="decile",
    ).select("o_totalprice", "decile")
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(
            dsum("o_totalprice") / F.count(F.lit(1)), 6
        ).alias("avg_price"),
        F.round(dsum("o_totalprice"), 2).alias("total_value"),
    )


# ----------------------------- user lifespan ------------------------------
@register(
    "events_user_lifespan",
    oracle="""
SELECT user_id,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
  date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
    AS span_days,
  COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS active_days,
  COUNT(*) AS n_events
FROM events GROUP BY user_id
""",
)
def events_user_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifespan: first/last activity, calendar span, distinct
    active days, volume — the churn-model feature block. One groupBy
    shuffle on user_id; COUNT(DISTINCT day) rewrites to a two-level
    aggregate (partial per (user, day), then per user) in both
    engines. Timestamps emit as second-precision strings so the
    comparison is representation-independent."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_seen"
        ),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_seen"
        ),
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts"))).alias(
            "span_days"
        ),
        F.countDistinct(F.date_format("ts", "yyyy-MM-dd")).alias(
            "active_days"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


# ----------------------------- prefix dedup -------------------------------
_PREFIX_TOKENS = 16


@register(
    "text_prefix_dedup",
    oracle=f"""
WITH fp AS (
  SELECT doc_id,
    md5(array_to_string(string_split(text, ' ')[1:{_PREFIX_TOKENS}], ' '))
      AS prefix_fp
  FROM documents)
SELECT prefix_fp, MIN(doc_id) AS keeper_doc_id,
  COUNT(*) AS n_docs
FROM fp GROUP BY prefix_fp HAVING COUNT(*) > 1
""",
)
def text_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup: md5 of the first 16 tokens groups
    docs sharing a boilerplate opening (the RefinedWeb-style cheap
    pre-pass that catches templated pages before MinHash spends real
    money). Pure narrow map + one partial-agg-friendly groupBy on a
    16-byte key; at 100 TB this is the first filter in the dedup
    cascade because it costs one scan."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(
            F.encode(
                F.concat_ws(
                    " ",
                    F.slice(F.split("text", " ", -1), 1, _PREFIX_TOKENS),
                ),
                "UTF-8",
            )
        ).alias("prefix_fp"),
    )
    return (
        fp.groupBy("prefix_fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
    )


# --------------------------- token length stats ---------------------------
@register(
    "text_token_len_stats",
    oracle=f"""
WITH t AS (
  SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
SELECT lang, COUNT(*) AS n_docs,
  {dmean_sql('n_tokens')} AS avg_tokens,
  ROUND(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
  ROUND(quantile_cont(n_tokens, 0.95), 6) AS p95_tokens,
  MAX(n_tokens) AS max_tokens
FROM t GROUP BY lang
""",
)
def text_token_len_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per language — the length-curation
    input (Gopher-style length filters pick their thresholds from
    exactly this table). One narrow tokenize + one groupBy on lang;
    exact interpolating percentiles at test scale, with
    percentile_approx as the documented single-pass swap at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang", F.size(F.split("text", " ", -1)).alias("n_tokens")
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dmean("n_tokens").alias("avg_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.95)"), 6).alias(
            "p95_tokens"
        ),
        F.max("n_tokens").alias("max_tokens"),
    )


# ----------------------------- burst minutes ------------------------------
@register(
    "events_burst_minutes",
    oracle="""
WITH per_min AS (
  SELECT strftime(ts, '%Y-%m-%d %H:%M') AS minute, COUNT(*) AS cnt
  FROM events GROUP BY minute),
stats AS (
  SELECT AVG(cnt) AS mu, stddev_pop(cnt) AS sigma FROM per_min)
SELECT minute, cnt,
  ROUND((cnt - mu) / sigma, 6) AS zscore
FROM per_min CROSS JOIN stats
WHERE cnt > mu + 3 * sigma
""",
)
def events_burst_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst detection: minutes whose event count exceeds the
    global mean by 3 sigma — the ops-alerting primitive. The stream
    collapses to per-minute counts first (partial-agg shuffle to
    |minutes| rows); mean/stddev are a 1-row aggregate broadcast back.
    AVG over exact integer counts is engine-identical; no decimal
    scaffolding needed."""
    ev = _t(spark, sf_dir, "events")
    per_min = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("minute")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_min.agg(
        F.avg("cnt").alias("mu"), F.stddev_pop("cnt").alias("sigma")
    )
    return (
        per_min.crossJoin(F.broadcast(stats))
        .where(F.col("cnt") > F.col("mu") + 3 * F.col("sigma"))
        .select(
            "minute",
            "cnt",
            F.round((F.col("cnt") - F.col("mu")) / F.col("sigma"), 6).alias(
                "zscore"
            ),
        )
    )


# ------------------------ supplier delivery scorecard ---------------------
_LATE_DAYS = 60


@register(
    "q24_supplier_delivery_scorecard",
    oracle=f"""
WITH lag AS (
  SELECT l_suppkey,
    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
      AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT s_suppkey, s_name, COUNT(*) AS n_shipments,
  CAST(SUM(CASE WHEN lag_days > {_LATE_DAYS} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_late,
  {dmean_sql(f"CASE WHEN lag_days > {_LATE_DAYS} THEN 1 ELSE 0 END")}
    AS late_rate,
  {dmean_sql("lag_days")} AS avg_lag_days
FROM lag JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
HAVING COUNT(*) >= 10
""",
)
def q24_supplier_delivery_scorecard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier delivery scorecard: order-to-ship lag and the rate of
    shipments slower than 60 days, per supplier — the vendor-SLA
    report. The lineitem-orders join shuffles only the pruned
    (l_orderkey, l_suppkey, l_shipdate) columns; the supplier dim then
    attaches via broadcast (KBs at any SF); one partial-agg-friendly
    groupBy on s_suppkey."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("lag_days"),
    )
    late_flag = F.when(F.col("lag_days") > _LATE_DAYS, 1).otherwise(0)
    return (
        lag.join(bc_dim(s), lag.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_shipments"),
            F.sum(late_flag).cast("long").alias("n_late"),
            dmean(late_flag).alias("late_rate"),
            dmean("lag_days").alias("avg_lag_days"),
        )
        .where(F.col("n_shipments") >= 10)
    )


# --------------------------- activity streaks -----------------------------
@register(
    "win_streak_detection",
    oracle="""
WITH du AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
islands AS (
  SELECT user_id, d,
    d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
             AS INTEGER) AS grp
  FROM du),
s AS (
  SELECT user_id, grp, COUNT(*) AS len
  FROM islands GROUP BY user_id, grp)
SELECT user_id, MAX(len) AS longest_streak,
  CAST(SUM(len) AS BIGINT) AS n_active_days, COUNT(*) AS n_streaks
FROM s GROUP BY user_id
""",
)
def win_streak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE active days per
    user — the engagement-streak metric. The classic date-minus-
    row_number island id; the stream collapses to distinct (user, day)
    first, so the window runs over <=|users|x|days| rows with one
    shuffle on user_id, and both aggregations are partial-agg
    friendly."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = du.select(
        "user_id",
        F.date_sub("d", F.row_number().over(w)).alias("grp"),
    )
    s = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return s.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ---------------------------- date dimension ------------------------------
@register(
    "etl_date_dim",
    oracle="""
WITH bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders),
d AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
    AS day
  FROM bounds)
SELECT strftime(day, '%Y-%m-%d') AS day,
  CAST(EXTRACT(year FROM day) AS INT) AS year,
  CAST(EXTRACT(quarter FROM day) AS INT) AS quarter,
  CAST(EXTRACT(month FROM day) AS INT) AS month,
  CAST(EXTRACT(day FROM day) AS INT) AS day_of_month,
  CAST(EXTRACT(isodow FROM day) AS INT) AS iso_dow,
  CAST(CASE WHEN EXTRACT(day FROM day) = 1 THEN 1 ELSE 0 END AS INT)
    AS is_month_start,
  CAST(CASE WHEN day = last_day(day) THEN 1 ELSE 0 END AS INT)
    AS is_month_end
FROM d
""",
)
def etl_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date dimension spanning the fact table's date range —
    the ETL staple every calendar join starts from. A 1-row bounds
    aggregate explodes into one row per day (sequence + explode, no
    driver loop); attributes are pure column expressions. ISO weekday
    (Mon=1..Sun=7) avoids the engines' differing default dow origins.
    At any SF the dimension is O(days) — thousands of rows."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.to_date(F.min("o_orderdate")).alias("lo"),
        F.to_date(F.max("o_orderdate")).alias("hi"),
    )
    d = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    return d.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.year("day").alias("year"),
        F.quarter("day").alias("quarter"),
        F.month("day").alias("month"),
        F.dayofmonth("day").alias("day_of_month"),
        (F.weekday("day") + 1).cast("int").alias("iso_dow"),
        F.when(F.dayofmonth("day") == 1, 1).otherwise(0).cast("int")
        .alias("is_month_start"),
        F.when(F.col("day") == F.last_day("day"), 1).otherwise(0)
        .cast("int").alias("is_month_end"),
    )


# ---------------------------- null-safe join ------------------------------
@register(
    "etl_null_safe_join",
    oracle="""
WITH k AS (
  SELECT o_orderkey, NULLIF(o_orderkey % 5, 0) AS grp
  FROM orders WHERE o_orderkey < 2000)
SELECT a.grp AS grp, COUNT(*) AS n_pairs
FROM k a JOIN k b ON a.grp IS NOT DISTINCT FROM b.grp
GROUP BY a.grp
""",
)
def etl_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out — the semantic needed
    when NULL is a real category (unknown segment, missing source).
    Spark plans <=> as a proper hash join key (EqualNullSafe), so this
    stays a shuffle equijoin, not a nested loop, at any scale."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    k = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderkey") % 5, F.lit(0)).alias("grp"),
    )
    a = k.select(F.col("grp").alias("grp"))
    b = k.select(F.col("grp").alias("grp_b"))
    return (
        a.join(b, F.col("grp").eqNullSafe(F.col("grp_b")))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ----------------------------- cohort LTV ---------------------------------
@register(
    "events_cohort_ltv",
    oracle="""
WITH firsts AS (
  SELECT user_id,
    CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id),
weekly AS (
  SELECT f.cohort_week,
    CAST(date_diff('day', f.cohort_week,
         CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
      AS weeks_since,
    COUNT(DISTINCT e.user_id) AS active_users,
    CAST(SUM(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS revenue
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  GROUP BY 1, 2)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, weeks_since,
  active_users, ROUND(revenue, 6) AS revenue,
  ROUND(CAST(SUM(CAST(revenue AS DECIMAL(28,6))) OVER (
    PARTITION BY cohort_week ORDER BY weeks_since) AS DOUBLE), 6)
    AS cum_revenue
FROM weekly
""",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: revenue per (signup-week cohort, weeks
    since signup) with the running cumulative — the LTV curve input.
    Two shuffles: the per-user firsts aggregate, and the (cohort,
    week) rollup after a broadcast-joinable firsts attach; the cumsum
    window runs over the tiny cohort x week frame. Decimal sums keep
    the running totals engine-identical."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    weekly = (
        ev.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))),
                    F.col("cohort_week"),
                )
                / 7
            ).cast("long").alias("weeks_since"),
        )
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            dsum("value").alias("revenue"),
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return weekly.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "weeks_since",
        "active_users",
        F.round("revenue", 6).alias("revenue"),
        F.round(
            F.sum(F.col("revenue").cast("decimal(28,6)")).over(w)
            .cast("double"),
            6,
        ).alias("cum_revenue"),
    )


# -------------------------- dedup cascade report --------------------------
@register(
    "text_dedup_cascade_report",
    oracle=f"""
WITH raw AS (SELECT doc_id, text FROM documents),
exact_k AS (
  SELECT MIN(doc_id) AS doc_id FROM raw GROUP BY md5(text)),
exact_s AS (
  SELECT r.doc_id, r.text FROM raw r
  JOIN exact_k k ON r.doc_id = k.doc_id),
prefix_k AS (
  SELECT MIN(doc_id) AS doc_id FROM exact_s
  GROUP BY md5(array_to_string(
    string_split(text, ' ')[1:{_PREFIX_TOKENS}], ' '))),
stages AS (
  SELECT 1 AS stage_no, 'raw' AS stage,
    (SELECT COUNT(*) FROM raw) AS docs_out
  UNION ALL
  SELECT 2, 'exact_md5', (SELECT COUNT(*) FROM exact_k)
  UNION ALL
  SELECT 3, 'prefix_fp', (SELECT COUNT(*) FROM prefix_k))
SELECT stage_no, stage, docs_out,
  docs_out - LEAD(docs_out) OVER (ORDER BY stage_no) AS removed_next
FROM stages
""",
)
def text_dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cascade accounting: documents surviving each stage of the
    production cascade (raw -> exact-hash -> prefix-fingerprint), with
    per-stage removal counts — the report a curation run publishes.
    Stages are keeper-count aggregates (min doc_id per fingerprint),
    each one scan + one partial-agg shuffle; the cascade order mirrors
    cost (cheapest filters first) exactly as a 100 TB pipeline runs
    it. MinHash would be stage 4; its candidate volume is measured
    separately by dedup_lsh_bucket_stats."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    exact_k = docs.groupBy(F.md5(F.encode("text", "UTF-8"))).agg(
        F.min("doc_id").alias("doc_id")
    )
    exact_s = docs.join(exact_k.select("doc_id"), "doc_id")
    prefix_fp = F.md5(
        F.encode(
            F.concat_ws(
                " ", F.slice(F.split("text", " ", -1), 1, _PREFIX_TOKENS)
            ),
            "UTF-8",
        )
    )
    prefix_k = exact_s.groupBy(prefix_fp).agg(
        F.min("doc_id").alias("doc_id")
    )
    spark_counts = [
        (1, "raw", docs),
        (2, "exact_md5", exact_k),
        (3, "prefix_fp", prefix_k),
    ]
    stages = None
    for no, name, frame in spark_counts:
        row = frame.agg(F.count(F.lit(1)).alias("docs_out")).select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            "docs_out",
        )
        stages = row if stages is None else stages.unionByName(row)
    w = Window.orderBy("stage_no")
    return stages.select(
        "stage_no",
        "stage",
        "docs_out",
        (F.col("docs_out") - F.lead("docs_out").over(w)).alias(
            "removed_next"
        ),
    )


# ------------------------- nation trade balance ---------------------------
@register(
    "q25_nation_trade_balance",
    oracle=f"""
WITH rev AS (
  SELECT l_orderkey, l_suppkey,
    l_extendedprice * (1 - l_discount) AS amount
  FROM lineitem),
supply AS (
  SELECT n_name,
    {dsum_sql('amount')} AS supply_value
  FROM rev
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name),
purchase AS (
  SELECT n_name,
    {dsum_sql('amount')} AS purchase_value
  FROM rev
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name)
SELECT n_name,
  ROUND(COALESCE(s.supply_value, 0), 2) AS supply_value,
  ROUND(COALESCE(p.purchase_value, 0), 2) AS purchase_value,
  ROUND(COALESCE(s.supply_value, 0) - COALESCE(p.purchase_value, 0), 2)
    AS balance
FROM supply s FULL OUTER JOIN purchase p USING (n_name)
""",
)
def q25_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation trade balance: revenue supplied BY each nation's
    suppliers vs revenue purchased BY its customers, and the balance —
    a two-path star join over the same fact scan. Both paths broadcast
    their dims (supplier/customer/nation are small at any SF relative
    to lineitem) and partial-aggregate to 25 nation rows before the
    full-outer stitch; the fact table shuffles only for the orders
    attach on the purchase path."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "amount"
        ),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supply = (
        rev.join(bc_dim(sup), rev.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("amount").alias("supply_value"))
    )
    purchase = (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .join(bc_dim(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("amount").alias("purchase_value"))
    )
    return supply.join(purchase, ["n_name"], "full_outer").select(
        "n_name",
        F.round(F.coalesce("supply_value", F.lit(0.0)), 2).alias(
            "supply_value"
        ),
        F.round(F.coalesce("purchase_value", F.lit(0.0)), 2).alias(
            "purchase_value"
        ),
        F.round(
            F.coalesce("supply_value", F.lit(0.0))
            - F.coalesce("purchase_value", F.lit(0.0)),
            2,
        ).alias("balance"),
    )


# ------------------------- new vs returning users -------------------------
@register(
    "events_new_vs_returning",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS first_day
  FROM events GROUP BY user_id),
du AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
daily AS (
  SELECT du.day, COUNT(*) AS active_users,
    CAST(SUM(CASE WHEN f.first_day = du.day THEN 1 ELSE 0 END)
      AS BIGINT) AS new_users,
    CAST(SUM(CASE WHEN f.first_day <> du.day THEN 1 ELSE 0 END)
      AS BIGINT) AS returning_users
  FROM du JOIN firsts f ON du.user_id = f.user_id
  GROUP BY du.day)
SELECT day, active_users, new_users, returning_users,
  CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT)
    AS cumulative_users
FROM daily
""",
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning split per day plus the cumulative user count —
    the growth-accounting report. The stream collapses to distinct
    (day, user) and per-user first days (two partial-agg shuffles on
    user_id); the cumsum window runs over the tiny per-day frame.
    first_day attaches via a shuffle join on user_id — both sides are
    already user-keyed, and at 100 TB the firsts frame is |users| rows
    (broadcastable only for small products, so no hint)."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    du = ev.select(day.alias("day"), "user_id").distinct()
    daily = (
        du.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            ).cast("long").alias("new_users"),
            F.sum(
                F.when(F.col("first_day") != F.col("day"), 1).otherwise(0)
            ).cast("long").alias("returning_users"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "active_users",
        "new_users",
        "returning_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


# ------------------------- month-over-month change ------------------------
@register(
    "etl_percent_change_mom",
    oracle=f"""
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
    {dsum_sql('o_totalprice')} AS revenue, COUNT(*) AS n_orders
  FROM orders GROUP BY month)
SELECT month, ROUND(revenue, 2) AS revenue, n_orders,
  {dround_div_sql('100.0 * (revenue - LAG(revenue) OVER (ORDER BY month))',
                  'LAG(revenue) OVER (ORDER BY month)')} AS pct_change
FROM monthly
""",
)
def etl_percent_change_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change — the trend KPI every finance
    dashboard leads with. One partial-agg shuffle collapses orders to
    |months| rows; the LAG window runs over that tiny frame (its
    single-partition exchange carries months, not orders). Decimal
    revenue sums keep the percent change engine-identical."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        dsum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        F.round("revenue", 2).alias("revenue"),
        "n_orders",
        dround_div(100.0 * (F.col("revenue") - prev), prev).alias(
            "pct_change"
        ),
    )


# ----------------------- median absolute deviation ------------------------
@register(
    "win_median_abs_deviation",
    oracle="""
WITH med AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY o_orderpriority)
SELECT o.o_orderpriority,
  ROUND(MIN(m.med), 6) AS median_price,
  ROUND(quantile_cont(ABS(o.o_totalprice - m.med), 0.5), 6) AS mad
FROM orders o JOIN med m USING (o_orderpriority)
GROUP BY o.o_orderpriority
""",
)
def win_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    companion to etl_robust_scale's IQR. Two grouped exact-percentile
    passes: group medians (25 rows) broadcast back onto an unshuffled
    scan, then one aggregation of the absolute deviations. At 100 TB
    swap percentile for percentile_approx in both passes (documented
    sketch path, single-digit-permille error)."""
    o = _t(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    return (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.min("med"), 6).alias("median_price"),
            F.round(
                F.expr(
                    "percentile(abs(o_totalprice - med), 0.5)"
                ),
                6,
            ).alias("mad"),
        )
    )


# ------------------------- weighted reservoir sample ----------------------
def _hex4_sql() -> str:
    def hv(pos):
        a = f"ASCII(SUBSTR(md5(CAST(doc_id AS VARCHAR)), {pos}, 1))"
        return f"(CASE WHEN {a} <= 57 THEN {a} - 48 ELSE {a} - 87 END)"

    return " + ".join(
        f"{hv(p)} * {16 ** (3 - i)}" for i, p in enumerate(range(1, 5))
    )


@register(
    "etl_weighted_reservoir",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, lang,
    LN(CAST(({_hex4_sql()}) + 1 AS DOUBLE) / 65536.0)
      / ((length(source) % 5 + 1) / 10.0) AS akey
  FROM documents),
ranked AS (
  SELECT doc_id, source, lang,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY akey DESC, doc_id)
      AS rn
  FROM keyed)
SELECT source, doc_id, lang FROM ranked WHERE rn <= 20
""",
)
def etl_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis–Spirakis A-ES): keep a
    FIXED-SIZE sample of 20 docs per source, inclusion probability
    proportional to weight — the fixed-budget companion to
    etl_weighted_sample's Bernoulli fractions. Key = ln(u)/w with u a
    deterministic md5-uniform, so both engines rank bit-identical
    doubles; one window shuffle on source. At 100 TB this is the
    standard one-pass distributed reservoir: per-partition top-k heaps
    then a k-per-group merge, here expressed as the equivalent
    window + filter that Catalyst runs with per-source partitions."""
    docs = _t(spark, sf_dir, "documents")

    def hexval(pos: int):
        a = F.ascii(
            F.substring(
                F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")),
                pos,
                1,
            )
        )
        return F.when(a <= 57, a - 48).otherwise(a - 87)

    v = sum(
        (hexval(p) * (16 ** (3 - i)) for i, p in enumerate(range(1, 5))),
        F.lit(0),
    )
    wt = (F.length("source") % 5 + 1).cast("double") / 10.0
    akey = F.log((v + 1).cast("double") / 65536.0) / wt
    return (
        docs.select("doc_id", "source", "lang", akey.alias("akey"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.desc("akey"), F.asc("doc_id")
                )
            ),
        )
        .where(F.col("rn") <= 20)
        .select("source", "doc_id", "lang")
    )



# The Spark side builds its day spine with an unbounded sequence(d0, d1);
# DuckDB's range() refuses lateral column bounds (r8 lesson), so the
# oracle over-generates a CONSTANT range and filters to <= d1. 100000
# days ≈ 273 years — far past any event-log span this engine targets —
# keeping the two spines equivalent without a silent divergence window.
_DENSE_DAILY_DAYS = 100000

_DENSE_DAILY_SQL = f"""
bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM events),
spine AS (
  SELECT t.event_type, b.d0 + CAST(g.i AS INT) AS day
  FROM (SELECT DISTINCT event_type FROM events) t,
       bounds b, range({_DENSE_DAILY_DAYS}) g(i)
  WHERE b.d0 + CAST(g.i AS INT) <= b.d1),
counts AS (
  SELECT s.event_type, s.day, CAST(COALESCE(c.n, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN (
    SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
    FROM events GROUP BY 1, 2) c
  ON s.event_type = c.event_type AND s.day = c.day)
"""


def _dense_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled (event_type, day, c) daily counts — the shared input
    of events_autocorr / events_changepoint. One corpus-collapsing
    groupBy, then spine join on the tiny frame."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    counts = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("long").alias("n")
    )
    bounds = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(d0, d1, interval 1 day)")
            ).alias("day"),
        )
    )
    return spine.join(counts, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("c")
    )


@register(
    "events_changepoint",
    oracle=f"""
WITH {_DENSE_DAILY_SQL},
cusum AS (
  SELECT event_type, day,
    ROW_NUMBER() OVER w AS t,
    SUM(c) OVER (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS p,
    SUM(c) OVER (PARTITION BY event_type) AS s,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM counts WINDOW w AS (PARTITION BY event_type ORDER BY day))
SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day,
  CAST(abs(n*p - t*s) AS BIGINT) AS cusum_peak,
  CAST(n AS BIGINT) AS n_days
FROM cusum
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
  ORDER BY abs(n*p - t*s) DESC, day ASC) = 1
""",
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint over the dense daily count series per event
    type: the day t maximizing |n*P_t - t*S| (the classic cumulative-
    deviation statistic Σ(c_i - mean) scaled by n so it stays an exact
    BIGINT — no rational mean, no floats anywhere). Reports the argmax
    day (earliest on ties), the integer peak, and the series length;
    a level shift in event volume lands the peak at the shift
    boundary. Shares the date-spine gap-fill with events_autocorr.

    Scale posture: identical to events_autocorr — the corpus collapses
    to |types| x |days| rows in one groupBy; cumulative-sum and argmax
    windows run per-type on the tiny series."""
    dense = _dense_daily_counts(spark, sf_dir)
    wd = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    cusum = dense.select(
        "event_type",
        "day",
        F.row_number().over(wd).alias("t"),
        F.sum("c")
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("p"),
        F.sum("c").over(wall).alias("s"),
        F.count("*").over(wall).alias("n"),
    )
    stat = F.abs(
        F.col("n") * F.col("p") - F.col("t") * F.col("s")
    )
    pick = Window.partitionBy("event_type").orderBy(
        stat.desc(), F.asc("day")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
            stat.cast("long").alias("cusum_peak"),
            F.col("n").cast("long").alias("n_days"),
        )
    )


@register(
    "events_autocorr",
    oracle=f"""
WITH {_DENSE_DAILY_SQL},
pairs AS (
  SELECT event_type,
    LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS x, c AS y
  FROM counts QUALIFY x IS NOT NULL),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x*y) AS BIGINT) AS sxy,
    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
  FROM pairs GROUP BY event_type)
SELECT event_type, n AS n_pairs,
  CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN NULL
    ELSE ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
      / (SQRT(CAST(n*sxx - sx*sx AS DOUBLE))
         * SQRT(CAST(n*syy - sy*sy AS DOUBLE))), 8) END AS autocorr_lag1
FROM stats
""",
)
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the DENSE daily event-count series per
    event type — the day-over-day persistence statistic behind
    seasonality/trend triage (a value near 0 says yesterday's volume
    tells you nothing about today's). Dense matters: missing (type,
    day) combos count as ZERO, not as absent rows, so the series is
    gap-filled from the shared date spine (_dense_daily_counts) before
    lagging. The correlation is assembled from integer sufficient
    statistics (counts are exact BIGINTs; one double division at the
    end, rounded to 8 — the etl_corr posture), so both engines produce
    the identical value; zero-variance series yield NULL identically.

    Scale posture: one groupBy(type, day) pre-aggregates the corpus to
    |types| x |days| rows — everything after (spine join, lag window,
    moment sums) runs on that tiny frame."""
    dense = _dense_daily_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = (
        dense.withColumn("x", F.lag("c").over(w))
        .where(F.col("x").isNotNull())
        .select("event_type", "x", F.col("c").alias("y"))
    )
    x, y = F.col("x"), F.col("y")
    st = pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    r = F.when((vx == 0) | (vy == 0), F.lit(None)).otherwise(
        F.round(
            (n * sxy - sx * sy).cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
            8,
        )
    )
    return st.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        r.alias("autocorr_lag1"),
    )


@register(
    "events_seasonal_dow",
    oracle=f"""
WITH {_DENSE_DAILY_SQL},
t AS (
  SELECT event_type, day, c,
    SUM(c) OVER w AS sum7, COUNT(*) OVER w AS cnt7
  FROM counts WINDOW w AS (PARTITION BY event_type ORDER BY day
    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
d AS (
  SELECT event_type, isodow(day) AS dow, 7*c - sum7 AS dev7
  FROM t WHERE cnt7 = 7)
SELECT event_type, CAST(dow AS INT) AS dow,
  CAST(COUNT(*) AS BIGINT) AS n_days,
  CAST(SUM(dev7) AS BIGINT) AS dev7_sum,
  {dround_div_sql('SUM(dev7)', '7*COUNT(*)', scale=3, in_scale=0)}
    AS mean_dev_milli
FROM d GROUP BY 1, 2
""",
)
def events_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality factors — the decomposition step between
    events_autocorr (is there structure?) and events_changepoint
    (where did the level shift?): detrend the dense daily series with
    a CENTERED 7-day moving average and profile the residual by ISO
    day-of-week. Everything stays integer: the detrended value is
    scaled by 7 (7*c - sum7, so no rational trend appears), only
    complete 7-day windows contribute, and the per-dow mean deviation
    is reported in milli-counts via half-away-from-zero exact integer
    division (dround_div) — engine-identical including negatives.

    Scale posture: the corpus collapses to |types| x |days| rows in
    the shared _dense_daily_counts groupBy; the centered window and
    the dow rollup run on that tiny frame."""
    dense = _dense_daily_counts(spark, sf_dir)
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    t = dense.select(
        "event_type",
        "day",
        "c",
        F.sum("c").over(w7).alias("sum7"),
        F.count("*").over(w7).alias("cnt7"),
    ).where(F.col("cnt7") == 7)
    d = t.select(
        "event_type",
        (F.weekday("day") + 1).cast("int").alias("dow"),
        (7 * F.col("c") - F.col("sum7")).cast("long").alias("dev7"),
    )
    return d.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("dev7").cast("long").alias("dev7_sum"),
        dround_div(
            F.sum("dev7"), 7 * F.count("*"), scale=3, in_scale=0
        ).alias("mean_dev_milli"),
    )


@register(
    "events_shapley_attribution",
    oracle=f"""
WITH conv AS (
  SELECT user_id, MIN(ts) AS cts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id),
touch AS (
  SELECT DISTINCT e.user_id, e.event_type AS channel
  FROM events e JOIN conv ON conv.user_id = e.user_id
  WHERE e.event_type <> 'purchase' AND e.ts < conv.cts),
sizes AS (SELECT user_id, COUNT(*) AS k FROM touch GROUP BY user_id),
credit AS (
  SELECT t.channel, 12 // s.k AS c12
  FROM touch t JOIN sizes s ON s.user_id = t.user_id
  UNION ALL
  SELECT 'direct' AS channel, 12 AS c12
  FROM conv WHERE user_id NOT IN (SELECT user_id FROM sizes)),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_conv FROM conv)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(c12) AS BIGINT) AS shapley_credit_12,
  {dround_div_sql('SUM(c12)', '12 * (SELECT n_conv FROM tot)',
                  scale=3, in_scale=0)} AS share
FROM credit GROUP BY channel
""",
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution for the OR-coalition game:
    each converting user's characteristic function is v(T) = 1 iff T
    touches any channel the user saw before their first purchase — by
    player symmetry the Shapley value of each touched channel is
    exactly 1/|S|, the symmetric credit split (users with no prior
    touches credit a 'direct' channel). Credits stay integer by
    scaling with 12 = lcm(1..4) (at most 4 non-conversion channels, so
    12/|S| is exact); channel shares come out through exact integer
    division (dround_div). The multi-touch upgrade of
    events_touch_attribution's first/last crosstab.

    Scale posture: one groupBy(user) for first conversions, one
    distinct over (user, channel) — both key-partitioned corpus
    passes; credit assembly and the share division run on |channels|
    rows with a one-row broadcast total."""
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"))
    )
    touch = (
        ev.join(conv, "user_id")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("ts") < F.col("cts"))
        )
        .select("user_id", F.col("event_type").alias("channel"))
        .distinct()
    )
    sizes = touch.groupBy("user_id").agg(F.count("*").alias("k"))
    credit = touch.join(sizes, "user_id").select(
        "channel", (F.lit(12) / F.col("k")).cast("long").alias("c12")
    )
    direct = (
        conv.join(sizes, "user_id", "left_anti")
        .select(
            F.lit("direct").alias("channel"),
            F.lit(12).cast("long").alias("c12"),
        )
    )
    tot = conv.agg(F.count("*").alias("n_conv"))
    return (
        credit.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("c12").cast("long").alias("shapley_credit_12"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_users",
            "shapley_credit_12",
            dround_div(
                F.col("shapley_credit_12"),
                12 * F.col("n_conv"),
                scale=3,
                in_scale=0,
            ).alias("share"),
        )
    )


@register(
    "q26_repeat_customers",
    oracle=f"""
WITH cy AS (
  SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS INT) AS y
  FROM orders),
base AS (
  SELECT a.y, COUNT(*) AS n_customers,
    SUM(CASE WHEN b.o_custkey IS NULL THEN 0 ELSE 1 END) AS n_repeat
  FROM cy a LEFT JOIN cy b
    ON b.o_custkey = a.o_custkey AND b.y = a.y + 1
  GROUP BY a.y)
SELECT y AS order_year, CAST(n_customers AS BIGINT) AS n_customers,
  CAST(n_repeat AS BIGINT) AS n_repeat,
  {dround_div_sql('n_repeat', 'n_customers', scale=4, in_scale=0)}
    AS repeat_rate
FROM base
""",
)
def q26_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year repeat-purchase rate: of the customers who
    ordered in year Y, the share that ordered again in Y+1 — the
    retention headline of the relational suite (events_retention_
    cohorts is the event-stream twin). The final year's rate is
    honestly 0 (no Y+1 data), not NULL, matching the LEFT JOIN both
    engines run. Rates via exact integer division at 4 decimals.

    Scale posture: orders collapses to DISTINCT (custkey, year) in one
    partial-agg pass; the self-join is an equi join on (custkey,
    year+1) — key-partitioned, fan-out 1, no window, no broadcast of
    an SF-scaling side."""
    o = _t(spark, sf_dir, "orders")
    cy = o.select(
        "o_custkey", F.year("o_orderdate").cast("int").alias("y")
    ).distinct()
    nxt = cy.select(
        F.col("o_custkey").alias("ck"), (F.col("y") - 1).alias("py")
    )
    base = (
        cy.join(
            nxt,
            (cy.o_custkey == nxt.ck) & (cy.y == nxt.py),
            "left",
        )
        .groupBy(cy.y.alias("order_year"))
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum(
                F.when(F.col("ck").isNull(), 0).otherwise(1)
            ).cast("long").alias("n_repeat"),
        )
    )
    return base.select(
        "order_year",
        "n_customers",
        "n_repeat",
        dround_div(
            F.col("n_repeat"), F.col("n_customers"), scale=4, in_scale=0
        ).alias("repeat_rate"),
    )


@register(
    "events_rolling_wau",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM events),
spine AS (
  SELECT b.d0 + CAST(g.i AS INT) AS day
  FROM bounds b, range({_DENSE_DAILY_DAYS}) g(i)
  WHERE b.d0 + CAST(g.i AS INT) <= b.d1)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
  CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS rolling_wau,
  CAST(COUNT(*) AS BIGINT) AS user_days
FROM spine s JOIN ud
  ON ud.day <= s.day AND ud.day > s.day - 7
GROUP BY s.day
""",
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users for EVERY calendar day (the smooth
    WAU curve; events_dau_wau reports the point stats). Windows can't
    COUNT(DISTINCT) natively, so the scale-safe plan is the standard
    rewrite: collapse the corpus to distinct (user, day) rows FIRST,
    then fan each user-day out to the <= 7 spine days it supports (a
    bounded range join — the interval-join trick) and count distinct
    users per spine day. Day arithmetic only; counts exact.

    Scale posture: the corpus pass is one distinct over (user, day);
    the range join multiplies that tiny frame by at most 7, and the
    final COUNT(DISTINCT) rewrites to a two-level aggregate in both
    engines. No per-event window, no collect_set of user ids."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    ud = ev.distinct()
    bounds = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias(
            "sday"
        )
    )
    hits = ud.join(
        F.broadcast(spine),
        (F.col("day") <= F.col("sday"))
        & (F.col("day") > F.date_sub(F.col("sday"), 7)),
    )
    return hits.groupBy(
        F.date_format("sday", "yyyy-MM-dd").alias("day")
    ).agg(
        F.countDistinct("user_id").cast("long").alias("rolling_wau"),
        F.count("*").cast("long").alias("user_days"),
    )


@register(
    "events_forecast_backtest",
    oracle=f"""
WITH {_DENSE_DAILY_SQL},
j AS (
  SELECT a.event_type, a.c AS actual, f.c AS forecast
  FROM counts a JOIN counts f
    ON f.event_type = a.event_type AND f.day = a.day - 7)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
  CAST(SUM(abs(actual - forecast)) AS BIGINT) AS abs_err_sum,
  {dround_div_sql('SUM(abs(actual - forecast))', 'COUNT(*)',
                  scale=3, in_scale=0)} AS mae,
  CAST(SUM(actual - forecast) AS BIGINT) AS bias_sum
FROM j GROUP BY event_type
""",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real
    forecasting model must beat, and the fourth member of the dense
    daily-series family: forecast(day) = count(day - 7), scored over
    every day with a week of history. MAE lands via exact integer
    division; the signed bias sum separates over- from
    under-forecasting. All integers end to end.

    Scale posture: the corpus collapses once in _dense_daily_counts;
    the forecast join is an equi self-join of the tiny series on
    (type, day-7)."""
    dense = _dense_daily_counts(spark, sf_dir)
    fc = dense.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("c").alias("forecast"),
    )
    j = dense.withColumnRenamed("c", "actual").join(
        fc, ["event_type", "day"]
    )
    err = F.col("actual") - F.col("forecast")
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.abs(err)).cast("long").alias("abs_err_sum"),
        dround_div(
            F.sum(F.abs(err)), F.count("*"), scale=3, in_scale=0
        ).alias("mae"),
        F.sum(err).cast("long").alias("bias_sum"),
    )


@register(
    "q27_ship_latency_quantiles",
    oracle="""
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
    date_diff('day', CAST(o.o_orderdate AS DATE),
              CAST(l.l_shipdate AS DATE)) AS days,
    l.l_orderkey, l.l_linenumber
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
r AS (
  SELECT priority, days,
    ROW_NUMBER() OVER (PARTITION BY priority
      ORDER BY days, l_orderkey, l_linenumber) AS rn,
    COUNT(*) OVER (PARTITION BY priority) AS n
  FROM lat)
SELECT priority, CAST(MAX(n) AS BIGINT) AS n_items,
  CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN days END) AS INT) AS p50_days,
  CAST(MAX(CASE WHEN rn = (9*n + 9) // 10 THEN days END) AS INT) AS p90_days
FROM r GROUP BY priority
""",
)
def q27_ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency p50/p90 per priority — the fulfillment
    SLA report, with EXACT selection-based quantiles: rank the integer
    day latencies with a fully deterministic tie-break (days,
    orderkey, linenumber) and pick the ceil(q*n)-th value, so both
    engines select the identical element (percentile interpolation is
    where engines diverge; selection is where they can't).

    Scale posture: one equi join on orderkey (key-partitioned), one
    window per priority group — five partitions each holding its own
    latencies, rank + count in a single window pass. Cleaner than a
    global sort; at 100 TB swap the window for the with_ntile
    range-partition trick if priorities skew."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lat = li.join(
        o.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        li.l_orderkey == o.o_orderkey,
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("days"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("priority").orderBy(
        "days", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("priority")
    r = lat.select(
        "priority",
        "days",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    n = F.col("n")
    return r.groupBy("priority").agg(
        F.max(n).cast("long").alias("n_items"),
        F.max(
            F.when(F.col("rn") == ((n + 1) - (n + 1) % 2) / 2, F.col("days"))
        ).cast("int").alias("p50_days"),
        F.max(
            F.when(
                F.col("rn") == ((9 * n + 9) - (9 * n + 9) % 10) / 10,
                F.col("days"),
            )
        ).cast("int").alias("p90_days"),
    )


@register(
    "events_ab_welch_ttest",
    oracle=f"""
WITH g AS (
  SELECT event_type, user_id % 2 AS variant,
    CAST(COUNT(*) AS BIGINT) AS n,
    {dsum_sql('value')} AS s,
    {dsum_sql('value * value', scale=4, prec=38)} AS ss
  FROM events GROUP BY 1, 2),
w AS (
  SELECT a.event_type,
    a.n AS n_a, b.n AS n_b,
    a.s / a.n - b.s / b.n AS mean_diff,
    (a.ss - a.s * a.s / a.n) / (a.n - 1) / a.n
      + (b.ss - b.s * b.s / b.n) / (b.n - 1) / b.n AS se2
  FROM g a JOIN g b
    ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1)
SELECT event_type, n_a, n_b,
  ROUND(mean_diff, 6) AS mean_diff,
  CASE WHEN se2 = 0 THEN NULL
    ELSE ROUND(mean_diff / SQRT(se2), 6) END AS t_stat
FROM w
""",
)
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test per event type (variant = user_id % 2 —
    the hash-bucket A/B assignment every experimentation system uses):
    group moments come from exact decimal sums, the unequal-variance
    standard error and t-statistic are assembled from those sums with
    one rounded division at the end (the etl_corr posture), so both
    engines report the identical statistic; zero-variance groups yield
    NULL identically.

    Scale posture: ONE corpus pass produces |types| x 2 moment rows
    (map-side partial combine); the test itself runs on that tiny
    frame via a self-join on type."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.count("*").cast("long").alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value"), scale=4, prec=38).alias("ss"),
    )
    a = g.where(F.col("variant") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = g.where(F.col("variant") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    j = a.join(b, "event_type")
    na, nb = F.col("n_a"), F.col("n_b")
    sa, sb = F.col("s_a"), F.col("s_b")
    mean_diff = sa / na - sb / nb
    se2 = (F.col("ss_a") - sa * sa / na) / (na - 1) / na + (
        F.col("ss_b") - sb * sb / nb
    ) / (nb - 1) / nb
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(mean_diff, 6).alias("mean_diff"),
        F.when(se2 == 0, F.lit(None))
        .otherwise(F.round(mean_diff / F.sqrt(se2), 6))
        .alias("t_stat"),
    )


@register(
    "etl_gini_concentration",
    oracle=f"""
WITH cy AS (
  SELECT CAST(year(o_orderdate) AS INT) AS y, o_custkey,
    CAST(ROUND({dsum_sql('o_totalprice', scale=2)} * 100, 0) AS BIGINT)
      AS xc
  FROM orders GROUP BY 1, 2),
r AS (
  SELECT y, xc,
    ROW_NUMBER() OVER (PARTITION BY y ORDER BY xc, o_custkey) AS i
  FROM cy)
SELECT y AS order_year, CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(xc) AS BIGINT) AS total_cents,
  ROUND(CAST(2 * SUM(CAST(i AS HUGEINT) * xc)
             - (COUNT(*) + 1) * CAST(SUM(xc) AS HUGEINT) AS DOUBLE)
        / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(xc) AS DOUBLE)), 6)
    AS gini
FROM r GROUP BY y
""",
)
def etl_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient per order year — the
    inequality headline ("top customers carry how much?"). Per-customer
    yearly revenue lifts ONCE to exact integer cents (2-decimal money
    summed as decimals is exact there), ranks are deterministic
    (cents, custkey), and the Gini closed form (2*Sum(i*x) - (n+1)*
    Sum(x)) / (n*Sum(x)) is integer until the single rounded division
    — both engines report the identical coefficient. Wide-decimal
    accumulators keep Sum(i*x) exact far past int64.

    Scale posture: orders collapses to one row per (year, customer);
    the rank window partitions by year over that collapsed frame (the
    classic sorted-rank Gini — at extreme per-year cardinality swap in
    the with_ntile range-partition rank, the deciles trick)."""
    o = _t(spark, sf_dir, "orders")
    cy = o.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_custkey",
    ).agg(
        F.round(dsum("o_totalprice", scale=2) * 100, 0)
        .cast("long")
        .alias("xc")
    )
    w = Window.partitionBy("order_year").orderBy("xc", "o_custkey")
    r = cy.select(
        "order_year", "xc", F.row_number().over(w).alias("i")
    )
    n = F.count("*")
    s = F.sum(F.col("xc").cast("decimal(38,0)"))
    s1 = F.sum(F.col("i").cast("decimal(38,0)") * F.col("xc"))
    return r.groupBy("order_year").agg(
        n.cast("long").alias("n_customers"),
        s.cast("long").alias("total_cents"),
        F.round(
            (2 * s1 - (n + 1) * s).cast("double")
            / (n.cast("double") * s.cast("double")),
            6,
        ).alias("gini"),
    )
