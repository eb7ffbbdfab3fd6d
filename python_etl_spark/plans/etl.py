"""ETL transform layer — the reference's extract/transform operator
surface re-expressed as declarative DataFrame plans.

Covers: projection/casting, filter pushdown, the join family,
aggregation statistics, distinct/union/dedup, sort+limit, conditional
logic, null handling, string/date/JSON functions, explode, pivot/
unpivot/rollup, sessionization, as-of join, and window analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_spark.operators.asof import asof_join
from python_etl_spark.operators.sessionize import sessionize
from python_etl_spark.plans.common import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    register,
    ts,
    ts_sql,
)
from python_etl_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _bc(df: DataFrame) -> DataFrame:
    """Unconditional hint — fixed-cardinality frames only; SF-scaling
    dims (customer/part/supplier) go through ``_dim`` instead (the
    size-gated plans.common.bc_dim policy)."""
    return F.broadcast(df)


from python_etl_spark.plans.common import bc_dim as _dim  # noqa: E402


# -------------------------- projection / casting --------------------------
@register(
    "etl_select_cast",
    oracle="""
SELECT o_orderkey,
  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
  CAST(SUBSTR(o_orderpriority, 1, 1) AS INT) AS priority_code,
  LOWER(o_orderstatus) AS status_lc
FROM orders
""",
)
def etl_select_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority_code"),
        F.lower("o_orderstatus").alias("status_lc"),
    )


@register(
    "etl_filter_pushdown",
    oracle=f"""
SELECT l_orderkey, l_partkey, l_quantity
FROM lineitem
WHERE l_shipdate >= {ts_sql('1999-01-01 00:00:00')}
  AND l_shipdate < {ts_sql('1999-07-01 00:00:00')}
  AND l_quantity > 45
""",
)
def etl_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= ts("1999-01-01 00:00:00"))
        & (F.col("l_shipdate") < ts("1999-07-01 00:00:00"))
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_partkey", "l_quantity")


# ------------------------------ join family -------------------------------
@register(
    "etl_join_inner",
    oracle="""
SELECT o.o_orderkey AS o_orderkey, c.c_custkey AS c_custkey,
       c.c_mktsegment AS c_mktsegment, o.o_totalprice AS o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'O'
""",
)
def etl_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    cust = _t(spark, sf_dir, "customer")
    return orders.join(_dim(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice"
    )


@register(
    "etl_join_left",
    oracle="""
SELECT c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey,
       o.o_totalprice AS o_totalprice
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
""",
)
def etl_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "P"),
        "left",
    ).select("c_custkey", "o_orderkey", "o_totalprice")


@register(
    "etl_join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
""",
)
def etl_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "etl_join_anti",
    oracle=f"""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= {ts_sql('2000-01-01 00:00:00')})
""",
)
def etl_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join against RECENT orders (every customer in the
    synthetic data has at least one lifetime order, so the undated
    anti join returned 0 rows at every scale — a hash that exercised
    nothing). The date filter sits below the anti-join build side."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= ts("2000-01-01 00:00:00")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ------------------------------ aggregation -------------------------------
@register(
    "etl_agg_stats",
    oracle=f"""
SELECT c_mktsegment,
  COUNT(*) AS n,
  COUNT(DISTINCT c_nationkey) AS n_nations,
  MIN(c_acctbal) AS min_bal,
  MAX(c_acctbal) AS max_bal,
  {dsum_sql('c_acctbal')} AS sum_bal,
  {davg_sql('c_acctbal')} AS avg_bal,
  SQRT((COUNT(c_acctbal) * {dsum_sql('c_acctbal * c_acctbal', scale=4, prec=38)}
        - {dsum_sql('c_acctbal')} * {dsum_sql('c_acctbal')})
       / (COUNT(c_acctbal) * (COUNT(c_acctbal) - 1))) AS std_bal
FROM customer
GROUP BY c_mktsegment
""",
)
def etl_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    n = F.count(bal)
    sx = dsum(bal)
    sx2 = dsum(bal * bal, scale=4, prec=38)
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("c_nationkey").alias("n_nations"),
        F.min(bal).alias("min_bal"),
        F.max(bal).alias("max_bal"),
        sx.alias("sum_bal"),
        davg(bal).alias("avg_bal"),
        F.sqrt((n * sx2 - sx * sx) / (n * (n - F.lit(1)))).alias("std_bal"),
    )


@register(
    "etl_distinct",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def etl_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    ).distinct()


@register(
    "etl_union_dedup",
    oracle="""
SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
UNION
SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
""",
)
def etl_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    a = cust.where(F.col("c_acctbal") > 5000).select("c_custkey", "c_name")
    b = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_name"
    )
    return a.union(b).distinct()


@register(
    "etl_sort_limit",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
""",
)
def etl_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


# --------------------------- conditional / nulls --------------------------
@register(
    "etl_case_when",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            WHEN o_totalprice < 400000 THEN 'large'
            ELSE 'jumbo' END AS price_band,
       COUNT(*) AS n
FROM orders GROUP BY 1
""",
)
def etl_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .when(F.col("o_totalprice") < 400000, "large")
        .otherwise("jumbo")
    )
    return orders.groupBy(band.alias("price_band")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "etl_null_handling",
    oracle="""
SELECT c.c_custkey AS c_custkey,
  COALESCE(o.o_totalprice, 0.0) AS price_filled,
  CASE WHEN o.o_orderkey IS NULL THEN 'no-order' ELSE 'has-order' END
    AS order_flag,
  NULLIF(c.c_mktsegment, 'BUILDING') AS segment_or_null
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
""",
)
def etl_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "P"),
        "left",
    )
    return joined.select(
        "c_custkey",
        F.coalesce(F.col("o_totalprice"), F.lit(0.0)).alias("price_filled"),
        F.when(F.col("o_orderkey").isNull(), "no-order")
        .otherwise("has-order")
        .alias("order_flag"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias(
            "segment_or_null"
        ),
    )


# --------------------------- string / date / json -------------------------
@register(
    "etl_string_funcs",
    oracle="""
SELECT p_partkey,
  UPPER(p_name) AS name_uc,
  LOWER(p_type) AS type_lc,
  SUBSTR(p_name, 1, 4) AS name_prefix,
  CONCAT(p_brand, '/', p_type) AS brand_type,
  REPLACE(p_name, 'a', '@') AS name_repl,
  LENGTH(p_name) AS name_len,
  TRIM(CONCAT(' ', p_name, ' ')) AS name_trim
FROM part
""",
)
def etl_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_uc"),
        F.lower("p_type").alias("type_lc"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias(
            "brand_type"
        ),
        F.replace(F.col("p_name"), F.lit("a"), F.lit("@")).alias("name_repl"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias(
            "name_trim"
        ),
    )


@register(
    "etl_date_funcs",
    oracle=f"""
SELECT o_orderkey,
  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
  CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow_sun0,
  DATE_TRUNC('month', o_orderdate) AS month_start,
  CAST(DATE_DIFF('day', o_orderdate, {ts_sql('2000-01-01 00:00:00')}) AS INT)
    AS days_to_y2k,
  o_orderdate + INTERVAL 30 DAY AS due_date
FROM orders
""",
)
def etl_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        (F.dayofweek("o_orderdate") - 1).alias("dow_sun0"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(
            ts("2000-01-01 00:00:00").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("days_to_y2k"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
    )


@register(
    "etl_json_extract",
    oracle="""
SELECT event_id, event_type,
  CAST(json_extract_string(props, '$.k') AS INT) AS k_value
FROM events
""",
)
def etl_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


@register(
    "etl_explode_tokens",
    oracle="""
SELECT token, COUNT(*) AS n
FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents) toks
GROUP BY token
""",
)
def etl_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ", -1)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ------------------------- pivot / unpivot / rollup -----------------------
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["urgent", "high", "medium", "not_specified", "low"]


@register(
    "etl_pivot",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
    AS BIGINT) AS urgent,
  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
    AS BIGINT) AS high,
  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
    AS BIGINT) AS medium,
  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
    AS BIGINT) AS not_specified,
  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
    AS BIGINT) AS low
FROM orders GROUP BY 1
""",
)
def etl_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pivoted = (
        orders.select(
            F.year("o_orderdate").alias("order_year"), "o_orderpriority"
        )
        .groupBy("order_year")
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
        .na.fill(0)
    )
    cols = [F.col("order_year")] + [
        F.col(f"`{p}`").alias(a) for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
    ]
    return pivoted.select(*cols)


@register(
    "etl_unpivot",
    oracle=f"""
WITH agg AS (
  SELECT l_returnflag, {dsum_sql('l_quantity')} AS sum_qty,
         {dsum_sql('l_extendedprice')} AS sum_price
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
""",
)
def etl_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price"], "metric", "value"
    )


@register(
    "etl_rollup",
    oracle=f"""
SELECT COALESCE(CAST(CAST(EXTRACT(year FROM o_orderdate) AS INT) AS VARCHAR),
                'ALL') AS order_year,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total
FROM orders
GROUP BY ROLLUP (CAST(EXTRACT(year FROM o_orderdate) AS INT), o_orderpriority)
""",
)
def etl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"), "o_orderpriority", "o_totalprice"
    )
    rolled = orders.rollup("yr", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )
    return rolled.select(
        F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("order_year"),
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        "n",
        "total",
    )


@register(
    "etl_dedup_subset",
    oracle="""
SELECT c_custkey, c_nationkey, c_mktsegment
FROM customer
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY c_nationkey, c_mktsegment ORDER BY c_custkey) = 1
""",
)
def etl_dedup_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
    )


# ----------------------- sessionize / as-of (operators) -------------------
@register(
    "etl_sessionize",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
  MIN(ts) AS session_start, MAX(ts) AS session_end,
  {dsum_sql('value')} AS total_value
FROM numbered GROUP BY user_id, session_idx
""",
)
def etl_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return sessionize(
        ev,
        user_col="user_id",
        ts_col="ts",
        gap_minutes=30,
        tiebreak_col="event_id",
        value_col="value",
    )


@register(
    "etl_asof_join",
    oracle="""
SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
       p.value AS value, c.ts AS click_ts, c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def etl_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts", "click_value"],
    )


# ------------------------------ window suite ------------------------------
@register(
    "win_running_total",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
FROM orders
""",
)
def win_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@register(
    "win_rank_in_group",
    oracle=f"""
WITH part_rev AS (
  SELECT p.p_brand AS p_brand, p.p_partkey AS p_partkey,
         {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand, p.p_partkey
)
SELECT p_brand, p_partkey, revenue,
  CAST(RANK() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey)
       AS INT) AS rnk
FROM part_rev
QUALIFY rnk <= 3
""",
)
def win_rank_in_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # aggregate before the join: l_partkey determines p_brand, so the
    # shuffle moves (partkey, revenue) partials instead of joined rows
    part_rev = (
        li.groupBy("l_partkey")
        .agg(dsum(rev).alias("revenue"))
        .join(_dim(part), F.col("l_partkey") == part.p_partkey)
        .select("p_brand", "p_partkey", "revenue")
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        part_rev.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rnk")
    )


@register(
    "win_lag_lead",
    oracle="""
SELECT event_id, user_id, event_type,
  value - LAG(value) OVER w AS value_delta,
  LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_moving_avg",
    oracle=f"""
WITH daily AS (
  SELECT DATE_TRUNC('day', l_shipdate) AS day,
         {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem GROUP BY 1
)
SELECT day, revenue,
  CAST(SUM(CAST(revenue AS DECIMAL(28,6))) OVER w AS DOUBLE)
    / COUNT(*) OVER w AS ma7
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    daily = li.groupBy(
        F.date_trunc("day", F.col("l_shipdate")).alias("day")
    ).agg(dsum(rev).alias("revenue"))
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        "revenue",
        (
            F.sum(F.col("revenue").cast("decimal(28,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma7"),
    )


@register(
    "win_percentiles",
    oracle="""
SELECT c_mktsegment,
  CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE) AS median_bal,
  CAST(quantile_cont(c_acctbal, 0.9) AS DOUBLE) AS p90_bal
FROM customer GROUP BY c_mktsegment
""",
)
def win_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.5)).alias("median_bal"),
        F.percentile("c_acctbal", F.lit(0.9)).alias("p90_bal"),
    )


# ---------------------- streaming batch-equivalent ------------------------
@register(
    "stream_window_batch_equiv",
    oracle=f"""
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
  COUNT(*) AS n, {dsum_sql('value')} AS total_value
FROM events GROUP BY 1, 2
""",
)
def stream_window_batch_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.windows.hourly_event_stats — same logic the
    streaming pipeline runs with a watermark; hash-checked against DuckDB."""
    from python_etl_spark.streaming.windows import hourly_event_stats

    ev = _t(spark, sf_dir, "events")
    return hourly_event_stats(ev)


@register(
    "etl_cube",
    oracle=f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def etl_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cubed = orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )
    return cubed.select(
        F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        "n",
        "total",
    )


@register(
    "win_ntile",
    oracle="""
SELECT c_custkey, c_acctbal,
  CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
FROM customer
""",
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global NTILE through operators/ranking.with_ntile: one window
    while customer fits the broadcast threshold, range partitions with
    literal offsets once it does not."""
    from python_etl_spark.operators.ranking import with_ntile

    cust = _t(spark, sf_dir, "customer")
    return with_ntile(
        cust, ["c_acctbal", "c_custkey"], 4, out_col="quartile"
    ).select("c_custkey", "c_acctbal", "quartile")


# ------------------------- units / upsert / sampling ----------------------
@register(
    "etl_unit_conversion",
    oracle="""
SELECT event_id,
  (value - 32.0) * 5.0 / 9.0 AS temp_c,
  value * 0.45359237 AS mass_kg,
  value * 2.54 AS len_cm,
  value * 1.609344 AS dist_km,
  value / 3600.0 AS dur_hours
FROM events
""",
)
def etl_unit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's classic transform: imperial->metric / F->C
    conversions as pure column arithmetic (functions/units.py)."""
    from python_etl_spark.functions.units import (
        fahrenheit_to_celsius,
        inches_to_cm,
        lbs_to_kg,
        miles_to_km,
        seconds_to_hours,
    )

    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        fahrenheit_to_celsius(v).alias("temp_c"),
        lbs_to_kg(v).alias("mass_kg"),
        inches_to_cm(v).alias("len_cm"),
        miles_to_km(v).alias("dist_km"),
        seconds_to_hours(v).alias("dur_hours"),
    )


_ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority"
)


@register(
    "etl_upsert_merge",
    oracle=f"""
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderstatus = 'P'),
tagged AS (
  SELECT {_ORDER_COLS}, 0 AS pri FROM updates
  UNION ALL
  SELECT {_ORDER_COLS}, 1 AS pri FROM orders)
SELECT {_ORDER_COLS}
FROM tagged
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pri) = 1
""",
)
def etl_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed merge: an updates batch (doubled totalprice for pending
    orders) overrides the base table on key collision."""
    from python_etl_spark.operators.upsert import upsert

    orders = _t(spark, sf_dir, "orders")
    updates = orders.where(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    return upsert(orders, updates, keys=["o_orderkey"])


@register(
    "etl_latest_by_key",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY l_orderkey
  ORDER BY l_linenumber DESC, l_partkey DESC, l_quantity DESC) = 1
""",
)
def etl_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log compaction: newest version (highest linenumber) per
    key — the CDC-stream shape."""
    from python_etl_spark.operators.upsert import latest_by_key

    li = _t(spark, sf_dir, "lineitem")
    return latest_by_key(
        li, ["l_orderkey"], "l_linenumber",
        tiebreak=["l_partkey", "l_quantity"],
    ).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )


@register(
    "etl_sample_deterministic",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE ASCII(SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) < 52
""",
)
def etl_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% deterministic hash sample (md5 hex digit 0-3): reproducible
    across engines and runs, unlike rand()-based sampling."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.ascii(
        F.substring(
            F.md5(F.encode(F.col("o_orderkey").cast("string"), "UTF-8")), 1, 1
        )
    )
    return orders.where(digit < 52).select("o_orderkey", "o_totalprice")


@register("etl_approx_distinct")  # approximate: rows-only + pytest bound
def etl_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts per group — the sketch path for
    100 TB cardinality estimation (exact count_distinct is the oracle
    in tests)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
    )


@register(
    "stream_sliding_batch_equiv",
    oracle=f"""
WITH expanded AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts)
           - CAST(r.i AS INT) * INTERVAL '15 minutes' AS window_start,
         event_type, value
  FROM events, range(4) r(i))
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
  event_type, COUNT(*) AS n, {dsum_sql('value')} AS total_value
FROM expanded
GROUP BY window_start, event_type
""",
)
def stream_sliding_batch_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.windows.sliding_event_stats: 1h windows
    sliding by 15min — every event lands in 4 overlapping windows."""
    from python_etl_spark.streaming.windows import sliding_event_stats

    ev = _t(spark, sf_dir, "events")
    return sliding_event_stats(ev, window="1 hour", slide="15 minutes")


# ---------------------- arrays / sets / advanced aggs ---------------------
@register(
    "etl_array_funcs",
    oracle="""
SELECT p_partkey,
  array_to_string(string_split(p_name, ' '), '|') AS words_joined,
  CAST(LEN(string_split(p_name, ' ')) AS INT) AS n_words,
  list_contains(string_split(p_name, ' '), 'small') AS has_small,
  string_split(p_name, ' ')[1] AS first_word,
  array_to_string(list_sort(string_split(p_name, ' ')), '-') AS sorted_joined
FROM part
""",
)
def etl_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over split tokens. The array itself is emitted as a
    deterministic '|'-joined string mirror (not a raw array column) so the
    driver's pandas-based canonicalizer can sort/hash the result; the array
    ops (size/contains/element_at/sort_array) are still exercised in-plan."""
    part = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ", -1)
    return part.select(
        "p_partkey",
        F.array_join(words, "|").alias("words_joined"),
        F.size(words).alias("n_words"),
        F.array_contains(words, "small").alias("has_small"),
        F.element_at(words, 1).alias("first_word"),
        F.array_join(F.sort_array(words), "-").alias("sorted_joined"),
    )


@register(
    "etl_regex_extract",
    oracle="""
SELECT p_partkey, p_name,
  regexp_extract(p_name, '^(\\w+) (\\w+)$', 1) AS adjective,
  regexp_extract(p_name, '^(\\w+) (\\w+)$', 2) AS noun,
  regexp_matches(p_name, '(ring|bolt|gear)') AS is_hardware
FROM part
""",
)
def etl_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        "p_name",
        F.regexp_extract("p_name", r"^(\w+) (\w+)$", 1).alias("adjective"),
        F.regexp_extract("p_name", r"^(\w+) (\w+)$", 2).alias("noun"),
        F.col("p_name").rlike("(ring|bolt|gear)").alias("is_hardware"),
    )


@register(
    "etl_intersect_except",
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 0
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)
def etl_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.where(F.col("c_acctbal") > 0).select("c_custkey")
    b = cust.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")).select(
        "c_custkey"
    )
    c = (
        orders.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a.intersect(b).exceptAll(c.distinct())


@register(
    "etl_argmax",
    oracle="""
SELECT c_mktsegment,
  arg_max(c_name, c_acctbal || '|' || CAST(c_custkey AS VARCHAR)) AS richest
FROM customer GROUP BY c_mktsegment
""",
)
def etl_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / arg_max: the row-attribute-at-extreme aggregation.
    Ordering key includes the custkey so ties are deterministic; the
    string concat trick keeps the compound key identical cross-engine
    (acctbal is 2-dec so its string form matches)."""
    cust = _t(spark, sf_dir, "customer")
    key = F.concat(
        F.col("c_acctbal").cast("string"),
        F.lit("|"),
        F.col("c_custkey").cast("string"),
    )
    return cust.groupBy("c_mktsegment").agg(
        F.max_by("c_name", key).alias("richest")
    )


@register(
    "etl_string_agg",
    oracle="""
SELECT c_nationkey,
  array_to_string(list_sort(list(c_name)), ',') AS names
FROM customer
WHERE c_acctbal > 9000
GROUP BY c_nationkey
""",
)
def etl_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg/string_agg with deterministic (sorted) element order."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    return cust.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias("names")
    )


@register(
    "win_percent_rank",
    oracle="""
SELECT o_orderkey,
  percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr,
  cume_dist() OVER (ORDER BY o_totalprice, o_orderkey) AS cd
FROM orders WHERE o_orderstatus = 'P'
""",
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist over a total order (orderkey tiebreak)
    via the scale-safe global rank — no Exchange SinglePartition."""
    from python_etl_spark.operators.ranking import with_percent_rank

    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return with_percent_rank(
        orders, ["o_totalprice", "o_orderkey"]
    ).select("o_orderkey", "pr", "cd")


@register(
    "etl_corr",
    oracle=f"""
SELECT l_returnflag, ROUND(corr_raw, 8) AS corr_qty_price
FROM (
SELECT l_returnflag,
  (COUNT(*) * {dsum_sql('l_quantity * l_extendedprice', scale=4, prec=38)}
   - {dsum_sql('l_quantity')} * {dsum_sql('l_extendedprice')})
  / (SQRT(COUNT(*) * {dsum_sql('l_quantity * l_quantity', scale=4, prec=38)}
          - {dsum_sql('l_quantity')} * {dsum_sql('l_quantity')})
     * SQRT(COUNT(*) * {dsum_sql('l_extendedprice * l_extendedprice', scale=4, prec=38)}
            - {dsum_sql('l_extendedprice')} * {dsum_sql('l_extendedprice')}))
    AS corr_raw
FROM lineitem GROUP BY l_returnflag
) g
""",
)
def etl_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal sums (Spark's corr() and
    DuckDB's disagree in the last ulps; the moment formula over
    identical exact sums is engine-invariant)."""
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    n = F.count(F.lit(1))
    sq, sp = dsum(q), dsum(p)
    sqq = dsum(q * q, scale=4, prec=38)
    spp = dsum(p * p, scale=4, prec=38)
    sqp = dsum(q * p, scale=4, prec=38)
    corr = (n * sqp - sq * sp) / (
        F.sqrt(n * sqq - sq * sq) * F.sqrt(n * spp - sp * sp)
    )
    # engines convert wide decimals to double along different paths
    # (1-ulp differences at 18 sig digits): round the derived statistic
    return li.groupBy("l_returnflag").agg(
        F.round(corr, 8).alias("corr_qty_price")
    )


@register(
    "etl_data_quality",
    oracle="""
SELECT
  CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
    AS positive_price,
  CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
    AS BIGINT) AS known_status,
  CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1990-01-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '2002-01-01 00:00:00'
                THEN 0 ELSE 1 END) AS BIGINT) AS date_in_range,
  CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
    AS custkey_present
FROM orders
""",
)
def etl_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-violation counts in one pass (operators/quality.py)."""
    from python_etl_spark.functions.exact import ts as ts_lit
    from python_etl_spark.operators.quality import violation_counts

    orders = _t(spark, sf_dir, "orders")
    rules = {
        "positive_price": F.col("o_totalprice") > 0,
        "known_status": F.col("o_orderstatus").isin("O", "F", "P"),
        "date_in_range": (F.col("o_orderdate") >= ts_lit("1990-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts_lit("2002-01-01 00:00:00")),
        "custkey_present": F.col("o_custkey").isNotNull(),
    }
    return violation_counts(orders, rules)


@register(
    "etl_grouped_gaps",
    oracle="""
WITH d AS (
  SELECT o_orderpriority, epoch_us(o_orderdate) // 86400000000 AS x
  FROM orders),
g AS (
  SELECT o_orderpriority, x,
    x - LAG(x) OVER (PARTITION BY o_orderpriority ORDER BY x) AS gap
  FROM d)
SELECT o_orderpriority, COUNT(*) AS n_orders, MIN(x) AS first_day,
  MAX(x) AS last_day, MAX(gap) AS max_gap
FROM g GROUP BY o_orderpriority
""",
)
def etl_grouped_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (applyInPandas): per-priority order-gap
    stats computed in one Arrow batch per group — the custom-Python
    aggregation seam, hash-checked because its arithmetic is exact
    integer day math. Grouped on a LOW-cardinality key on purpose:
    applyInPandas pays per-group overhead, so 150k single-row customer
    groups took 22s where 5 priority groups take <1s (use window
    functions for high-cardinality grouped stats)."""
    import numpy as np
    import pandas as pd

    orders = _t(spark, sf_dir, "orders")
    days = orders.select(
        "o_orderpriority",
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("x"),
    )

    def gaps(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.sort(pdf["x"].to_numpy())
        d = np.diff(x)
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n_orders": [len(x)],
                "first_day": [int(x[0])],
                "last_day": [int(x[-1])],
                "max_gap": [int(d.max()) if len(d) else None],
            }
        )

    return days.groupBy("o_orderpriority").applyInPandas(
        gaps,
        schema="o_orderpriority string, n_orders long, first_day long, "
        "last_day long, max_gap long",
    )


@register(
    "etl_fillna_dropna",
    oracle="""
WITH j AS (
  SELECT c.c_custkey AS c_custkey, o.o_totalprice AS o_totalprice,
         o.o_orderstatus AS o_orderstatus
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P')
SELECT c_custkey,
  COALESCE(o_totalprice, -1.0) AS price_filled,
  COALESCE(o_orderstatus, 'NONE') AS status_filled
FROM j
""",
)
def etl_fillna_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameNaFunctions surface: na.fill with per-column defaults."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "P"),
        "left",
    ).select("c_custkey", "o_totalprice", "o_orderstatus")
    return j.na.fill({"o_totalprice": -1.0, "o_orderstatus": "NONE"}).select(
        "c_custkey",
        F.col("o_totalprice").alias("price_filled"),
        F.col("o_orderstatus").alias("status_filled"),
    )


@register(
    "etl_dropna",
    oracle="""
SELECT c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
WHERE o.o_orderkey IS NOT NULL
""",
)
def etl_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "P"),
        "left",
    ).select("c_custkey", "o_orderkey")
    return j.na.drop(subset=["o_orderkey"])


@register(
    "win_range_frame",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice,
  CAST(COUNT(*) OVER (
    PARTITION BY o_orderstatus ORDER BY o_totalprice
    RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) AS BIGINT)
    AS peers_within_5k
FROM orders
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame — peers within a price band,
    as opposed to the row-count frames elsewhere in the suite."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-5000, 5000)
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("peers_within_5k"),
    )


@register(
    "win_first_last",
    oracle="""
SELECT o_custkey, o_orderkey,
  FIRST_VALUE(o_totalprice) OVER w AS first_price,
  LAST_VALUE(o_totalprice) OVER
    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
    )


@register(
    "etl_scd2_history",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
  o_orderdate AS valid_from,
  LEAD(o_orderdate) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
  LEAD(o_orderdate) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL
    AS is_current
FROM orders
""",
)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 shape: each version carries a
    [valid_from, valid_to) range; the open-ended row is current."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    valid_to = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@register(
    "etl_date_spine_gapfill",
    oracle=f"""
WITH daily AS (
  SELECT DATE_TRUNC('day', l_shipdate) AS day,
         {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem
  WHERE l_shipdate >= {ts_sql('1998-01-01 00:00:00')}
    AND l_shipdate < {ts_sql('1998-03-01 00:00:00')}
  GROUP BY 1),
spine AS (
  SELECT CAST(gs.d AS TIMESTAMP) AS day
  FROM generate_series(TIMESTAMP '1998-01-01 00:00:00',
                       TIMESTAMP '1998-02-28 00:00:00',
                       INTERVAL 1 DAY) gs(d))
SELECT s.day AS day, COALESCE(daily.revenue, 0.0) AS revenue,
       daily.revenue IS NULL AS is_gap
FROM spine s LEFT JOIN daily ON daily.day = s.day
""",
)
def etl_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: generate a calendar spine and left-join
    the aggregate so missing days appear as explicit zeros."""
    from python_etl_spark.plans.common import REVENUE

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts("1998-01-01 00:00:00"))
        & (F.col("l_shipdate") < ts("1998-03-01 00:00:00"))
    )
    daily = li.groupBy(
        F.date_trunc("day", F.col("l_shipdate")).alias("day")
    ).agg(dsum(REVENUE()).alias("revenue"))
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                ts("1998-01-01 00:00:00"),
                ts("1998-02-28 00:00:00"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    d = daily.withColumnRenamed("day", "dday")
    return spine.join(d, spine.day == d.dday, "left").select(
        "day",
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.col("revenue").isNull().alias("is_gap"),
    )


@register(
    "text_langid_accuracy",
    oracle="""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
           FROM documents),
s AS (SELECT doc_id, lang,
    CAST(LEN(list_filter(toks, x -> x IN ('the','and','of','is','to')))
      AS INT) AS s_en,
    CAST(LEN(list_filter(toks, x -> x IN ('der','und','die','das','nicht')))
      AS INT) AS s_de,
    CAST(LEN(list_filter(toks, x -> x IN ('le','la','et','les','des')))
      AS INT) AS s_fr,
    CAST(LEN(list_filter(toks, x -> x IN ('el','los','las','una','por')))
      AS INT) AS s_es
  FROM t),
p AS (SELECT lang,
  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'unknown'
       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       WHEN s_fr >= s_es THEN 'fr'
       ELSE 'es' END AS pred FROM s)
SELECT COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS accuracy
FROM p
""",
)
def text_langid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level accuracy of the marker-token lang-id heuristic."""
    from python_etl_spark.plans.common import QUERIES

    per_doc = QUERIES["text_langid"](spark, sf_dir)
    correct = F.when(F.col("is_correct"), 1).otherwise(0)
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(correct).alias("n_correct"),
        (F.sum(correct).cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


# --------------------------- event analytics pack -------------------------
@register(
    "events_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id)
SELECT
  COUNT(*) AS n_users,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS did_signup,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                THEN 1 ELSE 0 END) AS BIGINT) AS signup_then_click,
  CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                 AND t_purchase > t_click
                THEN 1 ELSE 0 END) AS BIGINT) AS full_funnel
FROM firsts
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> click -> purchase: first
    occurrence per stage per user, strictly increasing timestamps."""
    ev = _t(spark, sf_dir, "events")

    def first_of(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    s = F.col("t_signup").isNotNull()
    sc_ = s & (F.col("t_click") > F.col("t_signup"))
    scp = sc_ & (F.col("t_purchase") > F.col("t_click"))
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        one(s).alias("did_signup"),
        one(sc_).alias("signup_then_click"),
        one(scp).alias("full_funnel"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
WITH base AS (
  SELECT user_id, ts,
    CAST(DATE_DIFF('day', TIMESTAMP '2024-01-01 00:00:00', ts) // 7 AS INT)
      AS week
  FROM events),
cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM base GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, week FROM base)
SELECT c.cohort_week AS cohort_week,
  CAST(a.week - c.cohort_week AS INT) AS week_offset,
  COUNT(DISTINCT a.user_id) AS active_users
FROM activity a JOIN cohort c ON a.user_id = c.user_id
GROUP BY c.cohort_week, a.week - c.cohort_week
""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-activity week,
    counted as active per week offset."""
    ev = _t(spark, sf_dir, "events")
    week = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 7
    ).cast("int")
    base = ev.select("user_id", week.alias("week"))
    cohort = base.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = base.distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "events_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT event_type,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events)
SELECT event_type, next_type, COUNT(*) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive per-user events."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ------------------------- join family completions ------------------------
@register(
    "etl_join_full_outer",
    oracle="""
SELECT a.k AS k_high, b.k AS k_building, a.n AS n_high, b.n AS n_building
FROM (SELECT c_nationkey AS k, COUNT(*) AS n FROM customer
      WHERE c_acctbal > 8000 GROUP BY c_nationkey) a
FULL OUTER JOIN
     (SELECT c_nationkey AS k, COUNT(*) AS n FROM customer
      WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey) b
ON a.k = b.k
""",
)
def etl_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    a = (
        cust.where(F.col("c_acctbal") > 8000)
        .groupBy(F.col("c_nationkey").alias("k_high"))
        .agg(F.count(F.lit(1)).alias("n_high"))
    )
    b = (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .groupBy(F.col("c_nationkey").alias("k_building"))
        .agg(F.count(F.lit(1)).alias("n_building"))
    )
    return a.join(b, a.k_high == b.k_building, "full_outer").select(
        "k_high", "k_building", "n_high", "n_building"
    )


@register(
    "etl_join_right",
    oracle="""
SELECT o.o_orderkey AS o_orderkey, c.c_custkey AS c_custkey,
       c.c_name AS c_name
FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def etl_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    cust = _t(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_name"
    )


@register(
    "etl_cross_join",
    oracle="""
SELECT n.n_name AS n_name, r.r_name AS r_name
FROM nation n CROSS JOIN region r
""",
)
def etl_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intentional cartesian of two tiny dims (25 x 5): the one place a
    cross join is legitimate."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return nation.crossJoin(_bc(region)).select("n_name", "r_name")


@register(
    "etl_union_all",
    oracle="""
SELECT c_custkey, 'high_balance' AS tag FROM customer WHERE c_acctbal > 9000
UNION ALL
SELECT c_custkey, 'building' AS tag FROM customer
WHERE c_mktsegment = 'BUILDING'
""",
)
def etl_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    a = cust.where(F.col("c_acctbal") > 9000).select(
        "c_custkey", F.lit("high_balance").alias("tag")
    )
    b = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.lit("building").alias("tag")
    )
    return a.unionAll(b)


@register(
    "win_nth_value",
    oracle="""
SELECT o_custkey, o_orderkey,
  NTH_VALUE(o_totalprice, 2) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_price
FROM orders
""",
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "etl_format_string",
    oracle="""
SELECT printf('ORD-%08d/%s', o_orderkey, o_orderstatus) AS order_code,
       o_orderkey
FROM orders
""",
)
def etl_format_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.format_string(
            "ORD-%08d/%s", F.col("o_orderkey"), F.col("o_orderstatus")
        ).alias("order_code"),
        "o_orderkey",
    )


@register(
    "etl_lateral_topn",
    oracle="""
SELECT n.n_name AS n_name, t.c_custkey AS c_custkey, t.c_acctbal AS c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
""",
)
def etl_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the spark.sql surface:
    per-nation top-2 customers by balance (the window-free top-N idiom)."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql("""
        SELECT n.n_name AS n_name, t.c_custkey AS c_custkey,
               t.c_acctbal AS c_acctbal
        FROM v_nation n,
        LATERAL (
          SELECT c_custkey, c_acctbal FROM v_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    """)


@register(
    "etl_skew_diagnostics",
    oracle="""
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey)
SELECT COUNT(*) AS n_keys,
  CAST(MAX(c) AS BIGINT) AS max_key_rows,
  CAST(SUM(c) AS BIGINT) AS total_rows,
  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_key_share,
  CAST(MAX(c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) / COUNT(*))
    AS max_over_mean
FROM per_key
""",
)
def etl_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiling — the measurement that decides between
    plain shuffle, AQE skew-join, and operators.skew.salted_join."""
    orders = _t(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_key_rows"),
        F.sum("c").alias("total_rows"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_key_share"),
        (
            F.max("c").cast("double")
            / (F.sum("c").cast("double") / F.count(F.lit(1)))
        ).alias("max_over_mean"),
    )


@register(
    "etl_skewness_kurtosis",
    oracle=f"""
WITH m AS (
  SELECT l_returnflag,
    COUNT(*) AS n,
    {dsum_sql('l_quantity')} AS s1,
    {dsum_sql('l_quantity * l_quantity', scale=4, prec=38)} AS s2,
    {dsum_sql('l_quantity * l_quantity * l_quantity', scale=4, prec=38)} AS s3,
    {dsum_sql('l_quantity * l_quantity * l_quantity * l_quantity',
              scale=4, prec=38)} AS s4
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
  ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
        / POW(s2 / n - (s1 / n) * (s1 / n), 1.5), 8) AS skewness,
  ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
         + 6 * (s1 / n) * (s1 / n) * (s2 / n)
         - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        / POW(s2 / n - (s1 / n) * (s1 / n), 2.0) - 3.0, 8) AS excess_kurtosis
FROM m
""",
)
def etl_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness from exact decimal moment sums — the same
    engine-invariant construction as etl_agg_stats/etl_corr; rounded to
    8 (the final pow/divide chain differs at ~1 ulp across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    n = F.count(F.lit(1))
    s1 = dsum(q)
    s2 = dsum(q * q, scale=4, prec=38)
    s3 = dsum(q * q * q, scale=4, prec=38)
    s4 = dsum(q * q * q * q, scale=4, prec=38)
    m1 = s1 / n
    m2 = s2 / n
    m3 = s3 / n
    m4 = s4 / n
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(m2 - m1 * m1, 1.5)
    kurt = (
        m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1
    ) / F.pow(m2 - m1 * m1, 2.0) - 3.0
    return li.groupBy("l_returnflag").agg(
        F.round(skew, 8).alias("skewness"),
        F.round(kurt, 8).alias("excess_kurtosis"),
    )


@register(
    "etl_histogram",
    oracle="""
SELECT CAST(FLOOR(o_totalprice / 50000) AS INT) AS bucket,
       COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM orders GROUP BY 1
""",
)
def etl_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("int")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# ---------------------- round-2 additions: join strategies -----------------
@register(
    "etl_range_join",
    oracle="""
WITH p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT ts FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, CAST(COUNT(*) AS BIGINT) AS n_clicks
FROM p JOIN c ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 30 MINUTE
GROUP BY p.event_id
""",
)
def etl_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join as a bucketized EQUI-join
    (operators/range_join.py): clicks landing in each purchase's
    30-minute window. The naive theta-join is a nested-loop cartesian;
    bucketing makes it a linear shuffle join."""
    from python_etl_spark.operators.range_join import range_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("ts").alias("c_ts")
    )
    joined = range_join(
        clicks, purchases, "c_ts", "w_start", "w_end", bucket_width_s=1800
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks")
    )


@register(
    "etl_salted_join",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderpriority
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
""",
)
def etl_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join on the hash-checked path: the fact side
    gets a deterministic row-hash salt, the other side is replicated
    per salt bucket, and the equi-join runs on (key, salt) — one hot
    key spreads over 8 reducers. Must equal the plain join row for row
    (the oracle IS the plain join)."""
    from python_etl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return salted_join(li, orders, on="l_orderkey", salt_buckets=8).select(
        "l_orderkey", "l_linenumber", "l_quantity", "o_orderpriority"
    )


@register(
    "etl_stratified_sample",
    oracle="""
WITH g AS (
  SELECT o_orderkey, o_orderpriority,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                       ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey)
      AS rn,
    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders)
SELECT o_orderkey, o_orderpriority FROM g
WHERE rn <= CAST(CEIL(0.125 * cnt) AS BIGINT)
""",
)
def etl_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 12.5% stratified sample per order priority, deterministic
    (md5-hash order within each stratum, so every engine and every run
    picks the same rows). Scale-safe: per-stratum ranks come from ONE
    global rank (operators/ranking.py — range partitions + literal
    offsets past the broadcast threshold), minus each stratum's
    broadcast start offset. No per-stratum single task, unlike a plain
    Window.partitionBy(stratum) over few huge strata."""
    import math

    from python_etl_spark.frames import local_frame
    from python_etl_spark.operators.ranking import global_rank

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    df = orders.withColumn(
        "__h", F.md5(F.col("o_orderkey").cast("string"))
    )
    ranked = global_rank(df, ["o_orderpriority", "__h", "o_orderkey"], "__g")
    # per-stratum start offsets + kept-row counts: O(#strata) rows only
    counts = {
        r["o_orderpriority"]: r["n"]
        for r in df.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows, acc = [], 0
    for pri in sorted(counts):
        rows.append((pri, acc, math.ceil(0.125 * counts[pri])))
        acc += counts[pri]
    off = local_frame(
        spark, rows, "o_orderpriority string, __off long, __keep long"
    )
    return (
        ranked.join(F.broadcast(off), "o_orderpriority")
        .where(F.col("__g") - F.col("__off") <= F.col("__keep"))
        .select("o_orderkey", "o_orderpriority")
    )


@register(
    "etl_zscore_normalize",
    oracle=f"""
WITH s AS (
  SELECT l_returnflag,
    {dsum_sql('l_quantity')} / COUNT(*) AS mean,
    {dsum_sql('l_quantity * l_quantity')} / COUNT(*) AS msq
  FROM lineitem GROUP BY l_returnflag)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_quantity,
  ROUND((l.l_quantity - s.mean) / sqrt(s.msq - s.mean * s.mean), 6) AS z
FROM lineitem l JOIN s ON s.l_returnflag = l.l_returnflag
""",
)
def etl_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score feature scaling (population std) — the
    normalize-before-training transform. Group moments via exact
    decimal sums (order-independent, engine-identical); the tiny
    moments table is BROADCAST back, so the big side is one narrow
    scan + projection, never shuffled."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        (dsum("l_quantity") / F.count(F.lit(1))).alias("mean"),
        (
            dsum(F.col("l_quantity") * F.col("l_quantity"))
            / F.count(F.lit(1))
        ).alias("msq"),
    )
    z = F.round(
        (F.col("l_quantity") - F.col("mean"))
        / F.sqrt(F.col("msq") - F.col("mean") * F.col("mean")),
        6,
    )
    return (
        li.join(F.broadcast(s), "l_returnflag")
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
            z.alias("z"),
        )
    )


@register(
    "events_anomaly_zscore",
    oracle="""
WITH d AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY event_type, DATE_TRUNC('day', ts)),
s AS (
  SELECT event_type,
    CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean,
    CAST(SUM(n * n) AS DOUBLE) / COUNT(*) AS msq
  FROM d GROUP BY event_type)
SELECT d.event_type, d.day, d.n,
  ROUND((d.n - s.mean) / sqrt(s.msq - s.mean * s.mean), 6) AS z,
  ABS((d.n - s.mean) / sqrt(s.msq - s.mean * s.mean)) >= 1.5 AS is_anomaly
FROM d JOIN s ON s.event_type = d.event_type
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: daily event counts per type, z-scored
    against that type's distribution over days; |z| >= 1.5 flags the
    anomaly. Counts are integers (exact in any order); the per-type
    stats table is tiny and BROADCAST. Two partial-agg shuffles of
    (type, day) rows — nothing row-level ever reshuffles."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    s = d.groupBy("event_type").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean"),
        (
            F.sum(F.col("n") * F.col("n")).cast("double")
            / F.count(F.lit(1))
        ).alias("msq"),
    )
    zraw = (F.col("n") - F.col("mean")) / F.sqrt(
        F.col("msq") - F.col("mean") * F.col("mean")
    )
    return (
        d.join(F.broadcast(s), "event_type")
        .select(
            "event_type", "day", "n",
            F.round(zraw, 6).alias("z"),
            (F.abs(zraw) >= 1.5).alias("is_anomaly"),
        )
    )


@register(
    "etl_surrogate_key",
    oracle="""
SELECT o_orderkey,
  ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS sk
FROM orders
""",
)
def etl_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive surrogate-key assignment over a total order — the
    dimension-load primitive (monotonically_increasing_id leaves gaps;
    warehouses want dense keys). Scale-safe global rank
    (operators/ranking.py): past the broadcast threshold, range
    partition + parallel windows + literal offsets, no Exchange
    SinglePartition."""
    from python_etl_spark.operators.ranking import global_rank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ranked = global_rank(orders, ["o_orderdate", "o_orderkey"], "sk")
    return ranked.select("o_orderkey", F.col("sk").cast("bigint").alias("sk"))


@register(
    "etl_sequence_pack",
    oracle="""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
    SUM(n_tokens) OVER (ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 2048) AS BIGINT) AS bin
FROM c
""",
)
def etl_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training batches: shuffle docs into a
    deterministic hash order, running token total, then bin = the
    2048-token block the doc STARTS in — contiguous ~budget-sized
    micro-batches. The running total uses the scale-safe global cumsum
    (range partition + literal prefix offsets past the broadcast
    threshold), so packing 100 TB of docs never funnels through one
    task."""
    from python_etl_spark.operators.ranking import global_cumsum

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    c = global_cumsum(t, ["h", "doc_id"], "n_tokens", "cum")
    return c.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(
            (F.col("cum") - F.col("n_tokens")).cast("double") / 2048
        ).cast("bigint").alias("bin"),
    )


@register(
    "etl_snapshot_diff",
    oracle="""
WITH prev AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey % 10 <> 7),
cur AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 10 = 3
         THEN ROUND(o_totalprice * 1.1, 2) ELSE o_totalprice END
      AS o_totalprice,
    o_orderstatus
  FROM orders WHERE o_orderkey % 10 <> 4)
SELECT
  CASE
    WHEN p.o_orderkey IS NULL THEN 'insert'
    WHEN c.o_orderkey IS NULL THEN 'delete'
    WHEN p.o_totalprice <> c.o_totalprice
      OR p.o_orderstatus <> c.o_orderstatus THEN 'update'
    ELSE 'unchanged' END AS change_type,
  COUNT(*) AS n
FROM prev p FULL OUTER JOIN cur c ON c.o_orderkey = p.o_orderkey
GROUP BY 1
""",
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC classification: full-outer join two table
    versions on the business key and classify every row as insert /
    update / delete / unchanged — the change-detection step that feeds
    incremental loads. The two snapshots are derived in-plan from the
    same scan (deterministic key filters + a synthetic price bump).
    One co-partitioned shuffle join on the key, then a tiny
    partial-agg rollup; at scale both sides can be bucketed on the key
    to make the diff exchange-free."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    prev = orders.where(F.col("o_orderkey") % 10 != 7)
    cur = orders.where(F.col("o_orderkey") % 10 != 4).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 10 == 3,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    p = prev.select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_totalprice").alias("p_price"),
        F.col("o_orderstatus").alias("p_status"),
    )
    c = cur.select(
        F.col("o_orderkey").alias("ck"),
        F.col("o_totalprice").alias("c_price"),
        F.col("o_orderstatus").alias("c_status"),
    )
    j = p.join(c, p.pk == c.ck, "full_outer")
    change = (
        F.when(F.col("pk").isNull(), F.lit("insert"))
        .when(F.col("ck").isNull(), F.lit("delete"))
        .when(
            (F.col("p_price") != F.col("c_price"))
            | (F.col("p_status") != F.col("c_status")),
            F.lit("update"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("etl_approx_quantiles")  # approximate: rows-only + pytest bound
def etl_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch path for 100 TB: approx_percentile
    (Greenwald-Khanna, mergeable partials — one combiner-friendly
    shuffle) at accuracy 10000. The exact twin is win_percentiles;
    tests/test_scale_ops.py bounds the sketch's rank error against the
    exact per-group percentiles."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.approx_percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)),
        F.lit(10000),
    )
    return li.groupBy("l_returnflag").agg(
        q[0].alias("p25"), q[1].alias("p50"),
        q[2].alias("p75"), q[3].alias("p95"),
    )


@register(
    "etl_quantiles_checked",
    oracle="""
SELECT l_returnflag,
  CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS p25,
  CAST(quantile_cont(l_extendedprice, 0.50) AS DOUBLE) AS p50,
  CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE) AS p75,
  CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE) AS p95
FROM lineitem GROUP BY l_returnflag
""",
)
def etl_quantiles_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked twin of etl_approx_quantiles: the same per-group
    p25/p50/p75/p95 shape computed EXACTLY (F.percentile, linear
    interpolation — the same definition as DuckDB quantile_cont), so
    the driver gets a full rows+schema+hash row for the quantile
    family while the GK-sketch variant stays [R] for the 100 TB path."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.percentile("l_extendedprice", F.lit(p)).alias(n)
            for p, n in [(0.25, "p25"), (0.50, "p50"),
                         (0.75, "p75"), (0.95, "p95")]
        ]
    )


@register(
    "etl_sql_interface",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
  {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderstatus <> 'F'
GROUP BY l_returnflag, l_linestatus
""",
)
def etl_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL facade: tables registered as temp views, the query is a
    plain ANSI SQL string through spark.sql — same Catalyst plan as the
    DataFrame API (joins broadcast, decimal-exact sums), proving SQL
    users get the engine unchanged."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
          COUNT(*) AS n
        FROM lineitem_v JOIN orders_v ON o_orderkey = l_orderkey
        WHERE o_orderstatus <> 'F'
        GROUP BY l_returnflag, l_linestatus
        """
    )


# ------------------- reconciliation audits (round 3) ----------------------
@register(
    "etl_table_checksum",
    oracle="""
WITH rows_h AS (
  SELECT o_orderstatus,
    CAST(('0x' || substr(md5(
      o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|'
        || o_orderpriority || '|' || strftime(o_orderdate, '%Y-%m-%d')
    ), 1, 15)) AS BIGINT) AS h
  FROM orders)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(h) % (CAST(1 AS HUGEINT) << 60) AS BIGINT) AS checksum
FROM rows_h GROUP BY o_orderstatus
""",
)
def etl_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-group table checksum — the ETL
    reconciliation primitive (compare source vs target after a load
    without moving rows): md5 each row's key/attribute rendering, take
    60 bits as an integer, SUM per group (commutative => partition- and
    order-insensitive, partial-agg-friendly). Float columns are
    excluded by design — checksums need exact renderings, so doubles
    must be quantized before they enter one (cf. etl_unit_conversion).
    One combiner-friendly shuffle; hash-checked vs DuckDB."""
    orders = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    h = F.conv(F.substring(F.md5(F.encode(row_str, "UTF-8")), 1, 15), 16, 10)
    return (
        orders.select("o_orderstatus", h.cast("long").alias("h"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # decimal accumulate (no 64-bit wrap), fold to 60 bits so
            # the published checksum is a plain BIGINT in any engine
            F.pmod(
                F.sum(F.col("h").cast("decimal(38,0)")), F.lit(1 << 60)
            )
            .cast("long")
            .alias("checksum"),
        )
    )


@register(
    "etl_referential_integrity",
    oracle="""
SELECT 'lineitem.l_orderkey -> orders' AS fk,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders.o_custkey -> customer' AS fk,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT) AS n_orphans
FROM orders o2 LEFT JOIN customer c ON o2.o_custkey = c.c_custkey
""",
)
def etl_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK orphan audit across the star schema: for each declared
    foreign key, total child rows and rows whose parent key is missing.
    Each check is one join aggregated to a single row — the customer
    side broadcasts, the orders side shuffles once; no orphan row set
    is ever materialized (count-only)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def audit(child, ckey, parent, pkey, label):
        return (
            child.select(F.col(ckey))
            .join(
                parent.select(F.col(pkey)).distinct(),
                child[ckey] == parent[pkey],
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col(pkey).isNull(), 1).otherwise(0)
                ).alias("n_orphans"),
            )
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )

    return audit(
        li, "l_orderkey", orders, "o_orderkey",
        "lineitem.l_orderkey -> orders",
    ).unionByName(
        audit(
            orders, "o_custkey", cust, "c_custkey",
            "orders.o_custkey -> customer",
        )
    )


@register(
    "etl_grouped_agg_udaf",
    oracle="""
SELECT o_orderpriority,
  (MIN(o_totalprice) + MAX(o_totalprice)) / 2 AS midrange_price,
  CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
)
def etl_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF (a user-defined AGGREGATE — the API
    surface the other pandas-UDF queries don't touch): per-priority
    price midrange computed by an Arrow-batched aggregating UDF (a
    second grouped-agg UDF carries the count — Spark refuses to mix
    pandas and JVM aggregates in one agg). Arithmetic is (min+max)/2 —
    numpy and DuckDB produce the identical double, so the UDAF path
    itself is hash-checked. Scale: grouped-agg pandas UDFs get NO
    partial aggregation (each group's column ships to Python whole) —
    fine for bounded groups like the 5 priorities here; for
    high-cardinality keys prefer built-in aggregates or re-express as
    applyInPandas over pre-aggregated slices (see etl_grouped_gaps)."""
    import pandas as pd  # noqa: F401 — pandas_udf GROUPED_AGG path
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # no type annotations: postponed evaluation (future annotations)
    # would leave them as unresolvable strings for pyspark's inspector
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def midrange(v):
        return (v.min() + v.max()) / 2

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        midrange("o_totalprice").alias("midrange_price"),
        n_rows("o_totalprice").alias("n_orders"),
    )


@register(
    "etl_scd2_pointintime",
    oracle=f"""
WITH scd AS (
  SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
    LEAD(o_orderdate) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM orders),
fact AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate AS ts,
    l_extendedprice, l_discount
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT s.o_orderpriority AS version_priority,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(COUNT(DISTINCT f.custkey) AS BIGINT) AS n_customers,
  {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM fact f JOIN scd s
  ON f.custkey = s.o_custkey
 AND f.ts >= s.valid_from
 AND (s.valid_to IS NULL OR f.ts < s.valid_to)
GROUP BY 1
""",
)
def etl_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time lookup — the lakehouse join every
    slowly-changing dimension exists FOR: each shipped item is matched
    to the customer's order-version that was CURRENT at ship time
    ([valid_from, valid_to) interval containing l_shipdate;
    zero-length intervals from same-timestamp versions are excluded
    by the half-open range on both engines, so the match is unique),
    then profiled by that version's priority. Composes the
    etl_scd2_history construction with the validity-range join.

    Scale posture: the lookup is an EQUI join on the dimension key
    with the range as a post-filter — per-key fan-out is bounded by
    versions-per-customer (never a cross product), so it shuffles like
    a plain key join at 100 TB; the SCD2 window partitions by custkey.
    COUNT(DISTINCT custkey) rewrites to a two-level aggregate in both
    engines."""
    from python_etl_spark.plans.common import REVENUE

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    scd = orders.select(
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == orders.o_orderkey,
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ts"),
        REVENUE().alias("rev"),
    )
    hit = fact.join(
        scd,
        (fact.custkey == scd.o_custkey)
        & (fact.ts >= scd.valid_from)
        & (scd.valid_to.isNull() | (fact.ts < scd.valid_to)),
    )
    return hit.groupBy(
        F.col("o_orderpriority").alias("version_priority")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("custkey").alias("n_customers"),
        dsum("rev").alias("revenue"),
    )


# ---------------------- Markov stationary distribution ---------------------
_MKV_ITERS = 6
_MKV_UNIT = 1_000_000


@register(
    "events_markov_stationary",
    oracle="""
WITH seq AS (
  SELECT event_type,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events),
tm AS (
  SELECT event_type AS a, next_type AS b, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
rs AS (SELECT a, SUM(n) AS s FROM tm GROUP BY a),
it0 AS (
  SELECT DISTINCT a AS state, CAST(200000 AS BIGINT) AS pi FROM tm),
it1 AS (
  SELECT tm.b AS state, CAST(SUM((it0.pi * tm.n) // rs.s) AS BIGINT) AS pi
  FROM it0 JOIN tm ON tm.a = it0.state JOIN rs ON rs.a = tm.a
  GROUP BY tm.b),
it2 AS (
  SELECT tm.b AS state, CAST(SUM((it1.pi * tm.n) // rs.s) AS BIGINT) AS pi
  FROM it1 JOIN tm ON tm.a = it1.state JOIN rs ON rs.a = tm.a
  GROUP BY tm.b),
it3 AS (
  SELECT tm.b AS state, CAST(SUM((it2.pi * tm.n) // rs.s) AS BIGINT) AS pi
  FROM it2 JOIN tm ON tm.a = it2.state JOIN rs ON rs.a = tm.a
  GROUP BY tm.b),
it4 AS (
  SELECT tm.b AS state, CAST(SUM((it3.pi * tm.n) // rs.s) AS BIGINT) AS pi
  FROM it3 JOIN tm ON tm.a = it3.state JOIN rs ON rs.a = tm.a
  GROUP BY tm.b),
it5 AS (
  SELECT tm.b AS state, CAST(SUM((it4.pi * tm.n) // rs.s) AS BIGINT) AS pi
  FROM it4 JOIN tm ON tm.a = it4.state JOIN rs ON rs.a = tm.a
  GROUP BY tm.b),
it6 AS (
  SELECT tm.b AS state, CAST(SUM((it5.pi * tm.n) // rs.s) AS BIGINT) AS pi
  FROM it5 JOIN tm ON tm.a = it5.state JOIN rs ON rs.a = tm.a
  GROUP BY tm.b)
SELECT state AS event_type, pi AS pi_micro FROM it6
""",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    (events_transition_matrix's counts, normalized row-stochastic) by
    POWER ITERATION — the graph_pagerank recipe on the behavioral
    chain: 6 iterations of pi <- pi P, with each per-edge
    contribution quantized to integer micro-units via exact integral
    division (pi_m * n) // rowsum, so every step is 64-bit integer
    arithmetic and the tiny floor leak is bit-identical on both
    engines. The oracle unrolls the same 6 iterations as CTEs.

    Scale posture: ONE corpus pass builds the transition counts (lag
    window per user, groupBy pair); the iteration then runs on a
    |types|^2 frame — constant-size state, so the loop costs 6 tiny
    jobs regardless of corpus scale. The same shape handles a
    million-state chain: each step is a key join + grouped sum, never
    a driver-side matrix."""
    from python_etl_spark.functions.exact import _idiv

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    tm = seq.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    rs = tm.groupBy("a").agg(F.sum("n").alias("s"))
    p = tm.join(rs, "a").localCheckpoint(eager=True)  # 25-row edge frame
    pi = (
        p.select("a").distinct()
        .select(
            F.col("a").alias("state"),
            F.lit(_MKV_UNIT // 5).cast("long").alias("pi"),
        )
    )
    for _ in range(_MKV_ITERS):
        contrib = _idiv(
            (F.col("pi") * F.col("n")).cast("decimal(38,0)"),
            F.col("s").cast("decimal(38,0)"),
        )
        pi = (
            p.join(pi, p.a == pi.state)
            .groupBy(F.col("b").alias("state2"))
            .agg(F.sum(contrib).cast("long").alias("pi"))
            .withColumnRenamed("state2", "state")
        )
    return pi.select(
        F.col("state").alias("event_type"), F.col("pi").alias("pi_micro")
    )
