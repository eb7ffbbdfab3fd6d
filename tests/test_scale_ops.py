"""Scale tooling: salted joins must equal plain joins; bucketed tables
must join without an exchange; HLL sketches must be within their error
bound; upsert semantics on crafted data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_etl_spark.operators.skew import salted_join
from python_etl_spark.operators.upsert import latest_by_key, upsert
from python_etl_spark.sources.tables import load_table


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, ["o_custkey"]).select(
        "o_orderkey", "o_custkey", "c_name"
    )
    salted = salted_join(orders, cust, on="o_custkey").select(
        "o_orderkey", "o_custkey", "c_name"
    )
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    right = spark.createDataFrame([(1, "x")], "k long, w string")
    got = _sorted_rows(
        salted_join(left, right, on="k", how="left").select("k", "v", "w")
    )
    assert got == [(1, "a", "x"), (2, "b", None)]


def test_global_rank_matches_window(spark, sf_dir):
    """Global rank == row_number over the same total order: on the
    one-window path (no ``num_partitions``, the input fits) and on the
    range path for several partition counts (offsets must compose)."""
    from pyspark.sql import Window

    from python_etl_spark.operators.ranking import global_rank, with_ntile

    cust = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    want = {
        r.c_custkey: r.rn
        for r in cust.select(
            "c_custkey", F.row_number().over(w).alias("rn")
        ).collect()
    }
    for n_parts in (None, 1, 7, 32):
        ranked = global_rank(
            cust, ["c_acctbal", "c_custkey"], "r", num_partitions=n_parts
        )
        assert dict(ranked.dtypes)["r"] == "bigint"
        got = {r.c_custkey: r.r for r in ranked.select("c_custkey", "r").collect()}
        assert ranked.count() == len(want)
        assert got == want, n_parts
    # ntile edge: more buckets than rows -> tile == rank, on both paths
    tiny = cust.limit(3)
    for n_parts in (None, 2):
        tiles = sorted(
            r.t
            for r in with_ntile(
                tiny, ["c_custkey"], 10, out_col="t", num_partitions=n_parts
            ).collect()
        )
        assert tiles == [1, 2, 3], n_parts


def test_ntile_and_percent_rank_match_sql_on_both_paths(spark):
    """NTILE / percent_rank / cume_dist closed forms == Spark's own
    window functions, on the one-window path and the range path."""
    from pyspark.sql import Window

    from python_etl_spark.operators.ranking import with_ntile, with_percent_rank

    for n in (1, 23):
        df = spark.range(n).selectExpr("id", "(id * 7919) % 101 AS k")
        w = Window.orderBy("k", "id")
        want = {
            r.id: (r.t, r.pr, r.cd)
            for r in df.select(
                "id",
                F.ntile(10).over(w).alias("t"),
                F.percent_rank().over(w).alias("pr"),
                F.cume_dist().over(w).alias("cd"),
            ).collect()
        }
        for n_parts in (None, 3):
            got = {
                r.id: (r.t, r.pr, r.cd)
                for r in with_percent_rank(
                    with_ntile(df, ["k", "id"], 10, "t", num_partitions=n_parts),
                    ["k", "id"],
                    num_partitions=n_parts,
                ).collect()
            }
            assert got == want, (n, n_parts)


def test_salted_join_rejects_replicated_outer(spark):
    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k long, w string")
    with pytest.raises(ValueError, match="salt bucket"):
        salted_join(left, right, on="k", how="right")
    with pytest.raises(ValueError, match="salt bucket"):
        salted_join(left, right, on="k", how="full_outer")


def test_upsert_version_col_tiebreak(spark):
    base = spark.createDataFrame([(1, "old", 0)], "k long, v string, ver int")
    updates = spark.createDataFrame(
        [(1, "v1", 1), (1, "v2", 2)], "k long, v string, ver int"
    )
    got = dict(
        (r.k, r.v)
        for r in upsert(base, updates, keys=["k"], version_col="ver").collect()
    )
    assert got == {1: "v2"}  # highest version among colliding updates wins


def test_upsert_stale_update_cannot_regress(spark):
    """With version_col, a replayed/out-of-order update carrying an
    OLDER version than base must lose — the property that makes the
    CDC MERGE idempotent under mid-batch crash replay."""
    base = spark.createDataFrame([(1, "newer", 5)], "k long, v string, ver int")
    stale = spark.createDataFrame([(1, "stale", 3)], "k long, v string, ver int")
    got = dict(
        (r.k, r.v)
        for r in upsert(base, stale, keys=["k"], version_col="ver").collect()
    )
    assert got == {1: "newer"}


def test_upsert_semantics(spark):
    base = spark.createDataFrame(
        [(1, "old"), (2, "keep")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(1, "new"), (3, "insert")], "k long, v string"
    )
    got = dict(_sorted_rows(upsert(base, updates, keys=["k"])))
    assert got == {1: "new", 2: "keep", 3: "insert"}


def test_latest_by_key_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 2, "c"), (2, 1, "d")],
        "k long, ver int, v string",
    )
    got = {
        r.k: r.v
        for r in latest_by_key(df, ["k"], "ver", tiebreak="v").collect()
    }
    assert got == {1: "c", 2: "d"}  # highest ver, then highest tiebreak


def test_approx_distinct_within_bound(spark, sf_dir):
    from python_etl_spark.plans import QUERIES

    approx = {
        r.l_returnflag: (r.approx_orders, r.approx_parts)
        for r in QUERIES["etl_approx_distinct"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: (r.o, r.p)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_orderkey").alias("o"),
            F.count_distinct("l_partkey").alias("p"),
        )
        .collect()
    }
    for flag, (ao, ap) in approx.items():
        eo, ep = exact[flag]
        assert abs(ao - eo) / eo < 0.05, (flag, ao, eo)
        assert abs(ap - ep) / ep < 0.05, (flag, ap, ep)


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Pre-bucketing both sides on the join key makes the repeated-join
    workload shuffle-free — the co-location strategy for fact-fact
    joins at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("orders_b")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
    )
    # small test tables would broadcast; disable it so the plan shows
    # the bucketed sort-merge join a fact-fact join would use at scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE orders_b")
        spark.sql("DROP TABLE lineitem_b")


def test_unit_conversions_exact(spark):
    from python_etl_spark.functions.units import CONVERTERS, convert

    df = spark.createDataFrame([(212.0,), (32.0,)], "v double")
    c = {
        r.v: r.c
        for r in df.select(
            "v", convert("v", "fahrenheit_to_celsius").alias("c")
        ).collect()
    }
    assert c == {212.0: 100.0, 32.0: 0.0}
    with pytest.raises(ValueError, match="unknown conversion"):
        convert("v", "furlongs_to_parsecs")
    assert "lbs_to_kg" in CONVERTERS


def test_validate_quarantine_split(spark):
    from python_etl_spark.operators.quality import validate

    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "O"), (3, 7.0, "X"), (4, -1.0, "Y")],
        "id long, price double, status string",
    )
    rules = {
        "positive_price": F.col("price") > 0,
        "known_status": F.col("status").isin("O", "F", "P"),
    }
    valid, quarantined = validate(df, rules)
    assert [r.id for r in valid.orderBy("id").collect()] == [1]
    bad = {r.id: sorted(r.failed_rules) for r in quarantined.collect()}
    assert bad == {
        2: ["positive_price"],
        3: ["known_status"],
        4: ["known_status", "positive_price"],
    }


def test_conform_schema(spark):
    from python_etl_spark.operators.upsert import conform_schema

    df = spark.createDataFrame(
        [(1, "5", 2.0)], "id long, qty string, junk double"
    )
    out = conform_schema(df, "id int, qty int, note string")
    assert out.dtypes == [("id", "int"), ("qty", "int"), ("note", "string")]
    assert out.first() == (1, 5, None)
    with pytest.raises(ValueError, match="unexpected columns"):
        conform_schema(df, "id int, qty int", strict=True)


def test_global_cumsum_matches_window(spark, sf_dir):
    """Scale-safe running total == SUM OVER the same total order, for
    several partition counts (sum offsets must compose correctly)."""
    from pyspark.sql import Window

    from python_etl_spark.operators.ranking import global_cumsum

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("v")
    )
    w = (
        Window.orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r.c_custkey: r.cs
        for r in cust.select(
            "c_custkey", F.sum("v").over(w).alias("cs")
        ).collect()
    }
    for n_parts in (None, 1, 7, 32):
        got = {
            r.c_custkey: r.cum
            for r in global_cumsum(
                cust, ["c_custkey"], "v", "cum", num_partitions=n_parts
            ).collect()
        }
        assert got == want, n_parts
    # a partition whose own prefix is all NULL still carries the sum of
    # the partitions before it (SQL: NULL only until the first value)
    nulls = spark.range(12).selectExpr(
        "id AS k", "CASE WHEN id BETWEEN 4 AND 7 THEN NULL ELSE id END AS v"
    )
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {r.k: r.cs for r in nulls.select("k", F.sum("v").over(w).alias("cs")).collect()}
    assert want[4] == 6 and want[0] == 0
    for n_parts in (None, 1, 3, 6):
        got = {
            r.k: r.cum
            for r in global_cumsum(
                nulls, ["k"], "v", "cum", num_partitions=n_parts
            ).collect()
        }
        assert got == want, n_parts
    # all-NULL prefix: NULL until the first value, on both paths
    lead = spark.range(6).selectExpr(
        "id AS k", "CASE WHEN id < 3 THEN NULL ELSE id END AS v"
    )
    for n_parts in (None, 3):
        got = sorted(
            (r.k, r.cum)
            for r in global_cumsum(
                lead, ["k"], "v", "cum", num_partitions=n_parts
            ).collect()
        )
        assert got == [(0, None), (1, None), (2, None), (3, 3), (4, 7), (5, 12)]


def test_approx_quantiles_rank_error_bound(spark, sf_dir):
    """Sketch quantiles must sit within a 2% RELATIVE-VALUE band of the
    exact per-group percentiles. (The GK sketch at accuracy 10000 gives
    a rank-error bound of 1e-4; on this distribution that translates to
    well under 2% value error, which is the tolerance enforced here —
    a value band, not a rank bound.)"""
    from python_etl_spark.plans.etl import etl_approx_quantiles

    approx = {
        r.l_returnflag: (r.p25, r.p50, r.p75, r.p95)
        for r in etl_approx_quantiles(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.qs
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice",
                F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95)]),
            ).alias("qs")
        )
        .collect()
    }
    for flag, got in approx.items():
        for g, e in zip(got, exact[flag]):
            assert abs(g - e) / max(abs(e), 1.0) < 0.02, (flag, got, exact[flag])
