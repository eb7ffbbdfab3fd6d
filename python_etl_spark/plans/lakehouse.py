"""Lakehouse queries: every plan whose fixture writes a VersionedTable
or goes through the SQL router (``python_etl_spark.sql``).

Each query builds a small session-scoped table from the TPC-H tables,
drives one lakehouse surface through it, and aggregates the result so
that a DuckDB oracle replaying the same arithmetic over the source
tables can hash-check it:

* incremental loads — high-watermark extract through the Pipeline
  API, cross-snapshot dedup, an incrementally maintained rollup;
* row-level change feed — typed MERGE/DELETE feed, CDC replay, SCD2
  history, the registered ``table_changes`` source;
* MERGE — conditional clauses, schema-evolving merge, bloom-pruned
  merge on hash keys;
* deletes and layout — merge-on-read deletion vectors (full-row and
  key-column), optimize(), Z-order on numeric and string keys,
  per-file skipping, bloom point lookups;
* schema and table evolution — widening, rename, drop, partition
  evolution, constraints, generated and identity columns, shallow
  clone, snapshot drift;
* SQL faces — UPDATE, MERGE, DELETE, COPY INTO, transactions, DDL,
  TABLE_CHANGES and named tables.

Fixtures live under ``common.fixture_root`` (one directory per query
tag, session and source dir). A fixture that is one table with one
commit per step is a ``common.fixture_table`` ladder: re-entrant, so
the driver and the oracle comparison can call a query repeatedly in
one session and every call reads the same committed versions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_spark.plans.common import ORACLES as _ORACLES
from python_etl_spark.plans.common import (
    dsum,
    dsum_sql,
    fixture_root,
    fixture_table,
    register,
)
from python_etl_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _k_qty_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, qty = k % 100, status) over orders: the starting rows of the
    SQL-face tables."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        (F.col("o_orderkey") % 100).cast("long").alias("qty"),
        F.col("o_orderstatus").alias("status"),
    )


def _k_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, priority, price decimal(12,2)) over orders: the rows of the
    evolution, constraint, clone and generated-column tables."""
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )


def _price_totals(df: DataFrame, *keys, n: str = "n_rows") -> DataFrame:
    """Row count (as ``n``) and exact price sum (as ``amount``) per
    ``keys``: the aggregate most lakehouse oracles hash."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(n),
        F.sum("price").cast("double").alias("amount"),
    )


def _refused(write, message: str) -> None:
    """Run ``write``, which the table's constraints must refuse; raise
    ``message`` if it lands instead."""
    from python_etl_spark.sinks.table import ConstraintViolationError

    try:
        write()
    except ConstraintViolationError:
        return
    raise RuntimeError(message)


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


# ---------------------- incremental dedup (hash-checked) -------------------

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
    d = IncrementalDeduper(fixture_root(spark, sf_dir, "incr"))
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
    from python_etl_spark.operators.incremental import MaterializedRollup
    from python_etl_spark.sinks.table import VersionedTable

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
        "o_orderdate",
    )
    root = fixture_root(spark, sf_dir, "mroll")
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
    """The 3-commit CDF demo table: v0 create, v1 merge
    (track_changes), v2 delete."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    upd = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "priority",
        (F.col("price") + 100).cast("decimal(28,6)").alias("price"),
    )
    return fixture_table(
        spark, sf_dir, "cdf",
        lambda t: t.create(orders.where(F.col("o_orderkey") % 3 != 2)),
        lambda t: t.merge(upd, ["o_orderkey"]),
        lambda t: t.delete_where(F.col("o_orderkey") % 7 == 0),
    )


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
    return _price_totals(
        feed, F.col("_change_type").alias("change_type"), "priority", n="n"
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
    return _price_totals(replayed, "priority")


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
    """The 2-commit clause-MERGE table: v0 create, v1 conditional
    merge."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    src = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "priority",
        (F.col("price") + 100).cast("decimal(28,6)").alias("price"),
    )
    return fixture_table(
        spark, sf_dir, "mclause",
        lambda t: t.create(orders.where(F.col("o_orderkey") % 3 != 2)),
        lambda t: t.merge(
            src,
            ["o_orderkey"],
            when_matched_delete="t.o_orderkey % 11 = 0",
            when_matched_update="t.o_orderkey % 2 = 0",
            when_not_matched_insert="s.o_orderkey % 2 = 1",
        ),
    )


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
    return _price_totals(t.read(spark), "priority")


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
    return _price_totals(
        feed, F.col("_change_type").alias("change_type"), "priority", n="n"
    )


# ------------- merge-on-read deletes + table_changes + widening -------------
#
# Round 10 part 2: the new lakehouse surfaces promoted from [T]-only to
# driver-hash-certified queries — a deletion-vector DELETE whose
# snapshot read proves both the tombstone anti-join AND re-insert
# safety, the registered table_changes source's batch face against the
# same oracle the row_changes query uses, and a type-widening append
# read back through the cast-conforming snapshot path.


def _mor_source(spark: SparkSession, sf_dir: str,
                key_cols: list[str] | None = None):
    """v0 create (k % 3 != 2), v1 MERGE-ON-READ delete (k % 7 == 0 —
    zero data files rewritten, tombstone sidecar only), v2 append
    RE-INSERTING value-identical rows for the deleted k % 11 == 0
    subset (they live in a newer dir, outside the tombstone's scope,
    and must survive). With ``key_cols=['o_orderkey']`` the sidecar
    stores only the key (the wide-row DV economy) in a table of its
    own; the final state is value-identical either way."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    return fixture_table(
        spark, sf_dir, "mork" if key_cols else "mor",
        lambda t: t.create(orders.where(F.col("o_orderkey") % 3 != 2)),
        lambda t: t.delete_where(
            F.col("o_orderkey") % 7 == 0,
            merge_on_read=True,
            key_cols=key_cols,
        ),
        lambda t: t.append(
            orders.where(
                (F.col("o_orderkey") % 3 != 2)
                & (F.col("o_orderkey") % 7 == 0)
                & (F.col("o_orderkey") % 11 == 0)
            )
        ),
    )


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
    return _price_totals(t.read(spark), "priority")


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
    return _price_totals(
        feed, F.col("_change_type").alias("change_type"), "priority", n="n"
    )


# same typed-feed truth as the library path: hold the registered
# source to etl_cdf_changes' exact oracle
_ORACLES["etl_table_changes_batch"] = _ORACLES["etl_cdf_changes"]


def _widen_source(spark: SparkSession, sf_dir: str):
    """v0 create with (int, int, decimal(12,2)); v1 append widened
    (long keys, long qty, decimal(18,2)) + a NEW column — additive
    evolution and type widening in one batch."""
    orders = _t(spark, sf_dir, "orders")
    return fixture_table(
        spark, sf_dir, "widen",
        lambda t: t.create(
            orders.select(
                F.col("o_orderkey").cast("int").alias("k"),
                (F.col("o_orderkey") % 50).cast("int").alias("qty"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            )
        ),
        lambda t: t.append(
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
        ),
    )


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
    orders = _t(spark, sf_dir, "orders")
    t = fixture_table(
        spark, sf_dir, "drift",
        lambda t: t.create(
            orders.where(F.col("o_orderkey") % 2 == 0).select(
                F.col("o_totalprice")
                .cast("decimal(12,2)")
                .cast("double")
                .alias("price"),
                F.col("o_orderpriority").alias("priority"),
            )
        ),
        lambda t: t.append(
            orders.where(F.col("o_orderkey") % 2 == 1).select(
                (F.col("o_totalprice").cast("decimal(12,2)") * 1.2)
                .cast("double")
                .alias("price"),
                F.col("o_orderpriority").alias("priority"),
            )
        ),
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
    t = fixture_table(
        spark, sf_dir, "ptlk",
        lambda t: t.create(base.where(F.col("k") % 6 == 0), bloom_keys=["uk"]),
        *(
            lambda t, i=i: t.append(base.where(F.col("k") % 6 == i))
            for i in range(1, 6)
        ),
    )
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
    from python_etl_spark import sql as vt_sql

    t = fixture_table(
        spark, sf_dir, "squpd",
        lambda t: t.create(_k_qty_status(spark, sf_dir)),
        lambda t: vt_sql(
            spark,
            f"UPDATE vt'{t.root}' SET qty = qty + 1000, status = 'U' "
            f"WHERE k % 7 = 0 AND status <> 'F'",
        ),
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
    from python_etl_spark import sql as vt_sql

    _t(spark, sf_dir, "orders").createOrReplaceTempView("__sqldml_orders")
    t = fixture_table(
        spark, sf_dir, "sqldml",
        lambda t: t.create(_k_qty_status(spark, sf_dir)),
        lambda t: vt_sql(
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
        ),
        lambda t: vt_sql(spark, f"DELETE FROM vt'{t.root}' WHERE status = 'F'"),
    )
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
    from python_etl_spark import sql as vt_sql

    _t(spark, sf_dir, "orders").createOrReplaceTempView("__squms_orders")
    t = fixture_table(
        spark, sf_dir, "squms",
        lambda t: t.create(_k_qty_status(spark, sf_dir)),
        lambda t: vt_sql(
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
        ),
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
    from python_etl_spark import sql as vt_sql

    orders = _k_qty_status(spark, sf_dir)
    stage = os.path.join(fixture_root(spark, sf_dir, "sqcpy"), "stage")

    def _stage_and_copy(t, parity: int) -> str:
        orders.where(F.col("k") % 2 == parity).coalesce(2).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, f"b{parity + 1}"))
        stmt = f"COPY INTO vt'{t.root}' FROM '{stage}' FILEFORMAT = PARQUET"
        vt_sql(spark, stmt)
        return stmt

    def _copy_even_twice(t) -> None:
        stmt = _stage_and_copy(t, 0)
        rerun = vt_sql(spark, stmt).first()  # idempotence ON the hash
        if rerun["files_loaded"] != "0":
            raise RuntimeError(
                f"COPY INTO re-run loaded {rerun['files_loaded']} files"
            )

    t = fixture_table(
        spark, sf_dir, "sqcpy",
        lambda t: t.create(orders.limit(0)),
        _copy_even_twice,
        lambda t: _stage_and_copy(t, 1),
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
    from python_etl_spark import sql as vt_sql

    orders = _t(spark, sf_dir, "orders")
    stage = os.path.join(fixture_root(spark, sf_dir, "sqcev"), "stage")

    def _stage_and_create(t) -> None:
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

    def _copy_evolved_twice(t) -> None:
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

    t = fixture_table(
        spark, sf_dir, "sqcev",
        _stage_and_create,
        lambda t: vt_sql(
            spark,
            f"COPY INTO vt'{t.root}' FROM '{stage}' FILEFORMAT = "
            f"PARQUET PATTERN = 'b1/*.parquet'",
        ),
        _copy_evolved_twice,
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
    from python_etl_spark.sql import sql as vt_sql
    from python_etl_spark.sql import sql_script

    def _empty(name: str, schema: str):
        return fixture_table(
            spark, sf_dir, "sqtxn",
            lambda t: t.create(spark.createDataFrame([], schema)),
            name=name,
        )

    # the transaction commits t1 twice (INSERT, UPDATE): one step, two
    # versions, so it is not a fixture_table step
    t1 = _empty("t1", "k long, qty long")
    t2 = _empty("t2", "k long, status string")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__sqtxn_orders")
    if t1.latest_version() < 2:
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
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
    )
    t = fixture_table(
        spark, sf_dir, "ident",
        lambda t: t.create(
            orders, identity={"id": {"start": 100, "step": 10}}
        ),
        lambda t: t.append(orders.where(F.col("k") % 3 == 0)),
    )
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
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
    )
    t = fixture_table(
        spark, sf_dir, "identd",
        lambda t: t.create(
            orders.withColumn(
                "id", (F.lit(1_000_000) + F.col("k") * 10).cast("long")
            ),
            identity={
                "id": {"start": 100, "step": 10, "mode": "default"}
            },
        ),
        lambda t: t.append(orders.where(F.col("k") % 3 == 0)),
        lambda t: t.append(
            orders.where(F.col("k") % 5 == 0).withColumn(
                "id",
                (F.lit(1_000_009) + F.col("k") * 10).cast("long"),
            )
        ),
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
    any replica's key range)."""
    orders = _t(spark, sf_dir, "orders")
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
    return fixture_table(
        spark, sf_dir, "mevolve",
        lambda t: t.create(
            orders.select(
                F.col("o_orderkey").cast("int").alias("k"),
                (F.col("o_orderkey") % 50).cast("int").alias("qty"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            )
        ),
        lambda t: t.merge(
            upd.unionByName(ins), keys=["k"], allow_evolution=True
        ),
    )


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
    t = _mor_source(spark, sf_dir, key_cols=["o_orderkey"])
    return _price_totals(t.read(spark), "priority")


# same final-state truth as the full-row-tombstone path
_ORACLES["etl_mor_delete_keyed"] = _ORACLES["etl_mor_delete"]


def _rename_source(spark: SparkSession, sf_dir: str):
    """v0 create (even keys, column ``v``); v1 METADATA-ONLY rename
    v -> price (zero files rewritten); v2 append the odd keys under
    the NEW name. Half the table's files carry the old physical name,
    half the new — only the manifest name-mapping makes them one
    column."""
    base = _k_priority_price(spark, sf_dir)
    return fixture_table(
        spark, sf_dir, "rename",
        lambda t: t.create(
            base.where(F.col("k") % 2 == 0).withColumnRenamed("price", "v")
        ),
        lambda t: t.rename_column("v", "price"),
        lambda t: t.append(base.where(F.col("k") % 2 == 1)),
    )


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
    return _price_totals(t.read(spark), "priority")


def _bloom_merge_source(spark: SparkSession, sf_dir: str):
    """v0 create with bloom_keys on an md5-shaped key (min-max stats
    are USELESS on it — every dir spans the whole hash range), v1
    append, v2 keyed MERGE (updates + inserts). The merge's touched-dir
    discovery exercises the bloom pass end-to-end."""
    orders = _t(spark, sf_dir, "orders").select(
        F.md5(F.col("o_orderkey").cast("string")).alias("k"),
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    return fixture_table(
        spark, sf_dir, "bloomm",
        lambda t: t.create(orders.where(F.col("id") % 3 == 0), bloom_keys=["k"]),
        lambda t: t.append(orders.where(F.col("id") % 3 == 1)),
        lambda t: t.merge(
            orders.where(F.col("id") % 5 == 0).withColumn(
                "price", (F.col("price") + 100).cast("decimal(28,6)")
            ),
            keys=["k"],
        ),
    )


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
    return _price_totals(t.read(spark), "priority")


def _fileskip_source(spark: SparkSession, sf_dir: str):
    """One commit dir holding lineitem CLUSTERED on l_orderkey into 8
    range-partitioned, sorted files — each file's footer covers a
    tight key range, so the manifest's per-file stats can prune inside
    the dir."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    return fixture_table(
        spark, sf_dir, "fskip",
        lambda t: t.create(
            li.repartitionByRange(8, "k").sortWithinPartitions("k")
        ),
    )


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
    materializes the DVs and bin-packs the small dirs."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    t = fixture_table(
        spark, sf_dir, "optim",
        lambda t: t.create(orders.where(F.col("k") % 2 == 0)),
        *(
            lambda t, r=r: t.append(orders.where(F.col("k") % 6 == r))
            for r in (1, 3, 5)
        ),
        lambda t: t.delete_where(F.col("k") % 7 == 0, merge_on_read=True),
    )
    if t.latest_version() < 5:
        # one planner call commits one version per action it takes,
        # so it is not a ladder step
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
    return _price_totals(t.read(spark), "priority")


def _drop_source(spark: SparkSession, sf_dir: str):
    """v0 create (even keys + a scratch column), v1 METADATA-ONLY
    drop of the scratch column, v2 append of the odd keys WITHOUT it —
    the v2 append only passes the (strict, no-evolution) drift guard
    because the drop really took effect, so the final state certifies
    the whole chain."""
    base = _k_priority_price(spark, sf_dir)
    return fixture_table(
        spark, sf_dir, "dropc",
        lambda t: t.create(
            base.where(F.col("k") % 2 == 0).withColumn(
                "scratch", F.lit("staging-junk")
            )
        ),
        lambda t: t.drop_column("scratch"),
        lambda t: t.append(base.where(F.col("k") % 2 == 1)),
    )


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
    return _price_totals(t.read(spark), "priority")


def _constraints_source(spark: SparkSession, sf_dir: str):
    """Constraint lifecycle fixture: v0 create with two CHECK
    constraints, a violating append REFUSED (table must stay
    unchanged — silent acceptance inflates the count and breaks the
    hash), v1 valid append, v2 add_constraint (validated against the
    live snapshot), a violating merge REFUSED, v3 valid merge insert."""
    base = _k_priority_price(spark, sf_dir)

    def _valid_append(t) -> None:
        # enforcement certified IN the query: a violating batch must
        # be refused with the table unchanged
        _refused(
            lambda: t.append(
                base.where(F.col("k") % 3 == 1).withColumn(
                    "price", F.lit(-1).cast("decimal(12,2)")
                )
            ),
            "constraint enforcement failed: violating append landed",
        )
        t.append(base.where(F.col("k") % 3 == 1))

    def _valid_merge(t) -> None:
        _refused(
            lambda: t.merge(
                base.where(F.col("k") % 3 == 2).withColumn(
                    "k", -F.col("k")
                ),
                keys=["k"],
            ),
            "constraint enforcement failed: violating merge landed",
        )
        t.merge(base.where(F.col("k") % 3 == 2), keys=["k"])

    return fixture_table(
        spark, sf_dir, "cons",
        lambda t: t.create(
            base.where(F.col("k") % 3 == 0),
            constraints={
                "pos_price": "price > 0",
                "has_priority": "priority IS NOT NULL",
            },
        ),
        _valid_append,
        lambda t: t.add_constraint("k_nonneg", "k >= 0"),
        _valid_merge,
    )


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
    return _price_totals(t.read(spark), "priority")


def _zorder_step(spark: SparkSession, **cluster):
    """A fixture step: one optimize() whose only action must be the
    Z-order rewrite (``small_bytes=1`` keeps bin-packing out)."""

    def step(t) -> None:
        acts = t.optimize(spark, small_bytes=1, max_dirs=64, **cluster)
        if [a["action"] for a in acts] != ["compact_zorder"]:
            raise RuntimeError(
                f"expected one compact_zorder action, got {acts}"
            )

    return step


def _zorder_source(spark: SparkSession, sf_dir: str):
    """Z-order fixture: orders keyed by (k=orderkey, c=custkey),
    created row-ordered in 4 files (custkey ranges full-domain in
    every file), then optimize(cluster_by=[k, c]) rewrites Z-ordered.
    The provenance skip would make a second optimize a no-op."""
    orders = _t(spark, sf_dir, "orders")
    return fixture_table(
        spark, sf_dir, "zord",
        lambda t: t.create(
            orders.select(
                F.col("o_orderkey").alias("k"),
                F.col("o_custkey").alias("c"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            ).repartition(4)
        ),
        _zorder_step(spark, cluster_by=["k", "c"]),
    )


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
    return _price_totals(
        pruned.where(F.col("c").between(100, 300)), "priority"
    )


def _zorder_str_source(spark: SparkSession, sf_dir: str):
    """String-cluster-key fixture (r11 verdict #3): orders keyed by
    (host string = 'h' + zero-padded custkey%500, k=orderkey), the
    web-corpus shape (tables cluster by host/url). cluster_keys are
    DECLARED AT CREATE — r12's create-time validation accepts the
    string key — and a BARE optimize() (no schema knowledge) Z-orders
    on them via sampled lexicographic boundaries."""
    orders = _t(spark, sf_dir, "orders")
    return fixture_table(
        spark, sf_dir, "zords",
        lambda t: t.create(
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
        ),
        _zorder_step(spark),
    )


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
    return _price_totals(
        pruned.where(F.col("host").between("h0000", "h0063")), "priority"
    )


def _clone_source(spark: SparkSession, sf_dir: str):
    """Shallow-clone fixture: source = even orderkeys, clone it
    (zero-copy), append the odd orderkeys ONLY to the clone — the
    clone must see all orders while the source still holds exactly
    the evens (divergence both asserted here and hash-certified by
    the oracle). Re-entrant."""
    from python_etl_spark.sinks.table import VersionedTable

    root = fixture_root(spark, sf_dir, "clone")
    base = _k_priority_price(spark, sf_dir)
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
    return _price_totals(t.read(spark), "priority")


def _partev_source(spark: SparkSession, sf_dir: str):
    """Partition-evolution fixture: v0 flat create (even orderkeys),
    v1 metadata-only set_partitioning(priority), v2 append of the odd
    orderkeys landing under the new hive layout — asserted on the
    commit dir itself, so a silently-flat append fails the fixture
    before the hash can pass."""
    base = _k_priority_price(spark, sf_dir)

    def _hive_append(t) -> None:
        t.append(base.where(F.col("k") % 2 == 1))
        new_dir = t._read_manifest()["data_dirs"][-1]
        if not any(
            d.startswith("priority=") for d in os.listdir(new_dir)
        ):
            raise RuntimeError(
                "post-evolution append did not use the new hive layout"
            )

    return fixture_table(
        spark, sf_dir, "pev",
        lambda t: t.create(base.where(F.col("k") % 2 == 0)),
        lambda t: t.set_partitioning(["priority"]),
        _hive_append,
    )


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
    return _price_totals(t.read(spark), "priority")


def _generated_source(spark: SparkSession, sf_dir: str):
    """Generated-column fixture: v0 create declares bucket = k % 7
    (computed — the initial frame omits it), v1 append WITHOUT the
    column (computed again), a disagreeing append REFUSED with the
    table unchanged, v2 append WITH the correct values (verified)."""
    base = _k_priority_price(spark, sf_dir)

    def _verified_append(t) -> None:
        odd = base.where(F.col("k") % 3 == 2)
        _refused(
            lambda: t.append(
                odd.withColumn("bucket", F.lit(99).cast("long"))
            ),
            "generated-column enforcement failed: bad values landed",
        )
        t.append(odd.withColumn("bucket", (F.col("k") % 7).cast("long")))

    return fixture_table(
        spark, sf_dir, "gcol",
        lambda t: t.create(
            base.where(F.col("k") % 3 == 0),
            generated={"bucket": "k % 7"},
        ),
        lambda t: t.append(base.where(F.col("k") % 3 == 1)),
        _verified_append,
    )


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
    return _price_totals(t.read(spark), "bucket")


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
    the constraint is REFUSED (marker row on the oracle)."""
    from python_etl_spark import sql as vt_sql

    def _ctas(t) -> None:
        _t(spark, sf_dir, "orders").createOrReplaceTempView(
            "__sqlddl_orders"
        )
        vt_sql(
            spark,
            f"""
            CREATE TABLE vt'{t.root}' AS
            SELECT CAST(o_orderkey AS LONG) AS k,
                   CAST(o_orderkey % 100 AS LONG) AS qty,
                   o_orderstatus AS status
            FROM __sqlddl_orders
            """,
        )

    ddl = (
        "ALTER TABLE {vt} RENAME COLUMN qty TO quantity",
        "ALTER TABLE {vt} ADD COLUMN bonus bigint",
        "UPDATE {vt} SET bonus = quantity * 2 WHERE k % 10 = 0",
        "ALTER TABLE {vt} ADD CONSTRAINT bonus_pos "
        "CHECK (bonus IS NULL OR bonus >= 0)",
    )
    return fixture_table(
        spark, sf_dir, "sqlddl",
        _ctas,
        *(
            lambda t, q=q: vt_sql(spark, q.format(vt=f"vt'{t.root}'"))
            for q in ddl
        ),
    )


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
    return _price_totals(feed, "change_type", "priority", n="n")


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
    from python_etl_spark import sql as vt_sql
    from python_etl_spark.catalog import Catalog
    from python_etl_spark.sinks.table import VersionedTable

    cat_path = os.path.join(
        fixture_root(spark, sf_dir, "sqlcat"), "catalog.json"
    )
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
