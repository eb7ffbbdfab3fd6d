"""Global ordering ranks and running sums, sized to the input.

``global_rank``, ``with_ntile``, ``with_percent_rank`` and
``global_cumsum`` share one prefix skeleton (:func:`_prefix`): a
running aggregate over a global TOTAL order (include a unique tiebreak
column), plus, for the ranks, the row count ``n`` as a Column. Two
paths, chosen per call:

* **The input fits** (its plan-statistics estimate is at or under the
  session's ``spark.sql.autoBroadcastJoinThreshold``, the rule
  ``frames.fits_broadcast`` shares with broadcast hints) **and no
  explicit** ``num_partitions``: one single-partition window —
  ``row_number()`` (or a running ``sum``) over the order, ``n`` from
  ``count(*) over ()``. Lazy: construction runs no Spark job, and a
  frame that could be broadcast is cheap to hold in one task.
* **Otherwise** the single-partition window is the scale-killer, so:
  ``repartitionByRange`` on the order keys (each partition holds a
  contiguous key range), an eager ``localCheckpoint`` that pins the
  partitioning both passes see, one per-partition count/sum collect
  (O(num_partitions) numbers reach the driver, never row data),
  parallel per-partition windows, and each partition's offset read
  from a literal ``element_at(array(<offsets>), __pid + 1)``. An
  explicit ``num_partitions`` is a caller's choice and always takes
  this path.

With a total order rank == row_number, so the NTILE tile,
``percent_rank`` and ``cume_dist`` are closed-form column arithmetic
over the rank and ``n`` that both paths share, and give identical
results.

Why the range path stays eager: a lazy variant that derives the
offsets in the same plan (a per-partition count aggregate joined back)
returns wrong ranks. Catalyst column-prunes the count branch, so its
range exchange is not the rank branch's exchange, and
``RangePartitioner`` seeds its sample from the RDD id — the two
exchanges get different bounds, and the offsets of one are added to
the partitions of the other.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType

from python_etl_spark.frames import fits_broadcast


def partition_offsets(
    totals: dict[int, object], pid: Column, dtype: DataType
) -> tuple[Column, object]:
    """(each row's offset, grand total) for per-partition ``totals``
    (``{partition id: total}``, ids dense from 0 up to the largest;
    a missing id holds no rows). The offset of partition p is the sum
    of the totals before it, NULL when none of them is non-NULL (the
    SQL SUM of no values), read from a literal array — no join and no
    extra frame."""
    offsets, acc = [], None
    for p in range(max(totals, default=-1) + 1):
        offsets.append(acc)
        t = totals.get(p)
        if t is not None:
            acc = t if acc is None else acc + t
    lits = [F.lit(o).cast(dtype) for o in offsets] or [F.lit(None).cast(dtype)]
    return F.element_at(F.array(*lits), (pid + 1).cast("int")), acc


def _prefix(
    df: DataFrame,
    cols: list[Column],
    out_col: str,
    running: Callable[[Window], Column],
    total: Column,
    dtype: DataType,
    num_partitions: int | None,
) -> tuple[DataFrame, object | None]:
    """``df`` + ``out_col``: ``running`` over the global order of
    ``cols`` (``running`` maps an ordered window to the window
    function). On the range path also returns the grand total of
    ``total`` (a per-partition aggregate); on the one-window path None."""
    if num_partitions is None and fits_broadcast(df):
        return df.withColumn(
            out_col, running(Window.orderBy(*cols)).cast(dtype)
        ), None
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    # localCheckpoint, not persist: the ContextCleaner reclaims the
    # checkpointed RDD once the result goes out of scope, where an
    # explicit .persist() leaked until session shutdown
    part = (
        df.repartitionByRange(n_parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = dict(
        tuple(r) for r in part.groupBy("__pid").agg(total).collect()
    )
    off, grand = partition_offsets(totals, F.col("__pid"), dtype)
    local = F.col("__local")
    out = (
        part.withColumn(
            "__local", running(Window.partitionBy("__pid").orderBy(*cols))
        )
        # a partition whose own prefix is still all NULL carries the
        # earlier partitions' sum, as SQL SUM OVER does
        .withColumn(
            out_col,
            F.when(local.isNull(), off)
            .otherwise(local + F.coalesce(off, F.lit(0)))
            .cast(dtype),
        )
        .drop("__pid", "__local")
    )
    return out, grand


def _order(order_cols: list[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def _rank(
    df: DataFrame,
    order_cols: list[str | Column],
    rank_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, Column]:
    """(df + 1-based long ``rank_col``, the row count n as a Column)."""
    ranked, n = _prefix(
        df,
        _order(order_cols),
        rank_col,
        lambda w: F.row_number().over(w),
        F.count(F.lit(1)),
        LongType(),
        num_partitions,
    )
    n_col = (
        F.count(F.lit(1)).over(Window.partitionBy())
        if n is None
        else F.lit(n).cast("long")
    )
    return ranked, n_col


def global_rank(
    df: DataFrame,
    order_cols: list[str | Column],
    rank_col: str = "__rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + 1-based long ``rank_col`` over the total order
    (``row_number()``): one window when the input fits, range
    partitions with literal offsets when it does not or when
    ``num_partitions`` is given (see the module docstring)."""
    return _rank(df, order_cols, rank_col, num_partitions)[0]


def with_ntile(
    df: DataFrame,
    order_cols: list[str | Column],
    buckets: int,
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """SQL ``NTILE(buckets)`` over a global total order, scale-safe.

    NTILE semantics: with n rows, the first ``n % buckets`` tiles get
    ``n // buckets + 1`` rows, the rest ``n // buckets``; with fewer
    rows than buckets the tile is the rank. Closed-form from the
    global rank and n."""
    ranked, n = _rank(df, order_cols, "__r", num_partitions)
    r = F.col("__r")
    q = F.floor(F.col("__n") / F.lit(buckets))
    rem = F.col("__n") - q * buckets
    big = rem * (q + 1)  # rows covered by the (q+1)-sized tiles
    tile = (
        F.when(q == 0, r)
        .when(r <= big, F.floor((r - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((r - 1 - big) / F.greatest(q, F.lit(1))) + 1)
    )
    return (
        ranked.withColumn("__n", n)
        .withColumn(out_col, tile.cast("int"))
        .drop("__r", "__n")
    )


def with_percent_rank(
    df: DataFrame,
    order_cols: list[str | Column],
    pr_col: str = "pr",
    cd_col: str = "cd",
    num_partitions: int | None = None,
) -> DataFrame:
    """``percent_rank()`` and ``cume_dist()`` over a global TOTAL order
    (keys must be unique, e.g. tiebroken by a key column — then
    rank == row_number and pr=(r-1)/(n-1), cd=r/n exactly)."""
    ranked, n = _rank(df, order_cols, "__r", num_partitions)
    r = F.col("__r").cast("double")
    nd = F.col("__n").cast("double")
    return (
        ranked.withColumn("__n", n)
        .withColumn(
            pr_col,
            F.when(F.col("__n") <= 1, F.lit(0.0)).otherwise(
                (r - 1) / F.greatest(nd - 1, F.lit(1.0))
            ),
        )
        .withColumn(cd_col, r / F.greatest(nd, F.lit(1.0)))
        .drop("__r", "__n")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str | Column],
    val_col: str | Column,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running total (SQL ``SUM(val) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)``) over a global TOTAL order: one window when the input
    fits, range partitions with literal sum offsets when it does not
    or when ``num_partitions`` is given (see the module docstring).
    NULLs follow SQL on both paths: NULL until the first non-NULL
    value, then the sum of the non-NULL values so far."""
    v = F.col(val_col) if isinstance(val_col, str) else val_col
    dtype = df.select(F.sum(v)).schema.fields[0].dataType
    rows = Window.unboundedPreceding, Window.currentRow
    out, _ = _prefix(
        df.withColumn("__v", v),
        _order(order_cols),
        out_col,
        lambda w: F.sum("__v").over(w.rowsBetween(*rows)),
        F.sum("__v"),
        dtype,
        num_partitions,
    )
    return out.drop("__v")
