"""Driver-side frame helpers shared by the operators and the sinks.

* :func:`estimated_bytes` / :func:`fits_broadcast` — Catalyst's
  plan-statistics size estimate (from file sizes at planning time: no
  job, no data scan) against the session's
  ``spark.sql.autoBroadcastJoinThreshold``, the rule Spark's own
  broadcast planning applies. The broadcast hint of
  ``plans.common.bc_dim``, the sketch-stage spread of
  ``operators.dedup`` and the single-window path of
  ``operators.ranking`` all decide by it.
* :func:`local_frame` — a small engine-built frame (offsets, explain
  and SHOW/DESCRIBE results, empty frames) as an Arrow
  ``LocalRelation``. A list handed to ``spark.createDataFrame`` becomes
  a parallelized RDD that starts a Python worker per task on every
  action; the Arrow relation lives in the plan and runs no job.
"""

from __future__ import annotations

from typing import Any, Iterable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (-1: off)."""
    return int(
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df``'s optimized plan, or None when
    the plan has no statistics. py4j hands ``sizeInBytes`` (a Scala
    BigInt) back as a Python int."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Py4JError:  # pragma: no cover - a plan without statistics
        return None


def fits_broadcast(df: DataFrame) -> bool:
    """True when ``df``'s estimate is at or under the session's
    autoBroadcastJoinThreshold — small enough to ship whole, so one
    task may hold it. No statistics, or the threshold off, is False."""
    est = estimated_bytes(df)
    return est is not None and 0 <= est <= broadcast_threshold(df.sparkSession)


def local_frame(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as an Arrow
    ``LocalRelation``: the same schema and values, verified the same
    way (a value the type cannot hold raises TypeError/ValueError), but
    planned as local data instead of a parallelized Python RDD."""
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = [tuple(r) for r in rows]
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    large = spark._jconf.arrowUseLargeVarTypes()
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, large)
    else:
        table = to_arrow_schema(schema, prefers_large_types=large).empty_table()
    return spark.createDataFrame(table, schema)
