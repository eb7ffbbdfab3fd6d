"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a large cluster (AQE on, skew-join handling,
partition coalescing, Arrow for the few Pandas-UDF operators) but
work identically on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Dynamic SQL confs applied to *any* session handed to us (including the
# driver's): safe, idempotent, and required for correct reads/plans.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which the vectorized parquet
    # reader rejects; read as long and convert (see sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # r13 (r12 verdict #4): Python-data-source filter pushdown ON for
    # sessions we bootstrap — the versioned_table read face then
    # selects its skipping reader BY DEFAULT (option pushdown=auto);
    # vanilla sessions that never ran this stay on the plain reader
    # automatically (the auto probe is conservative), so nothing
    # breaks when the conf is off.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply dynamic confs to an externally-created session (driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable conf on this build: keep going
            pass
    return spark


def env_int(name: str, default: int) -> int:
    """A positive integer knob from the environment: ``default`` when
    unset or unparsable (with a warning naming the bad value),
    clamped to >= 1 — a typo'd knob never crashes session start-up or
    yields a zero/negative size."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        import warnings

        warnings.warn(
            f"{name}={raw!r} is not an integer; using {default}",
            stacklevel=2,
        )
        return default
    return max(1, value)


def get_spark(
    app_name: str = "python-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    n_shuffle = shuffle_partitions or env_int(
        "SPARK_SQL_SHUFFLE_PARTITIONS", 32
    )
    conf = {
        **RUNTIME_CONFS,
        "spark.sql.shuffle.partitions": str(n_shuffle),
        # keep scans from producing tiny partitions on local test data
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
