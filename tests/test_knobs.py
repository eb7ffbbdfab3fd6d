"""Environment knobs: an unparsable value falls back to the default
(with a warning) and every value is clamped to >= 1."""

from __future__ import annotations

import pytest

from python_etl_spark.session import env_int


@pytest.mark.parametrize(
    "raw, want",
    [(None, 32), ("8", 8), (" 12 ", 12), ("0", 1), ("-5", 1)],
)
def test_env_int_parses_and_clamps(monkeypatch, raw, want):
    if raw is None:
        monkeypatch.delenv("SPARK_SQL_SHUFFLE_PARTITIONS", raising=False)
    else:
        monkeypatch.setenv("SPARK_SQL_SHUFFLE_PARTITIONS", raw)
    assert env_int("SPARK_SQL_SHUFFLE_PARTITIONS", 32) == want


@pytest.mark.parametrize("raw", ["", "lots", "1e3", "4.5"])
def test_env_int_unparsable_falls_back_with_warning(monkeypatch, raw):
    monkeypatch.setenv("SPARK_SQL_SHUFFLE_PARTITIONS", raw)
    with pytest.warns(UserWarning, match="SPARK_SQL_SHUFFLE_PARTITIONS"):
        assert env_int("SPARK_SQL_SHUFFLE_PARTITIONS", 32) == 32


def test_get_spark_reads_shuffle_knob_through_env_int(monkeypatch):
    """get_spark sizes spark.sql.shuffle.partitions from the validated
    knob: a bad value must not reach int() and crash start-up."""
    import python_etl_spark.session as session

    seen = {}

    class _Builder:
        def appName(self, _name):
            return self

        def master(self, _m):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return seen

    class _Session:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    monkeypatch.setenv("SPARK_SQL_SHUFFLE_PARTITIONS", "many")
    with pytest.warns(UserWarning):
        conf = session.get_spark()
    assert conf["spark.sql.shuffle.partitions"] == "32"
    monkeypatch.setenv("SPARK_SQL_SHUFFLE_PARTITIONS", "-3")
    assert session.get_spark()["spark.sql.shuffle.partitions"] == "1"


def test_spread_target_follows_size_estimate(spark, sf_dir, monkeypatch):
    """_spread sizes the sketch stages from Catalyst's estimate:
    ceil(estimate / _SPREAD_TASK_BYTES) tasks, capped at the session
    parallelism, and no repartition when the source already has that
    many partitions."""
    from python_etl_spark.frames import estimated_bytes
    from python_etl_spark.operators import dedup
    from python_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").coalesce(1)
    est = estimated_bytes(docs)
    assert est and est > 2
    cap = spark.sparkContext.defaultParallelism
    assert cap >= 2
    for task_bytes, want in ((est, None), (-(-est // 2), 2), (1, cap)):
        # a fresh memo per size: the memo key does not carry it
        monkeypatch.setattr(dedup, "_SPREAD_TASK_BYTES", task_bytes)
        monkeypatch.setattr(dedup, "_NPART_MEMO", {})
        out = dedup._spread(docs)
        if want is None:
            assert out is docs, task_bytes
        else:
            assert out.rdd.getNumPartitions() == want, task_bytes
