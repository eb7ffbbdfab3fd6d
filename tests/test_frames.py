"""frames.local_frame builds the frame spark.createDataFrame(list)
would, as an Arrow LocalRelation that runs no job; frames'
size estimate follows the broadcast threshold."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import uuid

import pytest

from python_etl_spark.frames import estimated_bytes, fits_broadcast, local_frame

_SCHEMA = (
    "i int, l long, s string, d double, ts timestamp, day date, "
    "dec decimal(12,3), a array<long>, m map<string,int>, "
    "st struct<x:int,y:string>, b boolean"
)
_ROWS = [
    (
        1, 2**40, "it's \"quoted\"", 1.5,
        dt.datetime(2024, 3, 10, 2, 30, 5, 123456), dt.date(2020, 2, 29),
        decimal.Decimal("123.456"), [1, None, 3], {"a": 1, "b": None},
        (7, "x'y"), True,
    ),
    (None,) * 11,
    (
        -5, -1, "", -0.25, dt.datetime(1969, 12, 31, 23, 59, 59),
        dt.date(1900, 1, 1), decimal.Decimal("-0.001"), [], {},
        (None, None), False,
    ),
]


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"frames-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_matches_create_dataframe(spark):
    want = spark.createDataFrame(_ROWS, _SCHEMA)
    got = local_frame(spark, _ROWS, _SCHEMA)
    assert got.schema == want.schema
    assert _plan(got).startswith("LocalRelation")
    rows, jobs = _jobs(spark, got.collect)
    assert jobs == 0
    assert rows == want.collect()


def test_local_frame_nan_and_empty(spark):
    nan = local_frame(spark, [(float("nan"),)], "d double").collect()
    assert math.isnan(nan[0].d)
    empty = local_frame(spark, [], _SCHEMA)
    assert empty.schema == spark.createDataFrame([], _SCHEMA).schema
    assert _plan(empty).startswith("LocalRelation")
    assert _jobs(spark, empty.collect) == ([], 0)


def test_local_frame_verifies_like_create_dataframe(spark):
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame([("5",)], "k long")
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [("5",)], "k long")


def test_fits_broadcast_follows_threshold(spark):
    small = local_frame(spark, [(1,), (2,)], "k long")
    assert 0 < estimated_bytes(small) <= 1024
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        assert fits_broadcast(small)
        spark.conf.set(key, "1b")
        assert not fits_broadcast(small)
        spark.conf.set(key, "-1")
        assert not fits_broadcast(small)
    finally:
        spark.conf.set(key, saved)
