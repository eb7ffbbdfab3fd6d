"""The fixture rules every lakehouse query builds on
(plans/common.py): where a fixture lives, and how a version ladder
resumes."""

from __future__ import annotations

import os
import tempfile

import pytest

from python_etl_spark.plans.common import (
    fixture_root,
    fixture_table,
    stable_digest,
)


@pytest.fixture
def tmp_tempdir(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_fixture_root_is_tag_session_and_source(spark, tmp_tempdir):
    root = fixture_root(spark, "sf", "ladder")
    app = spark.sparkContext.applicationId
    assert root == os.path.join(
        str(tmp_tempdir),
        f"spark_graft_ladder_{app}_{stable_digest(os.path.abspath('sf'))}",
    )
    assert fixture_root(spark, "sf", "ladder") == root
    assert fixture_root(spark, "sf", "other") != root


def test_fixture_table_resumes_at_first_missing_version(spark, tmp_tempdir):
    """One create and two appends: a failing step 2 leaves version 1,
    the next call runs only step 2, a third call commits nothing, and
    a step that commits twice raises."""
    rows = spark.createDataFrame([(1,), (2,)], "k long")
    ran: list[int] = []
    crash = [True]

    def create(t):
        ran.append(0)
        t.create(rows)

    def append(t):
        ran.append(1)
        t.append(rows)

    def append_or_crash(t):
        ran.append(2)
        if crash[0]:
            raise RuntimeError("step 2 crashed")
        t.append(rows)

    steps = (create, append, append_or_crash)
    with pytest.raises(RuntimeError, match="step 2 crashed"):
        fixture_table(spark, "sf", "ladder", *steps)
    assert ran == [0, 1, 2]
    t = fixture_table(spark, "sf", "ladder", create, append)  # no step runs
    assert t.latest_version() == 1 and ran == [0, 1, 2]

    crash[0] = False
    t = fixture_table(spark, "sf", "ladder", *steps)
    assert ran == [0, 1, 2, 2]
    assert t.latest_version() == 2
    t = fixture_table(spark, "sf", "ladder", *steps)
    assert ran == [0, 1, 2, 2]
    assert t.latest_version() == 2
    assert t.read(spark).count() == 6

    def append_twice(t):
        t.append(rows)
        t.append(rows)

    with pytest.raises(RuntimeError, match="step 3 left version 4"):
        fixture_table(spark, "sf", "ladder", *steps, append_twice)
