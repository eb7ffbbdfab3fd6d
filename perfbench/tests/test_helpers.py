"""Tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import LakeModel  # noqa: E402


# ------------------------------------------------------ tail percentile
def test_tail_percentile_needs_more_samples_than_beyond():
    assert stats.tail_percentile([1.0] * 10) is None


def test_tail_percentile_leaves_exactly_ten_samples_above():
    values = list(np.random.default_rng(0).permutation(100).astype(float))
    tail = stats.tail_percentile(values)
    assert tail["value"] == 89.0
    assert tail["percentile"] == 90.0
    assert sum(v > tail["value"] for v in values) == 10
    assert tail["samples"] == 100


def test_tail_percentile_of_eleven_samples_is_the_smallest():
    tail = stats.tail_percentile([float(v) for v in range(11, 0, -1)])
    assert tail["value"] == 1.0
    assert tail["percentile"] == pytest.approx(100.0 / 11)


# ------------------------------------------------------------- /proc/stat
PROC_STAT = """cpu  100 5 50 800 10 0 3 40 0 0
cpu0 50 2 25 400 5 0 1 20 0 0
intr 12345
"""


def test_parse_proc_stat_reads_the_aggregate_line():
    assert stats.parse_proc_stat(PROC_STAT) == (40, 1008)


def test_parse_proc_stat_without_steal_column():
    assert stats.parse_proc_stat("cpu  1 2 3 4 5 6 7\n") == (0, 28)


def test_parse_proc_stat_rejects_text_without_cpu_line():
    with pytest.raises(ValueError):
        stats.parse_proc_stat("intr 1\n")


def test_steal_pct_is_steal_share_of_tick_delta():
    assert stats.steal_pct((40, 1000), (90, 2000)) == 5.0
    assert stats.steal_pct((40, 1000), (40, 1000)) == 0.0


# --------------------------------------------------------------- datagen
def _digests(path: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(path.iterdir())}


def test_generator_is_reproducible_per_seed(tmp_path):
    counts = datagen.generate(str(tmp_path / "a"), 5, sf=0.001)
    datagen.generate(str(tmp_path / "b"), 5, sf=0.001)
    datagen.generate(str(tmp_path / "c"), 6, sf=0.001)
    a, b, c = (_digests(tmp_path / d) for d in "abc")
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    assert set(counts) == set(datagen.TABLES)


def test_generator_table_does_not_depend_on_other_tables(tmp_path):
    datagen.generate(str(tmp_path / "all"), 5, sf=0.001)
    datagen.generate(str(tmp_path / "one"), 5, sf=0.001, tables=["orders"])
    assert _digests(tmp_path / "one")["orders.parquet"] == _digests(tmp_path / "all")["orders.parquet"]


def test_generator_plants_duplicate_documents(tmp_path):
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path), 1, sf=0.001, tables=["documents"], docs_sf=0.02)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert len(docs) == 1000
    assert docs.text.str.contains(r"\bdup\b").sum() == 50
    assert docs.text.duplicated().sum() >= 1
    assert (docs.n_chars == docs.text.str.len()).all()


# ------------------------------------------------------- lakehouse model
def _model() -> LakeModel:
    rows = pd.DataFrame({
        "o_orderkey": np.arange(10, dtype=np.int64),
        "o_custkey": np.arange(10, dtype=np.int64) % 3,
        "o_orderstatus": ["O"] * 10,
        "o_totalprice": np.linspace(1000.0, 2000.0, 10),
        "o_orderdate": pd.date_range("1995-01-01", periods=10, freq="D"),
        "o_orderpriority": ["1-URGENT"] * 10,
    })
    return LakeModel(rows, "o_orderkey")


def test_model_upsert_updates_live_keys_and_inserts_new_ones():
    m = _model()
    batch = m.upsert_batch(np.random.default_rng(0), 6)
    assert len(batch) == 8
    new = batch[batch.o_orderkey >= 10]
    assert len(new) == 2 and new.o_orderkey.is_unique
    m.upsert(batch)
    assert len(m) == 12
    updated = batch.iloc[0]
    assert m.rows.loc[updated.o_orderkey, "o_totalprice"] == updated.o_totalprice


def test_model_delete_and_insert_keep_keys_unique():
    m = _model()
    rng = np.random.default_rng(1)
    gone = m.delete_batch(rng, 4)
    m.delete(gone)
    assert len(m) == 6 and not set(gone.o_orderkey) & set(m.rows.o_orderkey)
    m.upsert(m.insert_batch(rng, 5))
    assert len(m) == 11 and m.rows.o_orderkey.is_unique
    m.delete(gone)  # deleting absent keys is a no-op, as in delete_keys
    assert len(m) == 11


def test_model_batches_are_reproducible_per_seed():
    a = _model().upsert_batch(np.random.default_rng(7), 5)
    b = _model().upsert_batch(np.random.default_rng(7), 5)
    pd.testing.assert_frame_equal(a, b)


def test_model_counts_a_closed_date_range():
    m = _model()
    lo = np.datetime64("1995-01-03")
    assert m.count_between("o_orderdate", lo, lo + 2) == 3


# ---------------------------------------------------------------- spans
def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": "op0", "jobs": 0}


def test_self_time_subtracts_direct_children():
    spans = [
        _span("a", 0.0, 10.0),
        _span("b", 1.0, 4.0, 0),
        _span("c", 2.0, 3.0, 1),
        _span("b", 5.0, 6.0, 0),
    ]
    assert tracing.self_times(spans) == pytest.approx({"a": 6.0, "b": 3.0, "c": 1.0})


def test_outermost_counts_nested_calls_of_a_layer_once():
    spans = [
        _span("operators.ranking.with_ntile", 0.0, 2.0),
        _span("operators.ranking.global_rank", 0.5, 1.5, 0),
        _span("operators.ranking.global_rank", 3.0, 4.0),
    ]
    assert [s["start"] for s in tracing.outermost(spans, "operators.ranking.")] == [0.0, 3.0]


def test_covered_merges_overlapping_intervals():
    assert tracing._covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == 4.0
    assert tracing._covered([]) == 0.0
