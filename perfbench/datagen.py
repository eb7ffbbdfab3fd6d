"""Seeded generator for the star-schema test tables.

Writes one parquet file per table (``<dir>/<name>.parquet``) with the
schema and value domains of the repository's test data: TPC-H-like
orders/lineitem/customer/supplier/part/nation/region, an ``events``
stream, a ``documents`` corpus with planted exact and near duplicates,
and unit-norm 64-d ``embeddings``. Row counts scale with ``sf`` the way
the test data's do (sf0.1 = 150k orders, 600k lineitems, 5k documents).

Every column is drawn from ``numpy.random.default_rng(seed)``, so one
seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # 5% near duplicates: a copy of an earlier document with one to three
    # words replaced by "dup"; 0.3% exact copies. Sources come first so
    # every planted twin points backwards.
    ids = rng.permutation(np.arange(1, n))
    n_near, n_exact = n // 20, max(1, n * 3 // 1000)
    for i in ids[:n_near]:
        words = texts[rng.integers(0, i)].split()
        for j in rng.choice(len(words), rng.integers(1, 4), replace=False):
            words[j] = "dup"
        texts[i] = " ".join(words)
    for i in ids[n_near:n_near + n_exact]:
        texts[i] = texts[rng.integers(0, i)]
    lang_p = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=lang_p),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(
    out: str,
    seed: int,
    sf: float = 0.1,
    tables: list[str] | None = None,
    docs_sf: float | None = None,
) -> dict[str, int]:
    """Write the ``tables`` (default: all) of scale ``sf`` under ``out``.
    ``docs_sf`` scales documents/embeddings separately. Returns the row
    count of each table written."""
    os.makedirs(out, exist_ok=True)
    wanted = set(tables or TABLES)
    dsf = sf if docs_sf is None else docs_sf
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * dsf), "embeddings": int(20_000 * dsf),
        "region": 5, "nation": 25,
    }
    users = int(15_000 * sf)
    # one child stream per table: a table's content does not depend on
    # which other tables are generated
    rngs = dict(zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES))))
    cols: dict[str, object] = {}
    for name in TABLES:
        if name not in wanted:
            continue
        r, k = rngs[name], n[name]
        if name == "region":
            cols = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        elif name == "nation":
            cols = {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        elif name == "customer":
            cols = {
                "c_custkey": np.arange(k, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": r.integers(0, 25, k).astype(np.int32),
                "c_acctbal": _money(r, k, -999.99, 9999.99),
                "c_mktsegment": r.choice(SEGMENTS, k),
            }
        elif name == "supplier":
            cols = {
                "s_suppkey": np.arange(k, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": r.integers(0, 25, k).astype(np.int32),
                "s_acctbal": _money(r, k, -999.99, 9999.99),
            }
        elif name == "part":
            keys = np.arange(k, dtype=np.int64)
            cols = {
                "p_partkey": keys,
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
                ],
                "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
                "p_type": r.choice(PART_TYPES, k),
                "p_size": r.integers(1, 51, k).astype(np.int32),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
            }
        elif name == "orders":
            cols = {
                "o_orderkey": np.arange(k, dtype=np.int64),
                "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
                "o_orderstatus": r.choice(["O", "F", "P"], k),
                "o_totalprice": _money(r, k, 1000.0, 500000.0),
                "o_orderdate": _days(r, k, "1995-01-01", "2001-08-01"),
                "o_orderpriority": r.choice(PRIORITIES, k),
            }
        elif name == "lineitem":
            cols = {
                "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
                "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
                "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
                "l_linenumber": r.integers(1, 8, k).astype(np.int32),
                "l_quantity": r.integers(1, 51, k).astype(np.float64),
                "l_extendedprice": _money(r, k, 900.0, 105000.0),
                "l_discount": r.integers(0, 11, k) / 100.0,
                "l_tax": r.integers(0, 9, k) / 100.0,
                "l_returnflag": r.choice(["N", "R", "A"], k),
                "l_linestatus": r.choice(["F", "O"], k),
                "l_shipdate": _days(r, k, "1995-01-02", "2001-11-04"),
            }
        elif name == "events":
            t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
            span = 30 * 86_400_000_000
            ts = np.sort(t0 + r.integers(0, span, k))
            cols = {
                "event_id": np.arange(k, dtype=np.int64),
                "ts": ts.astype("datetime64[us]"),
                "user_id": r.integers(0, max(users, 1), k).astype(np.int64),
                "event_type": r.choice(EVENT_TYPES, k),
                "value": np.round(r.exponential(50.0, k), 2),
                "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
            }
        elif name == "documents":
            cols = _documents(r, k)
        if name == "embeddings":
            pq.write_table(_embeddings(r, k), os.path.join(out, f"{name}.parquet"))
        else:
            _write(out, name, cols)
    return {t: n[t] for t in TABLES if t in wanted}
