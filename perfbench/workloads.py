"""The three workloads: their inputs, set-up verification and ops.

A workload object has ``setup(ctx)`` (generate inputs, verify outputs,
warm up) and ``round(rng)`` (one round of ops in a seeded order).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from datagen import generate
from stats import dir_bytes

# base tables come from this seed; --seed sets op order and batches
DATA_SEED = 0
# oracle-checked row count and checksum of every query op (verify.py)
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


@dataclass
class Op:
    """``run(ctx)`` is the timed call into the engine and returns its
    result. ``prepare(ctx)`` builds the op's input before the timer
    starts; ``check(result)`` runs after it stops and says whether the
    result is right."""

    kind: str
    run: Callable
    check: Callable
    prepare: Callable | None = None
    info: dict = field(default_factory=dict)  # added to the op's record


def checksum(df) -> tuple[int, int]:
    """Row count and bit_xor of xxhash64 over every output column cast
    to string: the ``checksum`` action of scripts/bench_scaling._force
    (which discards its value) plus a row count in the same job. It
    computes every output column, where ``count()`` would let Catalyst
    prune the payload. Columns are hashed in name order, so only values
    count, as in compare_frames."""
    from pyspark.sql import functions as F

    row = (
        df.select(
            F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)]).alias("__h")
        )
        .agg(F.count(F.lit(1)), F.expr("bit_xor(__h)"))
        .collect()[0]
    )
    return int(row[0]), int(row[1] or 0)


class QueryWorkload:
    """Registered queries over tables generated from DATA_SEED.

    EXPECTED holds the row count and checksum of every query on these
    tables, recorded by perfbench/verify.py once the query (an
    approximate one through its hash-checkable ``*_checked`` twin)
    matched its DuckDB oracle through ``compare_frames``. A timed op
    must reproduce them. In set-up, an op whose result differs is
    checked against its oracle on the workload's own tables; if it
    passes, its new checksum is what the timed ops must reproduce."""

    def __init__(self, name: str, queries: list[str], sf: float, docs_sf: float | None = None):
        self.name = name
        self.queries = queries
        self.sf = sf
        self.docs_sf = docs_sf
        self.verified: dict[str, dict] = {}

    def setup(self, ctx) -> bool:
        with ctx.timed("generate_s"):
            generate(ctx.data, DATA_SEED, self.sf, docs_sf=self.docs_sf)
        with open(EXPECTED) as f:
            self.expected = {q: tuple(v["checksum"]) for q, v in json.load(f)[self.name].items()}
        self.ctx, self.in_setup = ctx, True
        ok = ctx.warm_up(self)
        self.in_setup = False
        return ok

    def oracle_check(self, ctx, q: str) -> dict:
        """Query ``q`` (or its ``*_checked`` twin) against its DuckDB
        oracle on the workload's tables, and the checksum of ``q``."""
        from python_etl_spark.plans import ORACLES, QUERIES
        from python_etl_spark.testing import compare_frames, duckdb_connection

        oracle = q + "_checked" if q + "_checked" in ORACLES else q
        con = duckdb_connection(ctx.data)
        try:
            res = compare_frames(
                oracle,
                QUERIES[oracle](ctx.spark, ctx.data).toPandas(),
                con.execute(ORACLES[oracle]).df(),
            )
        finally:
            con.close()
        return {"oracle": oracle, "ok": res.ok and res.spark_rows > 0,
                "oracle_rows": res.oracle_rows, "detail": res.detail,
                "checksum": list(checksum(QUERIES[q](ctx.spark, ctx.data)))}

    def _check(self, name: str, result) -> bool:
        if result == self.expected[name]:
            return True
        if not self.in_setup:
            return False
        self.verified[name] = v = self.oracle_check(self.ctx, name)
        if v["ok"] and tuple(v["checksum"]) == result:
            self.expected[name] = result
            return True
        return False

    def round(self, rng) -> list:
        return [self._op(self.queries[i]) for i in rng.permutation(len(self.queries))]

    def _op(self, name: str) -> Op:
        def run(ctx):
            from python_etl_spark.plans import QUERIES

            with ctx.tracer.span("plans.construct"):
                df = QUERIES[name](ctx.spark, ctx.data)
            ctx.phase("a")
            with ctx.tracer.span("spark.action"):
                return checksum(df)

        return Op(name, run, lambda result: self._check(name, result))

    def report(self, ctx) -> dict:
        """The set-up oracle checks of ops whose checksum was not the
        recorded one (none when the program's outputs are unchanged)."""
        return {"oracle_checked_in_setup": self.verified}


class LakehouseWorkload:
    """A VersionedTable created from generated ``orders``, then a seeded
    mix of merge (updates + inserts), delete_keys, append, read and
    read_pruned over an o_orderdate range, and a compaction that ends
    every round, so a run always stops just after one and its space and
    write amplification compare between runs. An in-memory model of the
    expected rows checks row_count() after every commit and the row
    count of every read; the final snapshot checksum is compared with
    the model's."""

    KEY = "o_orderkey"

    def __init__(self, sf: float, batch: int):
        self.sf = sf
        self.batch = batch
        self.user_bytes = 0
        self.table_bytes_added = 0

    def setup(self, ctx) -> bool:
        import pyarrow.parquet as pq

        from python_etl_spark.sinks.table import VersionedTable
        from python_etl_spark.sources.tables import load_table

        with ctx.timed("generate_s"):
            generate(ctx.data, DATA_SEED, self.sf, tables=["orders"])
            self.root = os.path.join(ctx.work, "table")
            self.table = VersionedTable(self.root)
            orders = load_table(ctx.spark, ctx.data, "orders")
            self.schema = orders.schema
            # date-clustered files, as nightly loads leave them
            self.table.create(orders.repartitionByRange(8, "o_orderdate"))
        self.model = LakeModel(
            pq.read_table(os.path.join(ctx.data, "orders.parquet")).to_pandas(),
            self.KEY,
        )
        return self.table.row_count() == len(self.model) and ctx.warm_up(self)

    # ------------------------------------------------------------- ops
    def round(self, rng) -> list:
        kinds = ["merge", "delete_keys", "append", "read", "read_pruned", "read_pruned"]
        ops = [getattr(self, "_" + kinds[i])(rng) for i in rng.permutation(len(kinds))]
        return ops + [self._compact(rng)]

    def _frame(self, ctx, pdf):
        """A Spark frame of the batch, typed by the table's schema."""
        from pyspark.sql.types import StructType

        fields = [f for f in self.schema.fields if f.name in pdf.columns]
        return ctx.spark.createDataFrame(pdf, schema=StructType(fields))

    def _commit(self, kind: str, make_batch, commit, apply):
        """An op that commits the batch ``make_batch()`` draws through
        ``commit(frame)`` and applies it to the model once checked."""
        state = {}
        op = Op(kind, None, None)

        def prepare(ctx):
            state["pdf"] = pdf = make_batch()
            state["df"] = self._frame(ctx, pdf)
            state["dir"] = dir_bytes(self.root)

        def run(ctx):
            with ctx.tracer.span(f"sinks.table.{kind}"):
                commit(ctx, state["df"])
            return self.table.row_count()

        def check(rows: int) -> bool:
            apply(state["pdf"])
            after = dir_bytes(self.root)
            op.info.update(table_bytes=after[0] - state["dir"][0],
                           table_files=after[1] - state["dir"][1])
            self.user_bytes += self.model.arrow_bytes(state["pdf"])
            self.table_bytes_added += op.info["table_bytes"]
            return rows == len(self.model)

        op.run, op.check, op.prepare = run, check, prepare
        return op

    def _merge(self, rng):
        return self._commit(
            "merge",
            lambda: self.model.upsert_batch(rng, self.batch),
            lambda ctx, df: self.table.merge(df, keys=[self.KEY]),
            self.model.upsert,
        )

    def _delete_keys(self, rng):
        return self._commit(
            "delete_keys",
            lambda: self.model.delete_batch(rng, self.batch),
            lambda ctx, df: self.table.delete_keys(df),
            self.model.delete,
        )

    def _append(self, rng):
        return self._commit(
            "append",
            lambda: self.model.insert_batch(rng, self.batch),
            lambda ctx, df: self.table.append(df),
            self.model.upsert,
        )

    def _compact(self, rng):
        return self._commit(
            "compact",
            lambda: self.model.rows.iloc[:0],
            lambda ctx, df: self.table.compact(ctx.spark, sort_by=["o_orderdate"]),
            lambda pdf: None,
        )

    def _read(self, rng):
        def run(ctx):
            with ctx.tracer.span("sinks.table.read"):
                df = self.table.read(ctx.spark)
            ctx.phase("a")
            with ctx.tracer.span("spark.action"):
                return checksum(df)[0]

        return Op("read", run, lambda rows: rows == len(self.model))

    def _read_pruned(self, rng):
        lo = np.datetime64("1995-01-01") + int(rng.integers(0, 6 * 365))
        hi = lo + 365
        lo_s, hi_s = (f"{d}T00:00:00" for d in (lo, hi))

        def run(ctx):
            with ctx.tracer.span("sinks.table.read_pruned"):
                df = self.table.read_pruned(ctx.spark, "o_orderdate", lo_s, hi_s)
            if ctx.tracer.enabled:
                full = len(self.table.read(ctx.spark).inputFiles())
                ctx.samples["sinks.table.read_pruned_files_frac"].append(
                    len(df.inputFiles()) / max(full, 1)
                )
            ctx.phase("a")
            with ctx.tracer.span("spark.action"):
                return checksum(df)[0]

        return Op("read_pruned", run, lambda rows: rows == self.model.count_between(
            "o_orderdate", lo, hi
        ))

    # ---------------------------------------------------------- report
    def report(self, ctx) -> dict:
        """Final snapshot checksum against the model's, and the space
        and write amplification of the table directory."""
        got = checksum(self.table.read(ctx.spark))
        want = checksum(self._frame(ctx, self.model.rows.reset_index(drop=True)))
        rewrite = os.path.join(ctx.work, "rewrite")
        self.table.read(ctx.spark).coalesce(1).write.parquet(rewrite)
        table_bytes = dir_bytes(self.root)[0]
        return {
            "final_ok": got == want,
            "final_rows": got[0],
            "write_amp": self.table_bytes_added / max(self.user_bytes, 1),
            "space_amp": table_bytes / max(dir_bytes(rewrite)[0], 1),
            "table_bytes": table_bytes,
            "table_files": dir_bytes(self.root)[1],
        }


class LakeModel:
    """Expected table contents: a pandas frame indexed by key. Batches
    are drawn from it with the run's seeded generator."""

    def __init__(self, rows, key: str):
        self.key = key
        self.rows = rows.set_index(key, drop=False)
        self.next_key = int(self.rows[key].max()) + 1

    def __len__(self) -> int:
        return len(self.rows)

    def _fresh(self, rng, n: int):
        """``n`` new rows with unused keys; other columns are resampled
        from existing rows."""
        pdf = self.rows.iloc[rng.integers(0, len(self.rows), n)].copy()
        pdf[self.key] = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return self._vary(rng, pdf)

    def _vary(self, rng, pdf):
        pdf["o_totalprice"] = np.round(rng.uniform(1000.0, 500000.0, len(pdf)), 2)
        pdf["o_orderstatus"] = rng.choice(["O", "F", "P"], len(pdf))
        return pdf.reset_index(drop=True)

    def upsert_batch(self, rng, n: int):
        """``n`` updates of live keys and n // 3 inserts of new keys."""
        live = self.rows.iloc[rng.choice(len(self.rows), n, replace=False)].copy()
        import pandas as pd

        return pd.concat([self._vary(rng, live), self._fresh(rng, n // 3)],
                         ignore_index=True)

    def insert_batch(self, rng, n: int):
        return self._fresh(rng, n)

    def delete_batch(self, rng, n: int):
        keys = self.rows[self.key].to_numpy()[rng.choice(len(self.rows), n, replace=False)]
        import pandas as pd

        return pd.DataFrame({self.key: keys})

    def upsert(self, pdf) -> None:
        import pandas as pd

        new = pdf.set_index(self.key, drop=False)
        self.rows = pd.concat([self.rows.drop(new.index, errors="ignore"), new])

    def delete(self, pdf) -> None:
        self.rows = self.rows.drop(pdf[self.key].to_numpy(), errors="ignore")

    def count_between(self, col: str, lo, hi) -> int:
        v = self.rows[col].to_numpy()
        return int(((v >= lo) & (v <= hi)).sum())

    @staticmethod
    def arrow_bytes(pdf) -> int:
        import pyarrow as pa

        return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


# Every round has an odd number of ops, one of each kind (the lakehouse
# round reads twice over a date range), so the median latency of whole
# rounds falls inside one kind instead of between two.
WORKLOADS = {
    "analytic": lambda: QueryWorkload(
        "analytic",
        [
            "q18_large_orders", "etl_sessionize", "win_ntile",
        ],
        sf=0.1,
    ),
    "curation": lambda: QueryWorkload(
        "curation",
        [
            "dedup_minhash_lsh", "dedup_simhash", "sim_topk_bruteforce",
            "sim_topk_lsh", "text_quality_score",
        ],
        sf=0.001,
        docs_sf=0.1,
    ),
    "lakehouse": lambda: LakehouseWorkload(sf=0.1, batch=300),
}
