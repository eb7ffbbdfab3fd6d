"""Benchmark of the python_etl_spark engine: one workload, one seed.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Run from the repository root. The load is a closed loop: one client in
one driver process issues ops one after another on
``local[<cpus available>]``. Set-up generates the tables and warms up;
the warm-up checks each op's result against its DuckDB-oracle-checked
one. Then rounds of ops (every op of the workload once, in an order and
with batches drawn from the seed) run until ``--seconds`` of op time
and at least MIN_OPS ops have passed. Every op's result is checked.

Stdout ends with two JSON lines: a full record (every metric the run
computed, with its unit; host context; verification detail) and the
result line ``{"correct", "attempted", "failed", "metrics"}`` whose
metrics are the ones BENCHMARK.json lists: end-to-end (``--trace 0``)
or per-layer (``--trace 1``). A traced run traces half of its rounds
and reports the per-layer metrics of the traced ops; the tracing
overhead is the mean traced round wall time minus the mean untraced
one. It writes its spans to ``.perfbench/trace-<workload>-<seed>.json``.
Other scratch files live under ``.perfbench/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np

import stats
import tracing
from workloads import WORKLOADS

# the cold first round and one more: a third, which brings round times
# within 15 % of each other, would cost 4-6 s of every run
WARM_ROUNDS = 2
MIN_OPS = 11  # the tail percentile needs more than 10 samples


class Context:
    """What ops see: the session, the workload's directories, the tracer
    and the job group of the running op."""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.data = os.path.join(work, "data")
        self.tracer = tracer
        self.samples: dict[str, list] = collections.defaultdict(list)
        self.ops: list[dict] = []
        self._op = None

    @contextlib.contextmanager
    def timed(self, name: str):
        """Adds the block's wall time to the set-up breakdown."""
        t0 = time.perf_counter()
        yield
        self.samples[name].append(time.perf_counter() - t0)

    def phase(self, name: str) -> None:
        """Run the op's next jobs under their own group (c = construct or
        commit, a = action), so the status store can attribute them."""
        if self.tracer.enabled:
            group = f"{self._op['id']}.{name}"
            self.spark.sparkContext.setJobGroup(group, self._op["kind"])
            self.tracer.op = group
            self._op["groups"].append(group)

    def begin(self, kind: str) -> None:
        self._op = {"id": f"op{len(self.ops)}", "kind": kind, "groups": []}
        self.ops.append(self._op)
        self.phase("c")

    def end(self, latency: float, ok: bool) -> None:
        self._op.update(latency=latency, ok=ok)
        if self.tracer.enabled:
            self._op["spark"] = {
                g[-1]: tracing.group_counters(self.spark, [g]) for g in self._op["groups"]
            }
            self.spark.sparkContext.setJobGroup("between", "untimed")
            self.tracer.op = "between"

    def run_op(self, op) -> tuple[float, bool]:
        if op.prepare is not None:
            op.prepare(self)
        self.begin(op.kind)
        t0 = time.perf_counter()
        try:
            result, err = op.run(self), None
        except Exception as e:  # a failed op is counted, not fatal
            result, err = None, e
        latency = time.perf_counter() - t0
        try:
            ok = err is None and bool(op.check(result))
        except Exception as e:
            ok, err = False, e
        if err is not None:
            print(f"# op {op.kind} failed: {err!r}", file=sys.stderr)
        self._op.update(op.info)
        self.end(latency, ok)
        return latency, ok

    def warm_up(self, workload) -> bool:
        """WARM_ROUNDS rounds of ops with their own seeded generator. The
        record keeps their op times beside the measured rounds', so how
        steady the session was shows."""
        rng = np.random.default_rng([self.seed, 1])
        times, ok = [], True
        for _ in range(WARM_ROUNDS):
            t = 0.0
            for op in workload.round(rng):
                dt, op_ok = self.run_op(op)
                t, ok = t + dt, ok and op_ok
            times.append(t)
        self.samples["warm_s"] = [sum(times)]
        self.samples["warm_round_s"] = times
        self.ops.clear()
        return ok


def measure(ctx, workload, rng, seconds: float, tracer=None) -> tuple[list[dict], list[dict]]:
    """Whole rounds of ops until ``seconds`` of op time and MIN_OPS ops
    have passed. Given a tracer, rounds run untraced, traced, traced,
    untraced and so on in groups of four, so a drift in round times
    (the session still warming) cancels out of the tracing overhead; an
    op's record says whether it was traced. Returns the ops and each
    round's wall time (prepare and check steps included)."""
    start = len(ctx.ops)
    busy, rounds = 0.0, []
    while True:
        traced = tracer is not None and len(rounds) % 4 in (1, 2)
        ctx.tracer = tracer if traced else tracing.NullTracer()
        patches = tracing.instrument(tracer) if traced else []
        t0 = time.perf_counter()
        for op in workload.round(rng):
            busy += ctx.run_op(op)[0]
            ctx.ops[-1]["traced"] = traced
        rounds.append({"traced": traced, "wall_s": time.perf_counter() - t0})
        tracing.restore(patches)
        done = busy >= seconds and len(ctx.ops) - start >= MIN_OPS
        if done and (tracer is None or len(rounds) % 4 == 0):
            return ctx.ops[start:], rounds


COMMITS = ("merge", "delete_keys", "append", "compact")
READS = ("read", "read_pruned")


def end_to_end(ops: list[dict], wall_s: float, setup_s: float, peak_rss: float,
               report: dict) -> dict:
    """Every end-to-end metric as (value, unit). The lakehouse ones exist
    only on the lakehouse workload. ``wall_s`` is the wall time of the
    measured rounds, so ops_per_s is the closed loop's throughput."""
    lat = [o["latency"] for o in ops]
    m = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(lat) / wall_s, "1/s"),
        "latency_p50_s": (stats.median(lat), "s"),
        "latency_tail_s": (stats.tail_percentile(lat)["value"], "s"),
        "failed_frac": (sum(not o["ok"] for o in ops) / len(ops), "ratio"),
        "peak_rss_mb": (peak_rss, "MiB"),
    }
    if "write_amp" in report:
        m.update({
            "commit_p50_s": (stats.median([o["latency"] for o in ops if o["kind"] in COMMITS]), "s"),
            "read_p50_s": (stats.median([o["latency"] for o in ops if o["kind"] in READS]), "s"),
            "write_amp": (report["write_amp"], "ratio"),
            "space_amp": (report["space_amp"], "ratio"),
        })
    return m


def per_layer(ctx, ops: list[dict], spans: list[dict]) -> dict:
    """Per-layer metrics of the traced ops as (value, unit): a layer's
    call time and jobs are means per outermost call, Spark counters means
    per op, table bytes and files means per commit."""
    n = len(ops)

    def calls(prefix):
        return tracing.outermost(spans, prefix)

    def mean(values):
        return sum(values) / len(values) if values else 0.0

    def call_s(prefix):
        return mean([s["end"] - s["start"] for s in calls(prefix)]), "s"

    def call_jobs(prefix):
        return mean([s["jobs"] for s in calls(prefix)]), "count"

    spark = collections.Counter()
    for o in ops:
        for counters in o["spark"].values():
            spark.update(counters)
    action_s = sum(s["end"] - s["start"] for s in spans if s["name"] == "spark.action")
    action_busy = sum(o["spark"].get("a", {}).get("busy_s", 0.0) for o in ops)
    commits = [o for o in ops if o["kind"] in COMMITS]
    rows = collections.defaultdict(int)
    for name, count in ctx.samples["counted_rows"]:
        rows[name] += count
    cand = rows["operators.dedup.lsh_candidate_pairs"]
    verified = rows["operators.dedup.minhash_lsh_pairs"]
    n_lsh = len(calls("operators.dedup.minhash_lsh_pairs"))

    m = {
        "session.get_spark_s": (ctx.samples["get_spark_s"][0], "s"),
        "plans.construct_s": call_s("plans.construct"),
        "plans.construct_jobs": call_jobs("plans.construct"),
        "sources.tables.load_table_s": call_s("sources.tables.load_table"),
        "operators.ranking.call_s": call_s("operators.ranking."),
        "operators.ranking.jobs": call_jobs("operators.ranking."),
        "spark.action_s": (action_s / n, "s"),
        "spark.idle_s": (max(action_s - action_busy, 0.0) / n, "s"),
        "spark.jobs": (spark["jobs"] / n, "count"),
        "spark.stages": (spark["stages"] / n, "count"),
        "spark.tasks": (spark["tasks"] / n, "count"),
    }
    for key in tracing.STAGE_FIELDS:
        m[f"spark.{key}"] = (spark[key] / n, "s" if key.endswith("_s") else "B")
    for fn in ("shared_shingle_hashes", "minhash_signatures", "simhash"):
        m[f"operators.dedup.{fn}_s"] = call_s(f"operators.dedup.{fn}")
    m.update({
        "operators.dedup.lsh_candidate_pairs": (cand / max(n_lsh, 1), "count"),
        "operators.dedup.minhash_lsh_pairs": (verified / max(n_lsh, 1), "count"),
        "operators.dedup.verified_per_candidate": (verified / cand if cand else 0.0, "ratio"),
        "operators.dedup.minhash_lsh_pairs_construct_jobs": call_jobs("operators.dedup.minhash_lsh_pairs"),
    })
    for fn in ("brute_force_topk", "lsh_bucketed_topk"):
        m[f"operators.similarity.{fn}_s"] = call_s(f"operators.similarity.{fn}")
    for kind in COMMITS + READS:
        m[f"sinks.table.{kind}_s"] = call_s(f"sinks.table.{kind}")
    m.update({
        "sinks.table.bytes_written": (mean([o.get("table_bytes", 0) for o in commits]), "B"),
        "sinks.table.files_written": (mean([o.get("table_files", 0) for o in commits]), "count"),
        "sinks.table.jobs_per_commit": (mean([o["spark"]["c"]["jobs"] for o in commits]), "count"),
        "sinks.table.read_pruned_files_frac": (
            mean(ctx.samples["sinks.table.read_pruned_files_frac"]), "ratio"),
    })
    return m


def host_context(seed: int, cpus: int) -> dict:
    import platform

    import duckdb
    import pyarrow
    import pyspark

    ctx = {
        "cpus": cpus,
        "seed": seed,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "numpy": np.__version__,
        "git_commit": None,
    }
    head = os.path.join(".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(".git", ref[5:])
            ref = open(path).read().strip() if os.path.exists(path) else ref
        ctx["git_commit"] = ref
    return ctx


def start_spark(root: str, work: str, cpus: int):
    """A session of the engine's own factory on local[cpus], with every
    scratch file under ``work``."""
    sys.path.insert(0, root)
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "2g",
    })
    from python_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and the JVM it started, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    scratch = os.path.join(root, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    steal0, load0 = stats.read_proc_stat(), stats.loadavg()
    spark = None
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            reported = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
        t0 = time.perf_counter()
        spark = start_spark(root, work, cpus)
        ctx = Context(spark, args.seed, work, tracing.NullTracer())
        ctx.samples["get_spark_s"] = [time.perf_counter() - t0]
        workload = WORKLOADS[args.workload]()
        setup_ok = workload.setup(ctx)
        setup_s = time.perf_counter() - t_start

        rng = np.random.default_rng([args.seed, 2])
        tracer = tracing.Tracer(spark) if args.trace else None
        ops, rounds = measure(ctx, workload, rng, args.seconds, tracer)
        if tracer is not None:
            for name, frame in tracer.captured:
                ctx.samples["counted_rows"].append((name, frame.count()))
        report = workload.report(ctx)
        rss = {"driver": stats.peak_rss_mb(),
               "jvm": stats.peak_rss_mb(spark.sparkContext._gateway.proc.pid)}
        steal1, load1 = stats.read_proc_stat(), stats.loadavg()

        failed = sum(not o["ok"] for o in ops)
        record = {
            "workload": args.workload,
            "trace": args.trace,
            "host": {
                **host_context(args.seed, cpus),
                "steal_pct": stats.steal_pct(steal0, steal1),
                "loadavg_start": load0,
                "loadavg_end": load1,
            },
            "setup_parts_s": {k: sum(ctx.samples[k]) for k in
                              ("get_spark_s", "generate_s", "warm_s")},
            "warm_round_s": ctx.samples["warm_round_s"],
            "rounds": rounds,
            "peak_rss_mb": rss,
            "ops": collections.Counter(o["kind"] for o in ops),
            "p50_by_kind": {
                k: stats.median([o["latency"] for o in ops if o["kind"] == k])
                for k in sorted({o["kind"] for o in ops})
            },
            "report": report,
        }
        if args.trace:
            traced = [o for o in ops if o["traced"]]
            metrics = per_layer(ctx, traced, tracer.spans)
            walls = {t: [r["wall_s"] for r in rounds if r["traced"] == t] for t in (True, False)}
            overhead = sum(walls[True]) / len(walls[True]) - sum(walls[False]) / len(walls[False])
            metrics["trace.overhead_s"] = (overhead, "s")
            record["self_s"] = tracing.self_times(tracer.spans)
        else:
            wall = sum(r["wall_s"] for r in rounds)
            metrics = end_to_end(ops, wall, setup_s, sum(rss.values()), report)
            record["latency_tail"] = stats.tail_percentile([o["latency"] for o in ops])
        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        if args.trace:
            path = os.path.join(scratch, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"record": record, "spans": tracer.spans, "ops": ops}, f, default=str)
        result = {
            "correct": bool(setup_ok and failed == 0 and report.get("final_ok", True)),
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in reported},
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
