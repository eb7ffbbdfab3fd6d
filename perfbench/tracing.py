"""Spans around calls into the engine's layers, and Spark counters.

Spans are recorded by the benchmark, around calls into each module's
public functions; the program itself is not changed. In a traced run
``instrument`` swaps each listed function for a wrapper, in its own
module and in every ``python_etl_spark`` module that imported it by
name, and ``restore`` puts the originals back.

Spark counters come from the status store: every op runs under its own
job group, so ``statusTracker`` gives its jobs and stages, and the JVM
``AppStatusStore`` gives each stage's tasks, executor time, bytes and
submission/completion times.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

# layer name -> (module, public functions wrapped in a traced run)
LAYERS = {
    "sources.tables": ("python_etl_spark.sources.tables", ["load_table"]),
    "operators.ranking": (
        "python_etl_spark.operators.ranking",
        ["global_rank", "with_ntile", "with_percent_rank", "global_cumsum"],
    ),
    "operators.dedup": (
        "python_etl_spark.operators.dedup",
        [
            "shared_shingle_hashes", "minhash_signatures", "simhash",
            "lsh_candidate_pairs", "minhash_lsh_pairs", "simhash_pairs",
            "ngram_jaccard_pairs",
        ],
    ),
    "operators.similarity": (
        "python_etl_spark.operators.similarity",
        ["brute_force_topk", "lsh_bucketed_topk"],
    ),
}

# functions whose returned frame is counted after the op (outside its
# timing) in a traced run
COUNTED = {"operators.dedup.lsh_candidate_pairs", "operators.dedup.minhash_lsh_pairs"}

# per-stage fields read from the JVM StageData
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": (None, 1),
}


class Tracer:
    """Keeps spans in memory: name, start, end, parent, op id and the
    number of Spark jobs the op's group started inside the span."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.captured: list[tuple[str, object]] = []
        self._stack: list[int] = []
        self.op = "setup"
        self.sc.setJobGroup(self.op, self.op)

    def _jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(self.op))

    @contextlib.contextmanager
    def span(self, name: str):
        jobs0 = self._jobs()
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(self._jobs() - jobs0)

    def wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if name in COUNTED:
                self.captured.append((name, out))
            return out

        return traced


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    enabled = False
    op = "setup"
    captured: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


def _importers(original) -> list[tuple[object, str]]:
    return [
        (mod, attr)
        for mname, mod in list(sys.modules.items())
        if mname.startswith("python_etl_spark") and mod is not None
        for attr, val in list(vars(mod).items())
        if val is original
    ]


def instrument(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap every LAYERS function everywhere it is bound; returns the
    patches for ``restore``."""
    import importlib

    patches = []
    for layer, (mname, names) in LAYERS.items():
        mod = importlib.import_module(mname)
        for fname in names:
            original = getattr(mod, fname)
            wrapped = tracer.wrap(layer, original)
            for owner, attr in _importers(original):
                patches.append((owner, attr, original))
                setattr(owner, attr, wrapped)
    return patches


def restore(patches) -> None:
    for owner, attr, original in patches:
        setattr(owner, attr, original)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: duration minus the time covered by its
    direct children (children of one span never overlap: calls nest)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i])
    return out


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named ``prefix*`` whose parent is not itself such a span
    (with_ntile calls global_rank: count that call once)."""
    return [
        s for s in spans
        if s["name"].startswith(prefix)
        and (s["parent"] is None or not spans[s["parent"]]["name"].startswith(prefix))
    ]


def group_counters(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks, per-stage executor totals and idle time of
    the jobs run under ``groups``. Idle time is the span from the first
    job's submission to the last stage's completion not covered by any
    running stage of the groups."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0}
    out.update({k: 0 for k in STAGE_FIELDS})
    intervals = []
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # evicted from the store or never run
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                for key, (field, scale) in STAGE_FIELDS.items():
                    if field is None:
                        out[key] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    else:
                        out[key] += getattr(st, field)() * scale
                if st.submissionTime().isDefined() and st.completionTime().isDefined():
                    intervals.append((
                        st.submissionTime().get().getTime() / 1e3,
                        st.completionTime().get().getTime() / 1e3,
                    ))
    out["busy_s"] = _covered(intervals)
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
