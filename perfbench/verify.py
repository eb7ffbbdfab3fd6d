"""Record the expected result of every query op of the benchmark.

    python3 perfbench/verify.py

Run from the repository root. For each query workload it generates the
workload's tables, checks every query against its DuckDB oracle through
``compare_frames`` (an approximate query through the oracle of its
hash-checkable ``*_checked`` twin), and writes each query's row count
and checksum to perfbench/expected.json. It writes nothing and exits 1
if any oracle comparison fails. Re-run it when a query's output or the
generator changes on purpose; until then, a benchmark run re-checks a
changed output against its oracle in set-up.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from datagen import generate
from run import Context, start_spark, stop
from tracing import NullTracer
from workloads import DATA_SEED, EXPECTED, WORKLOADS, QueryWorkload


def main() -> int:
    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"verify-{os.getpid()}")
    spark = start_spark(root, work, len(os.sched_getaffinity(0)))
    expected, ok = {}, True
    try:
        for name, make in WORKLOADS.items():
            workload = make()
            if not isinstance(workload, QueryWorkload):
                continue
            ctx = Context(spark, DATA_SEED, os.path.join(work, name), NullTracer())
            generate(ctx.data, DATA_SEED, workload.sf, docs_sf=workload.docs_sf)
            expected[name] = {}
            for q in workload.queries:
                v = expected[name][q] = workload.oracle_check(ctx, q)
                print(f"{name} {q}: {v}", file=sys.stderr)
                ok &= v["ok"]
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        return 1
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
