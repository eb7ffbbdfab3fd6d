#!/usr/bin/env python
"""Dump .explain("formatted") for the headline queries (and any extras
given on the CLI) into <round_dir>/<query>_<tag>.txt.

Usage: python scripts/dump_round_plans.py <round_dir> <tag> [query ...]
e.g.   python scripts/dump_round_plans.py plans/r15 before
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from python_etl_spark.plans import QUERIES
    from python_etl_spark.session import get_spark

    spark = get_spark(f"plans-{os.path.basename(os.path.normpath(out_dir))}")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
