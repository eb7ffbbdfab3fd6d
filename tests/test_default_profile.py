"""The default pytest profile deselects the tests listed in
tests/slow_tests.txt. That file's header promises that oracle-parity,
plan-shape-pin, kernel-pin and job-budget tests stay in the default
profile; these checks hold it to that, and to naming only tests that
exist (a stale entry silently deselects nothing, or whatever later
takes its name)."""

from __future__ import annotations

import ast
import fnmatch
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SLOW_LIST = ROOT / "tests" / "slow_tests.txt"

# suites and name patterns that must never leave the default profile
KEPT_FILES = {"tests/test_oracle_parity.py", "tests/test_plan_shape.py"}
KEPT_NAMES = ("*job_budget*", "*_pins*", "*bit_identical*")


def _entries() -> list[str]:
    return [
        line.strip()
        for line in SLOW_LIST.read_text().splitlines()
        if line.strip() and not line.startswith("#")
    ]


def _test_names(path: Path) -> set[str]:
    """Test functions of a module: top-level ones and those of test
    classes, as ``name`` or ``Class::name``."""
    tree = ast.parse(path.read_text())
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names.update(
                f"{node.name}::{f.name}"
                for f in node.body
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            )
    return {n for n in names if n.split("::")[-1].startswith("test")}


def test_slow_list_names_existing_tests():
    missing = []
    names_by_file: dict[str, set[str]] = {}
    for entry in _entries():
        file, _, name = entry.partition("::")
        path = ROOT / file
        if not path.is_file():
            missing.append(entry)
            continue
        if file not in names_by_file:
            names_by_file[file] = _test_names(path)
        if name.split("[", 1)[0] not in names_by_file[file]:
            missing.append(entry)
    assert not missing, f"slow_tests.txt names no such test: {missing}"


def test_slow_list_keeps_correctness_pins_in_default_profile():
    leaked = [
        entry
        for entry in _entries()
        if entry.partition("::")[0] in KEPT_FILES
        or any(
            fnmatch.fnmatch(entry.partition("::")[2], pat)
            for pat in KEPT_NAMES
        )
    ]
    assert not leaked, (
        f"slow_tests.txt deselects tests the default profile must keep: "
        f"{leaked}"
    )
