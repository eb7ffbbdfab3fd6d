"""Pure helpers: percentiles, host counters from /proc, peak RSS."""

from __future__ import annotations

import os
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float], beyond: int = 10) -> dict | None:
    """The highest percentile that still has ``beyond`` samples above it.

    With n sorted samples, the value at 0-based index n - beyond - 1 has
    exactly ``beyond`` samples after it, and it sits at percentile
    100 * (n - beyond) / n. Returns None when n <= beyond (no such
    percentile exists)."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return {
        "value": float(ordered[n - beyond - 1]),
        "percentile": 100.0 * (n - beyond) / n,
        "samples": n,
        "beyond": beyond,
    }


def parse_proc_stat(text: str) -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate ``cpu`` line of
    /proc/stat. Kernels that predate the steal column report 0 steal."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [int(x) for x in parts[1:]]
            return (vals[7] if len(vals) > 7 else 0), sum(vals)
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Steal share of all CPU ticks between two parse_proc_stat reads."""
    ticks = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / ticks if ticks > 0 else 0.0


def read_proc_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return parse_proc_stat(f.read())


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) of the regular files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files
