"""Hypervisor-steal helpers that ``perfbench/harness.py`` reports beside
every run."""

from __future__ import annotations


def steal_snapshot() -> tuple:
    """(total_jiffies, steal_jiffies) across all cpus since boot — the
    hypervisor-withheld share of this guest's CPU time, straight from
    /proc/stat. Returns (0, 0) if the file is unreadable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:]]
        return sum(vals), vals[7]  # field 8 = steal
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_pct(before: tuple, after: tuple) -> float:
    """Steal percentage over the window between two snapshots."""
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0
