"""Pins for the hypervisor-steal helpers in ``bench.py``, which perfbench
reports beside every run."""

import bench


def test_steal_pct_math():
    # steal: 50 stolen jiffies out of a 1000-jiffy window = 5%
    assert bench.steal_pct((1000, 10), (2000, 60)) == 5.0
    # degenerate zero-width window must not divide by zero
    assert bench.steal_pct((1000, 10), (1000, 10)) == 0.0


def test_steal_snapshot_reads_proc_stat():
    total, steal = bench.steal_snapshot()
    assert total > 0 and steal >= 0 and steal < total
