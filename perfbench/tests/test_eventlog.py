"""Event-log attribution of Spark work to benchmark operations by job group,
on a canned event log (fixtures/eventlog.jsonl)."""

from pathlib import Path

from perfbench.eventlog import attribute, read_events
from perfbench.layers import op_counters

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog.jsonl"


def groups():
    return attribute(read_events(str(FIXTURE)))


def test_jobs_stages_tasks_follow_their_group():
    g = groups()
    assert g["0/build"]["jobs"] == 1 and g["0/build"]["tasks"] == 1
    assert g["0/run"]["jobs"] == 2
    assert g["0/run"]["stages"] == 2
    assert g["0/run"]["tasks"] == 3
    assert g["run-abc"]["jobs"] == 1


def test_untagged_jobs_are_ignored():
    g = groups()
    assert set(g) == {"0/build", "0/run", "run-abc"}
    assert sum(c.get("task_run_ms", 0) for c in g.values()) == 40 + 100 + 60 + 20 + 15


def test_task_metrics_sum_per_group():
    run = groups()["0/run"]
    assert run["task_run_ms"] == 180
    assert run["cpu_ms"] == 140
    assert run["gc_ms"] == 5
    assert run["input_bytes"] == 4096 and run["input_records"] == 1000
    assert run["shuffle_write_bytes"] == 768
    assert run["shuffle_read_bytes"] == 768
    assert run["spill_bytes"] == 64


def test_driver_scan_metrics_reach_the_group_of_their_execution():
    run = groups()["0/run"]
    assert run["files_read"] == 3
    assert run["scan_bytes"] == 4096


def test_python_metrics_only_from_python_nodes():
    run = groups()["0/run"]
    assert run["python_bytes_sent"] == 800
    assert run["python_bytes_received"] == 300
    # the scan's "number of output rows" (1000) is not a Python row count
    assert run["python_rows"] == 75


def test_exchanges_counted_in_the_final_adaptive_plan():
    run = groups()["0/run"]
    assert run["exchanges"] == 1
    assert run["broadcasts"] == 1


def test_op_counters_merge_build_run_and_extra_groups():
    g = groups()
    read = op_counters(0, {"read": True}, g)
    assert read["jobs"] == 3 and read["eager_jobs"] == 1
    write = op_counters(0, {"read": False, "groups": ["run-abc"]}, g)
    assert write["jobs"] == 4 and write["eager_jobs"] == 0
    assert write["input_records"] == 1000 + 10 + 20
