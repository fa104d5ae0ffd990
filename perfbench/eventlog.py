"""Attribute Spark event-log counters to benchmark operations by job group.

The traced run tags every Spark action it starts with a job group
``"<op>/<phase>"``. Jobs carry the group in their properties, stages and
tasks belong to jobs, and SQL executions are tied to groups through the
``spark.sql.execution.id`` of the jobs they ran. Driver-side SQL metrics
(files and bytes a scan listed) arrive as accumulator updates keyed by
execution; their names come from the plan info of that execution.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable

SQL = "org.apache.spark.sql.execution.ui."
PYTHON_NODES = ("Python", "Pandas", "Arrow")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


class Attribution:
    """Per-group counters; ``groups[g][counter]`` sums over everything the
    group's jobs and SQL executions did."""

    def __init__(self) -> None:
        self.groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.job_group: dict[int, str] = {}
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.exec_plan: dict[int, dict] = {}
        self.acc_name: dict[int, str] = {}
        self.python_rows_acc: set[int] = set()
        self.driver_updates: list[tuple[int, int, float]] = []
        self.task_accs: list[tuple[str, int, float]] = []

    # -------------------------------------------------------------- events

    def _plan(self, exec_id: int, plan: dict) -> None:
        self.exec_plan[exec_id] = plan
        for node in _walk(plan):
            python = any(s in node.get("nodeName", "") for s in PYTHON_NODES)
            for m in node.get("metrics", []):
                self.acc_name[m["accumulatorId"]] = m["name"]
                if python and m["name"] == "number of output rows":
                    self.python_rows_acc.add(m["accumulatorId"])

    def feed(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                return
            jid = ev["Job ID"]
            self.job_group[jid] = group
            self.groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                self.stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                self.exec_group.setdefault(int(eid), group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = self.stage_group.get(info["Stage ID"])
            if g is not None:
                self.groups[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = self.stage_group.get(ev["Stage ID"])
            if g is None:
                return
            c = self.groups[g]
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["task_run_ms"] += _num(m.get("Executor Run Time"))
            c["cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
            c["gc_ms"] += _num(m.get("JVM GC Time"))
            inp = m.get("Input Metrics") or {}
            c["input_bytes"] += _num(inp.get("Bytes Read"))
            c["input_records"] += _num(inp.get("Records Read"))
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read"))
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
            c["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                self.task_accs.append((g, acc.get("ID"), _num(acc.get("Update"))))
        elif kind == SQL + "SparkListenerSQLExecutionStart":
            self._plan(ev["executionId"], ev.get("sparkPlanInfo") or {})
        elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(ev["executionId"], ev.get("sparkPlanInfo") or {})
        elif kind == SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in ev.get("sqlPlanMetrics", []):
                self.acc_name[m["accumulatorId"]] = m["name"]
        elif kind == SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", []):
                self.driver_updates.append((ev["executionId"], acc_id, _num(value)))

    # ------------------------------------------------------------ results

    def finish(self) -> dict[str, dict[str, float]]:
        for eid, acc_id, value in self.driver_updates:
            g = self.exec_group.get(eid)
            name = self.acc_name.get(acc_id)
            if g is None or name is None:
                continue
            if name == "number of files read":
                self.groups[g]["files_read"] += value
            elif name == "size of files read":
                self.groups[g]["scan_bytes"] += value
        for g, acc_id, value in self.task_accs:
            name = self.acc_name.get(acc_id)
            if name == "data sent to Python workers":
                self.groups[g]["python_bytes_sent"] += value
            elif name == "data returned from Python workers":
                self.groups[g]["python_bytes_received"] += value
            elif acc_id in self.python_rows_acc:
                self.groups[g]["python_rows"] += value
        for eid, plan in self.exec_plan.items():
            g = self.exec_group.get(eid)
            if g is None:
                continue
            for node in _walk(plan):
                name = node.get("nodeName", "")
                if name == "Exchange":
                    self.groups[g]["exchanges"] += 1
                elif name == "BroadcastExchange":
                    self.groups[g]["broadcasts"] += 1
        return {g: dict(c) for g, c in self.groups.items()}


def attribute(events: Iterable[dict]) -> dict[str, dict[str, float]]:
    a = Attribution()
    for ev in events:
        a.feed(ev)
    return a.finish()


def read_events(path: str) -> Iterable[dict]:
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)
