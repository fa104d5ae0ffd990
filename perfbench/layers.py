"""Per-layer metrics of a traced run.

Combines the measured program's own spans (builder, plan and action time
per operation; manifest commits; streaming triggers; set-up builders) with
the Spark event-log counters attributed to each operation by job group.
Every metric is a mean per timed operation unless its name says otherwise.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from perfbench.eventlog import attribute, read_events

# per-op counters summed from the event log, reported as a mean per op
COUNTERS = {
    "sources.files_read": ("files_read", "count"),
    "sources.bytes_read": ("scan_bytes", "B"),
    "operators.exchanges": ("exchanges", "count"),
    "operators.broadcasts": ("broadcasts", "count"),
    "operators.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "operators.shuffle_read_bytes": ("shuffle_read_bytes", "B"),
    "operators.spill_bytes": ("spill_bytes", "B"),
    "functions.python_bytes_sent": ("python_bytes_sent", "B"),
    "functions.python_bytes_received": ("python_bytes_received", "B"),
    "functions.python_rows": ("python_rows", "count"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.cpu_ms": ("cpu_ms", "ms"),
    "spark.gc_ms": ("gc_ms", "ms"),
}
COMMIT_KINDS = ("append_once", "upsert", "delete_dv", "compact")


def load_groups(path: Path) -> dict[str, dict[str, float]]:
    logs = [p for p in path.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {path}, found {len(logs)}")
    return attribute(read_events(str(logs[0])))


def op_counters(i: int, op: dict, groups: dict) -> dict[str, float]:
    """Event-log counters of operation ``i``: its build and run job groups
    plus any groups it started under another id (streaming run ids)."""
    out: dict[str, float] = {}
    names = [f"{i}/build", f"{i}/run"] + op.get("groups", [])
    for g in names:
        for k, v in groups.get(g, {}).items():
            out[k] = out.get(k, 0.0) + v
    out["eager_jobs"] = groups.get(f"{i}/build", {}).get("jobs", 0.0) if op["read"] else 0.0
    return out


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(r: dict, groups: dict, cores: int) -> dict:
    ops = [(i, o) for i, o in enumerate(r["ops"]) if o["timed"] and o["ok"]]
    reads = [(i, o) for i, o in ops if o["read"]]
    c = {i: op_counters(i, o, groups) for i, o in ops}
    m: dict[str, dict] = {}

    def put(name: str, value: float, unit: str) -> None:
        m[name] = {"value": float(value), "unit": unit}

    layers = r["layers"]
    put("session.start_s", layers.get("session.start_s", 0.0), "s")
    put("sources.layout_build_s", layers.get("sources.layout_build_s", 0.0), "s")
    put("registry.build_ms", _mean([1e3 * o["build_s"] for _, o in reads]), "ms")
    put("registry.eager_jobs", _mean([c[i]["eager_jobs"] for i, _ in reads]), "count")
    put("plans.plan_ms", _mean([1e3 * o["plan_s"] for _, o in reads]), "ms")
    returned = sum(o.get("rows", 0) for _, o in reads)
    records = sum(c[i].get("input_records", 0.0) for i, _ in reads)
    put("sources.rows_read_per_row_returned", records / max(1, returned), "ratio")
    for name, (key, unit) in COUNTERS.items():
        put(name, _mean([c[i].get(key, 0.0) for i, _ in ops]), unit)
    busy = sum(c[i].get("task_run_ms", 0.0) for i, _ in ops)
    wall = sum(1e3 * o["dt"] for _, o in ops) * cores
    put("spark.slot_busy_ratio", busy / wall if wall else 0.0, "ratio")

    etl = r.get("etl", {})
    commits = [ms for k in COMMIT_KINDS for ms in etl.get(f"commit_ms.{k}", [])]
    put("etl.commit_ms", _median(commits), "ms")
    for k in COMMIT_KINDS:
        put(f"etl.{k}_ms", _median(etl.get(f"commit_ms.{k}", [])), "ms")
    put("etl.files_written", _mean(etl.get("files_written", [])), "count")
    put("etl.bytes_written_per_user_byte", _median(etl.get("bytes_per_user_byte", [])),
        "ratio")
    put("etl.live_files", sum((r.get("live_files") or {}).values()), "count")
    considered = etl.get("considered", 0)
    put("etl.files_skipped_ratio", etl.get("skipped", 0) / considered if considered else 0.0,
        "ratio")
    put("etl.compact_bytes_rewritten", _mean(etl.get("compact_bytes_rewritten", [])), "B")
    put("streaming.trigger_ms", _median(etl.get("streaming.trigger_ms", [])), "ms")
    put("streaming.batch_rows", _mean(etl.get("streaming.batch_rows", [])), "count")
    # the traced run's own end-to-end numbers: compared with the untraced
    # runs' medians they give the tracing overhead
    put("trace.ops_per_s", r["ops_per_s"], "1/s")
    put("trace.read_p50_ms", r["read_p50_ms"] or 0.0, "ms")
    return m


def per_kind(r: dict, groups: dict) -> dict:
    """Per operation type: median latency and phase times, mean counters."""
    by: dict[str, list[tuple[int, dict]]] = {}
    for i, o in enumerate(r["ops"]):
        if o["timed"] and o["ok"]:
            by.setdefault(o["kind"], []).append((i, o))
    out = {}
    for kind, items in sorted(by.items()):
        cs = [op_counters(i, o, groups) for i, o in items]
        keys = sorted({k for cc in cs for k in cc})
        out[kind] = {
            "n": len(items),
            "latency_ms": _median([1e3 * o["dt"] for _, o in items]),
            "build_ms": _median([1e3 * o["build_s"] for _, o in items]),
            "plan_ms": _median([1e3 * o["plan_s"] for _, o in items]),
            **{k: _mean([cc.get(k, 0.0) for cc in cs]) for k in keys},
        }
    return out
