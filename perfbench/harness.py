"""The measured program: one benchmark run in a fresh process.

Started by ``perfbench/run.py`` with a JSON config as its only argument.
Set-up (session, table and index builds, one warm-up of every distinct
operation) is followed by one timed round in a closed loop (a deck of
``api_rw`` operations, or ``workloads.BATCH_PASSES`` passes over the batch
queries), then by the output checks. Prints one JSON line with the raw results.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import resource
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from bench import steal_pct, steal_snapshot
from perfbench import oracle, workloads
from perfbench.stats import tail

now = time.perf_counter


# ------------------------------------------------------------------ tracing

class Tracer:
    """Job-group tags and plan timing for the traced run; a no-op when
    tracing is off."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled

    @contextmanager
    def phase(self, group: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def plan(self, *dfs) -> float:
        """Materialize the executed plan of each frame (traced run only);
        returns the seconds it took."""
        if not self.enabled:
            return 0.0
        t = now()
        for df in dfs:
            df._jdf.queryExecution().executedPlan()
        return now() - t


# ---------------------------------------------------------------- helpers

def descendants_hwm_kb(pid: int) -> float:
    """Sum of VmHWM over ``pid``'s descendants (the JVM and its Python
    workers), from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0.0, list(children.get(pid, []))
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += float(line.split()[1])
        except OSError:
            pass
    return total


def dir_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths if os.path.exists(p))


def logical_bytes(table) -> float:
    """Bytes of the logical rows of a pyarrow table: 8 per fixed-width
    value, UTF-8 length per string."""
    total = 0.0
    for col in table.columns:
        if col.type in ("string", "large_string"):
            total += sum(len(s.encode()) for s in col.to_pylist() if s is not None)
        else:
            total += 8.0 * len(col)
    return total


def row_bytes(row: dict) -> float:
    return sum(len(v.encode()) if isinstance(v, str) else 8.0 for v in row.values())


# --------------------------------------------------------------- workloads

class Batch:
    """``olap_sf1`` / ``llm_corpus``: passes over a query list, each query
    executed through a ``noop`` sink."""

    def __init__(self, h: "Harness", queries: list[str]):
        from etl_backend_spark.registry import QUERIES

        self.h, self.queries, self.fns = h, queries, QUERIES
        self.sf_dir = str(h.data_dir / "sf1")
        self.results: dict[str, pd.DataFrame] = {}

    def setup(self) -> None:
        from etl_backend_spark.sources.catalog import events_partitioned_path

        h = self.h
        if any(q in self.queries for q in ("window_latest_per_group", "join_asof",
                                           "events_funnel")):
            t = now()
            events_partitioned_path(h.spark, self.sf_dir)
            h.layers["sources.layout_build_s"] += now() - t
        for q in self.queries:  # warm-up; its answer is the one checked
            h.run_op(q, lambda q=q: self._build(q),
                     lambda df, q=q: self._keep(q, df), read=True)

    def _keep(self, q: str, df) -> int:
        self.results[q] = df.toPandas()
        self._release(df)
        return len(self.results[q])

    def _release(self, df) -> None:
        from etl_backend_spark.operators.windows import release_plan_checkpoints

        release_plan_checkpoints(df)

    def round(self) -> None:
        for n in range(workloads.BATCH_PASSES):
            for q in workloads.batch_pass(self.queries, self.h.seed, n):
                self.h.run_op(q, lambda q=q: self._build(q),
                              lambda df, q=q: self._noop(df, len(self.results.get(q, ()))),
                              read=True)

    def _build(self, q: str):
        return [self.fns[q](self.h.spark, self.sf_dir)]

    def _noop(self, df, rows: int) -> int:
        df.write.format("noop").mode("overwrite").save()
        self._release(df)
        return rows

    def check(self) -> dict[str, str]:
        bad = {}
        for q in self.queries:
            got = self.results.get(q)
            problem = ("no warm-up result" if got is None
                       else oracle.check_batch(self.h.data_dir, Path(self.sf_dir), q, got))
            if problem:
                bad[q] = problem
        return bad


class ApiRW:
    """``api_rw``: marketplace routes plus writes into two manifest tables."""

    ADS_FILES, MSG_FILES, COMPACT_ROWS = 8, 8, 10_000

    def __init__(self, h: "Harness"):
        self.h = h
        self.sf_dir = str(h.data_dir / "sf0.1")
        self._replay_init()
        self.first: dict[str, tuple[dict, list[pd.DataFrame]]] = {}
        self.problems: dict[str, str] = {}
        self.n_sends = 0

    # ----------------------------------------------------------- set-up

    def setup(self) -> None:
        from etl_backend_spark.engine import MarketplaceEngine
        from etl_backend_spark.etl.manifest import ManifestTable
        from etl_backend_spark.sources.catalog import (
            SCHEMAS, events_partitioned_path, load_table)

        h, spark = self.h, self.h.spark
        t = now()
        events_partitioned_path(spark, self.sf_dir)
        h.layers["sources.layout_build_s"] += now() - t
        self.engine = MarketplaceEngine(spark, self.sf_dir)
        self.ads_schema = SCHEMAS["orders"]
        tables = str(h.run_dir / "tables")
        self.ads = ManifestTable(spark, tables, "ads", stats_cols=["o_orderkey"])
        self.msgs = ManifestTable(spark, tables, "messages",
                                  stats_cols=["event_id", "user_id"], bloom_col="user_id")
        self.ads.create(load_table(spark, "orders", self.sf_dir)
                        .repartitionByRange(self.ADS_FILES, "o_orderkey"))
        self.msgs.create(load_table(spark, "events", self.sf_dir)
                         .repartitionByRange(self.MSG_FILES, "user_id"))
        self.src_dir = h.run_dir / "stream" / "in"
        self.ckpt = str(h.run_dir / "stream" / "ckpt")
        self.src_dir.mkdir(parents=True)
        for op in self.stream.deck():  # warm-up deck: every kind once or more
            self.execute(op, warm=True)

    def _replay_init(self) -> None:
        """The replay's starting state, and the operation stream over the
        key domains of the same tables."""
        orders = pq.read_table(f"{self.sf_dir}/orders.parquet")
        events = pq.read_table(f"{self.sf_dir}/events.parquet",
                               columns=["event_id", "user_id"])
        customers = pq.read_table(f"{self.sf_dir}/customer.parquet", columns=["c_custkey"])
        self.stream = workloads.ApiStream(
            self.h.seed,
            customers=np.unique(customers.column("c_custkey").to_numpy()),
            orders=np.unique(orders.column("o_orderkey").to_numpy()),
            event_users=np.unique(events.column("user_id").to_numpy()),
            first_event_id=int(pc.max(events.column("event_id")).as_py()) + 1)
        keys = orders.column("o_orderkey").to_pylist()
        prices = orders.column("o_totalprice").to_pylist()
        per_row = logical_bytes(orders) / max(1, orders.num_rows)
        self.ads_live = {k: (p, per_row) for k, p in zip(keys, prices)}
        self.msg_users: dict[int, int] = {}
        for u in events.column("user_id").to_pylist():
            self.msg_users[u] = self.msg_users.get(u, 0) + 1
        self.msg_count = events.num_rows
        self.msg_id_sum = sum(events.column("event_id").to_pylist())
        self.msg_bytes = logical_bytes(pq.read_table(f"{self.sf_dir}/events.parquet"))

    # ------------------------------------------------------------ loop

    def round(self) -> None:
        for op in self.stream.deck():
            self.execute(op)

    def execute(self, op: dict, warm: bool = False) -> None:
        kind, h = op["kind"], self.h
        write = kind in ("send_messages", "upsert_ad", "delete_ad", "compact")
        if write:
            h.run_op(kind, lambda: getattr(self, kind)(op) or [], None, read=False)
            return
        if kind in ("ads_by_key", "messages_by_user"):
            want = self._expect_table_read(op)
            frames = []
            h.run_op(kind, lambda: self._table_read(op), self._collect(frames), read=True)
            got = frames[0] if frames else None
            if got is not None and not self._same_table_read(op, got, want):
                self.problems.setdefault(kind, f"{op} -> {len(got)} rows, want {want}")
            return
        frames = []
        h.run_op(kind, lambda: self._route(op), self._collect(frames), read=True)
        if warm and kind not in self.first:
            self.first[kind] = (op, frames)

    @staticmethod
    def _collect(sink: list):
        def action(*dfs) -> int:
            n = 0
            for df in dfs:
                pdf = df.toPandas()
                sink.append(pdf)
                n += len(pdf)
            return n
        return action

    def _route(self, op: dict):
        from etl_backend_spark.plans.query_builder import SearchParams

        e, k = self.engine, op.get("key")
        kind = op["kind"]
        if kind == "search_ads":
            r = e.search_ads(SearchParams(**op["params"]))
            return [r.rows, r.total]
        df = {
            "get_ad": lambda: e.get_ad(k),
            "my_ads": lambda: e.my_ads(k),
            "favorites_of": lambda: e.favorites_of(k),
            "is_favorite": lambda: e.is_favorite(k, op["line"]),
            "conversations_list": lambda: e.conversations_list(k),
            "messages_of": lambda: e.messages_of(k),
            "admin_stats": e.admin_stats,
            "admin_users": lambda: e.admin_users(page=op["page"], limit=20),
            "login": lambda: e.login(k, f"pw-{k}"),
        }[kind]()
        return [df]

    def _table_read(self, op: dict):
        from pyspark.sql import functions as F

        k = op["key"]
        if op["kind"] == "ads_by_key":
            df, skipped = self.ads.read_pruned("o_orderkey", k, k)
            df = df.filter(F.col("o_orderkey") == k).select("o_orderkey", "o_totalprice")
            table = self.ads
        else:
            df, skipped = self.msgs.read_pruned_bloom(k)
            df = df.filter(F.col("user_id") == k).select("event_id")
            table = self.msgs
        if self.h.tracer.enabled:
            self.h.etl["skipped"] += skipped
            self.h.etl["considered"] += len(table.files())
        return [df]

    def _expect_table_read(self, op: dict):
        if op["kind"] == "ads_by_key":
            hit = self.ads_live.get(op["key"])
            return None if hit is None else hit[0]
        return self.msg_users.get(op["key"], 0)

    @staticmethod
    def _same_table_read(op: dict, got: pd.DataFrame, want) -> bool:
        if op["kind"] == "messages_by_user":
            return len(got) == want
        if want is None:
            return len(got) == 0
        return len(got) == 1 and abs(float(got["o_totalprice"].iloc[0]) - want) < 1e-6

    # ----------------------------------------------------------- writes

    def _commit(self, table, kind: str, fn, user_bytes: float):
        """Run one manifest mutation, recording etl counters when traced."""
        if not self.h.tracer.enabled:
            return fn()
        before = {e["path"] for e in table.files()}
        t = now()
        out = fn()
        ms = 1e3 * (now() - t)
        after = table.files()
        new = [e["path"] for e in after if e["path"] not in before]
        etl = self.h.etl
        etl[f"commit_ms.{kind}"].append(ms)
        etl["files_written"].append(len(new))
        if user_bytes > 0:
            etl["bytes_per_user_byte"].append(dir_bytes(new) / user_bytes)
        if kind == "compact":
            gone = before - {e["path"] for e in after}
            etl["compact_bytes_rewritten"].append(dir_bytes(gone))
        return out

    def send_messages(self, op: dict) -> None:
        from etl_backend_spark.streaming.chat_pipeline import (
            read_json_stream, run_available_now, stream_into_manifest, validate_events)

        rows = op["rows"]
        name = f"batch-{self.n_sends:06d}.json"
        tmp = self.src_dir.parent / f".{name}"
        tmp.write_text("".join(json.dumps(r) + "\n" for r in rows))
        os.replace(tmp, self.src_dir / name)
        self.n_sends += 1
        self.send_bytes = sum(row_bytes(r) for r in rows)
        table = _TimedAppend(self) if self.h.tracer.enabled else self.msgs
        t = now()
        q = run_available_now(
            stream_into_manifest(
                validate_events(read_json_stream(self.h.spark, str(self.src_dir))),
                table, self.ckpt),
            query_name=f"send_{self.n_sends}")
        self.h.extra_groups.append(str(q.runId))  # streaming jobs use their run id
        if self.h.tracer.enabled:
            self.h.etl["streaming.trigger_ms"].append(1e3 * (now() - t))
            self.h.etl["streaming.batch_rows"].append(
                sum(p["numInputRows"] for p in q.recentProgress))
        for r in rows:
            self.msg_users[r["user_id"]] = self.msg_users.get(r["user_id"], 0) + 1
            self.msg_id_sum += r["event_id"]
            self.msg_bytes += row_bytes(r)
        self.msg_count += len(rows)

    def upsert_ad(self, op: dict) -> None:
        r = dict(op["row"])
        day = r.pop("o_orderdate_day")
        r["o_orderdate"] = dt.datetime(1995, 1, 1) + dt.timedelta(days=day)
        row = tuple(r[f.name] for f in self.ads_schema.fields)
        incoming = self.h.spark.createDataFrame([row], self.ads_schema)
        nbytes = row_bytes(op["row"])
        self._commit(self.ads, "upsert", lambda: self.ads.upsert(incoming, "o_orderkey"),
                     nbytes)
        self.ads_live[r["o_orderkey"]] = (r["o_totalprice"], nbytes)

    def delete_ad(self, op: dict) -> None:
        from pyspark.sql import functions as F

        k = op["key"]
        self._commit(self.ads, "delete_dv",
                     lambda: self.ads.delete_dv(F.col("o_orderkey") == k), 0.0)
        self.ads_live.pop(k, None)

    def compact(self, op: dict) -> None:
        def fold():
            self.ads.compact_dv()
            self.ads.compact(target_rows=self.COMPACT_ROWS)
        self._commit(self.ads, "compact", fold, 0.0)
        self._commit(self.msgs, "compact",
                     lambda: self.msgs.compact(target_rows=self.COMPACT_ROWS), 0.0)

    # ------------------------------------------------------------ checks

    def check(self) -> dict[str, str]:
        from pyspark.sql import functions as F

        bad = dict(self.problems)
        con = oracle.connect(self.sf_dir)
        for kind, (op, frames) in self.first.items():
            problem = oracle.check_route(con, op, frames)
            if problem:
                bad[kind] = problem
        con.close()
        for name, table, key, want in (
            ("ads_table", self.ads, "o_orderkey",
             (len(self.ads_live), sum(self.ads_live))),
            ("messages_table", self.msgs, "event_id", (self.msg_count, self.msg_id_sum)),
        ):
            n, s = table.read().agg(F.count(F.lit(1)), F.sum(key)).collect()[0]
            if (n, s) != want:
                bad[name] = f"rows, key sum {(n, s)} != replay {want}"
        return bad

    def storage(self) -> dict:
        files = [e["path"] for t in (self.ads, self.msgs) for e in t.files()]
        user = sum(b for _, b in self.ads_live.values()) + self.msg_bytes
        return {
            "stored_bytes_per_user_byte": dir_bytes(files) / user,
            "live_files": {"ads": len(self.ads.files()), "messages": len(self.msgs.files())},
        }


class _TimedAppend:
    """The messages table as ``stream_into_manifest`` sees it in the traced
    run: ``append_once`` is timed and its new files counted."""

    def __init__(self, api: ApiRW):
        self.api = api

    def append_once(self, df, txn: str) -> bool:
        return self.api._commit(self.api.msgs, "append_once",
                                lambda: self.api.msgs.append_once(df, txn=txn),
                                self.api.send_bytes)


# ------------------------------------------------------------------ harness

class Harness:
    def __init__(self, cfg: dict):
        from collections import defaultdict

        self.cfg = cfg
        self.seed = cfg["seed"]
        self.run_dir = Path(cfg["run_dir"])
        self.data_dir = Path(cfg["data_dir"])
        self.cores = cfg["cores"]
        self.layers: dict[str, float] = defaultdict(float)
        self.etl: dict = defaultdict(list)
        self.etl["skipped"] = 0
        self.etl["considered"] = 0
        self.ops: list[dict] = []
        self.extra_groups: list[str] = []
        self.timing = False

    def start_session(self) -> None:
        from etl_backend_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            "spark.local.dir": str(self.run_dir / "local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.cfg["trace"]:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.run_dir / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = now()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = now() - t
        self.tracer = Tracer(self.spark, bool(self.cfg["trace"]))

    def run_op(self, kind: str, build, action, read: bool) -> None:
        """Time one closed-loop operation: ``build()`` returns the
        unexecuted frames (a write does its work there and returns none);
        ``action(*frames)`` executes them and returns the result rows."""
        i = len(self.ops)
        rec = {"kind": kind, "read": read, "timed": self.timing, "ok": True}
        self.extra_groups = []
        t0 = now()
        try:
            with self.tracer.phase(f"{i}/build"):
                frames = build()
            t1 = now()
            rec["plan_s"] = self.tracer.plan(*frames)
            t2 = now()
            with self.tracer.phase(f"{i}/run"):
                rec["rows"] = action(*frames) if action else 0
            t3 = now()
        except Exception as e:  # a failed operation is counted, not fatal
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:300], dt=now() - t0)
            self.ops.append(rec)
            return
        rec.update(dt=t3 - t0, build_s=t1 - t0, run_s=t3 - t2, groups=self.extra_groups)
        self.ops.append(rec)

    def peak_rss_mb(self) -> float:
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on Linux
        return (own + descendants_hwm_kb(os.getpid())) / 1024.0


def _summary(ops: list[dict], window_s: float) -> dict:
    reads = [1e3 * o["dt"] for o in ops if o["ok"] and o["read"]]
    writes = [1e3 * o["dt"] for o in ops if o["ok"] and not o["read"]]
    out = {
        "ops_per_s": sum(o["ok"] for o in ops) / window_s,
        "read_p50_ms": statistics.median(reads) if reads else None,
        "read_p95_ms": tail(reads, 95) if reads else None,
        "write_p50_ms": statistics.median(writes) if writes else None,
        "write_p95_ms": tail(writes, 95) if writes else None,
        "n_reads": len(reads), "n_writes": len(writes),
    }
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        if o["ok"]:
            by_kind.setdefault(o["kind"], []).append(1e3 * o["dt"])
    out["per_kind_p50_ms"] = {k: statistics.median(v) for k, v in sorted(by_kind.items())}
    return out


def main() -> int:
    cfg = json.loads(sys.argv[1])
    h = Harness(cfg)
    h.start_session()
    name = cfg["workload"]
    if name == "api_rw":
        w = ApiRW(h)
    else:
        w = Batch(h, workloads.OLAP_QUERIES if name == "olap_sf1" else workloads.LLM_QUERIES)
    w.setup()
    setup_s = time.time() - cfg["t_spawn"]
    n_setup = len(h.ops)
    h.timing = True
    s0, t0 = steal_snapshot(), now()
    w.round()
    window_s = now() - t0
    steal = steal_pct(s0, steal_snapshot())
    timed = h.ops[n_setup:]
    peak = h.peak_rss_mb()
    problems = w.check()
    failed_setup = [o for o in h.ops[:n_setup] if not o["ok"]]
    result = {
        "setup_s": setup_s,
        "window_s": window_s,
        "steal_pct": steal,
        "peak_rss_mb": peak,
        "attempted": len(h.ops),
        "failed": sum(not o["ok"] for o in h.ops) + len(problems),
        "errors": [o["error"] for o in h.ops if not o["ok"]][:5],
        "check_problems": problems,
        "setup_failures": len(failed_setup),
        "layers": dict(h.layers),
        "warmup_s": {o["kind"]: o["dt"] for o in h.ops[:n_setup]},
        **_summary(timed, window_s),
    }
    if name == "api_rw":
        result.update(w.storage())
    if h.tracer.enabled:
        result["ops"] = [{k: v for k, v in o.items() if k != "error"}
                         for o in h.ops]
        result["etl"] = {k: v for k, v in h.etl.items()}
        h.spark.stop()  # flushes the event log; otherwise the runner stops the JVM
    print("PERFBENCH_RESULT " + json.dumps(result, default=float), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
