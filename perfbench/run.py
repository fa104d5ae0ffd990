"""Repository benchmark: marketplace routes with writes, sf1 OLAP and
LLM-corpus throughput, cold set-up, traced per-layer counters.

    python3 perfbench/run.py --workload api_rw --seed 1 --seconds 16 --trace 0

Run from the repository root. Each run:

1. builds (once per checkout, cached under ``perfbench/.data``) the sf0.1
   tables, their sf1 replication by ``scripts/make_sf1.py`` and the DuckDB
   oracle answers;
2. starts the measured program (``perfbench/harness.py``) in a fresh
   process on ``local[<cores>]``, with its own TMPDIR, Spark local and
   warehouse dirs, manifest and stream roots under ``perfbench/.runs``, so
   every layout, index and table build is paid cold;
3. stops every process the program started and deletes its directories.

The timed work is fixed, whatever ``--seconds`` says: one deck of
``api_rw`` operations, or ``workloads.BATCH_PASSES`` passes over a batch
query list. A second deck would run against manifest tables the first one
grew, so a time-boxed loop would measure different work once the code gets
faster.

The last stdout line is the result JSON. With ``--trace 0`` it holds the
end-to-end metrics; with ``--trace 1`` the run records a Spark event log
and per-operation spans and reports the per-layer metrics instead. The
line before it (``# detail``) carries the numbers that are not gated:
write latencies, tail percentiles where enough samples support them, the
error rate, storage amplification, hypervisor steal and per-operation
medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

WORKLOADS = ("api_rw", "olap_sf1", "llm_corpus")
CHILD_TIMEOUT_S = 165


def _kill_group(pgid: int) -> None:
    """SIGKILL the process group and wait until none of it is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def spawn(argv: list[str], work_dir: Path, extra_env: dict, timeout: float) -> str:
    """Run ``argv`` from the checkout root in its own process group, with
    TMPDIR, the JVM's temp dir and Spark's local dirs under ``work_dir``, on
    every core of this machine; return its stdout. The whole group is
    killed and waited for afterwards. Raises when the process times out or
    exits with another code than 0."""
    cores = str(os.cpu_count() or 1)
    for sub in ("tmp", "local"):
        (work_dir / sub).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": str(work_dir / "tmp"),
        # the JVM ignores TMPDIR: keep its temp files and perf data in the run dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work_dir / 'tmp'} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": str(work_dir / "local"),
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": cores,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        **extra_env,
    })
    log = work_dir / "child.log"
    with open(log, "wb") as err:
        proc = subprocess.Popen(argv, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            _kill_group(proc.pid)
            proc.communicate()
            raise RuntimeError(f"{argv[-1][:80]} exceeded {timeout}s")
        finally:
            _kill_group(proc.pid)
    if proc.returncode != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"{argv[-1][:80]} exited {proc.returncode}; stderr tail:\n{tail}")
    return out.decode(errors="replace")


def run_child(cfg: dict, run_dir: Path) -> dict:
    cfg["t_spawn"] = time.time()
    out = spawn([sys.executable, "-m", "perfbench.harness", json.dumps(cfg)],
                run_dir, {}, CHILD_TIMEOUT_S)
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    raise RuntimeError("measured program printed no result")


def end_to_end(r: dict) -> dict:
    return {
        "setup_s": {"value": r["setup_s"], "unit": "s"},
        "ops_per_s": {"value": r["ops_per_s"], "unit": "1/s"},
        "read_p50_ms": {"value": r["read_p50_ms"], "unit": "ms"},
    }


def detail(r: dict, prep: dict) -> dict:
    d = {k: r.get(k) for k in (
        "write_p50_ms", "write_p95_ms", "read_p95_ms", "n_reads", "n_writes",
        "window_s", "steal_pct", "peak_rss_mb", "stored_bytes_per_user_byte", "live_files",
        "per_kind_p50_ms", "layers", "warmup_s", "check_problems", "errors")}
    d["error_rate"] = r["failed"] / r["attempted"]
    d.update(prep)
    return d


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the runner's interface; the timed work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "etl_backend_spark" / "__init__.py").is_file():
        print(f"etl_backend_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2

    from perfbench import datagen, oracle, workloads

    t = time.perf_counter()
    data_dir, built = datagen.ensure_data(spawn)
    prep = {"datagen_s": time.perf_counter() - t, "datagen_built": built}
    if args.workload != "api_rw":
        t = time.perf_counter()
        oracle.ensure_expected(data_dir, data_dir / "sf1",
                               workloads.distinct_kinds(args.workload))
        prep["oracle_build_s"] = time.perf_counter() - t

    run_dir = ROOT / "perfbench" / ".runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "eventlog").mkdir(parents=True)
    cfg = {
        "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "cores": os.cpu_count() or 1,
        "run_dir": str(run_dir), "data_dir": str(data_dir),
    }
    try:
        r = run_child(cfg, run_dir)
        if args.trace:
            from perfbench import layers

            groups = layers.load_groups(run_dir / "eventlog")
            metrics = layers.per_layer(r, groups, cfg["cores"])
            print("# per-op " + json.dumps(layers.per_kind(r, groups)))
        else:
            metrics = end_to_end(r)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("# detail " + json.dumps(detail(r, prep), default=float))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
