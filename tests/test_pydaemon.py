"""The Python worker daemon (``etl_backend_spark.pydaemon``): zip archives
are re-read only when they change, Spark's workers run the patched
importer, and the daemon starts from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from etl_backend_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_FILE = os.path.join("etl_backend_spark", "pydaemon.py")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_zip_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pydaemon_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_last_read", {})
    for mod in ("pydaemon_mod_a", "pydaemon_mod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("pydaemon_mod_a").X == 1

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # the first invalidation reads once
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"pydaemon_mod_a": "X = 1\n",
                         "pydaemon_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("pydaemon_mod_b").Y == 2


def test_spark_workers_run_the_patched_invalidate(spark):
    def where(batches):
        import pandas as pd

        for _ in batches:
            code = zipimport.zipimporter.invalidate_caches.__code__
            yield pd.DataFrame({"f": [code.co_filename]})

    files = {r.f for r in spark.range(0, 4, numPartitions=4)
             .mapInPandas(where, "f string").collect()}
    assert len(files) == 1 and files.pop().endswith(DAEMON_FILE), files


def test_daemon_starts_from_any_cwd(tmp_path):
    """The JVM starts the daemon with ``python -m`` in its own working
    directory; the package root on ``spark.executorEnv.PYTHONPATH`` is
    what lets it import there (else: No module named
    'etl_backend_spark')."""
    script = textwrap.dedent(f"""
        import sys, zipimport
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from etl_backend_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)

        @F.pandas_udf("string")
        def where(s: pd.Series) -> pd.Series:
            code = zipimport.zipimporter.invalidate_caches.__code__
            return s.map(lambda _: code.co_filename)

        print("WORKER", spark.range(1).select(where("id")).first()[0])
        spark.stop()
        """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    worker = [ln for ln in out.stdout.splitlines() if ln.startswith("WORKER ")]
    assert worker and worker[0].endswith(DAEMON_FILE), out.stdout
