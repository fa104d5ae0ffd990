"""SparkSession factory tuned for the engine.

Scale stance: these settings are chosen so the same logical plans run
unchanged from ``local[32]`` tests to a 1000-executor cluster over ~100 TB:

- **AQE on** (coalesce + skew join): runtime re-planning replaces manual
  shuffle-partition tuning; skewed join keys (hot conversations, hot users)
  get split automatically.
- **Broadcast threshold 16 MiB** (see the inline rationale at the config
  site: Catalyst compares the column-pruned COMPRESSED size, which
  understates the in-memory relation ~5-10x): true dimensions still
  broadcast via the explicit ``Catalog.tbl`` hint; fact tables must never
  slip under the bar at scale.
- **Arrow enabled**: every Python-side exchange (pandas UDFs, toPandas) is
  columnar-batched, never row-at-a-time.
- **UTC session timezone**: deterministic timestamp semantics across engines
  (required for oracle parity with DuckDB).
- **shuffle.partitions** defaults to 2×cores locally; on a real cluster set
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (rule of thumb: ~2-3× total cores, with
  AQE coalescing down).
- **Python daemon ``etl_backend_spark.pydaemon``**: PySpark's worker calls
  ``importlib.invalidate_caches()`` before every task, and on CPython 3.11
  and 3.12 that makes each of the worker's ~16 zip importers re-read its
  whole archive directory (``pyspark.zip`` and the spark-core jar): ~0.2 s
  of every Python task, against a few ms for the UDF itself. The daemon
  re-reads an archive only when its inode, mtime or size changed, which is
  what CPython 3.13's lazy ``zipimporter.invalidate_caches`` gives: a
  rewritten archive's new modules still import. The package root goes on
  ``spark.executorEnv.PYTHONPATH`` so the daemon imports from any working
  directory. There is no fallback: if the module cannot be imported, Python
  UDFs fail with Spark's daemon start-up error.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "etl-backend-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 16 MiB, not bigger: the estimate Catalyst compares against this is
        # the column-pruned COMPRESSED parquet size, which understates the
        # in-memory hashed relation ~5-10x (snappy + dictionary + row
        # overhead). At 64 MiB a 6M-row fact table slipped under the bar and
        # the driver built a ~600 MB broadcast (measured 18x slowdown on the
        # Q5 shape at sf1). True dimensions still broadcast via the explicit
        # Catalog.tbl hint regardless of this threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ObjectHashAggregate (collect_set/collect_list) falls back to
        # SORT-BASED aggregation after only 128 distinct keys by default —
        # pathological for every shingle/band/bucket aggregation in the
        # dedup family (27k+ groups at sf0.1 => a full sort per partition).
        # 1M keys of small sets is ~100 MB/task worst case: fine at 128 GiB
        # local and inside a normal 4-8 GiB executor budget at scale; size
        # DOWN with executor memory if sets are large. Measured -7% on
        # dedup_ngram_jaccard (round-5 interleaved A/B).
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(1 << 20),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # some testdata drops store events.ts as TIMESTAMP(NANOS); lets the
        # raw int64 read path work without a per-read conf (µs drops ignore it)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "etl_backend_spark.pydaemon")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PKG_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
