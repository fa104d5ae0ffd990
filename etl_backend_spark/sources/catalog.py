"""Table catalog: explicit schemas + parquet loaders.

The reference declares its schema once and migrates it (prisma/schema.prisma
compiled to DDL; see SURVEY.md §1.3) — schema-on-write, never inference.
We mirror that: every table has a declared ``StructType`` and loads refuse to
infer. The driver's testdata tables (TPC-H-ish star schema + ``events`` +
``documents``/``embeddings``) stand in for the reference's marketplace tables
(reference prisma/schema.prisma:11-105).

Scale notes
-----------
- Loads are plain ``spark.read.schema(...).parquet`` — column pruning and
  predicate pushdown reach the parquet scan (verify via
  ``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
- ``DIM_TABLES`` marks broadcast-sized dimensions (the reference's Category
  table class, prisma/seed.ts:26-33): join helpers broadcast these.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from . import cache

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    # events.ts has shipped as TIMESTAMP(NANOS) in some testdata drops
    # (which Spark reads only as int64 via legacy.parquet.nanosAsLong) and
    # TIMESTAMP(MICROS) in others; read_events_raw sniffs the parquet
    # footer and normalizes either to a µs TimestampType column (ns uses
    # integer `div 1000` — double division would lose precision at
    # ~1.7e18 ns; DuckDB truncates ns→µs the same way, so both engines see
    # identical values). events_partitioned_path then rewrites once into a
    # date-partitioned layout with ts as a physical µs timestamp, and
    # load_table serves events from that layout. The LongType here is the
    # raw ns read schema only.
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}

TABLES: list[str] = list(SCHEMAS)

# Broadcast-sized dimensions (the reference's Category class of table:
# 6 seeded rows, prisma/seed.ts:26-33). region/nation stay tiny at any SF.
DIM_TABLES = {"region", "nation"}


# Read-side schema for the date-partitioned events layout: ts is a PHYSICAL
# µs timestamp there (predicates push down to parquet), event_date the
# partition column (directory pruning).
def _events_ts_as_timestamp() -> list:
    """The events schema's fields with ts rebuilt as TimestampType — ONE
    definition shared by the layout schema and the µs read path (r13
    review: two copies of the comprehension, one with a dead
    name-rewrite conditional)."""
    return [
        StructField(f.name, TimestampType() if f.name == "ts" else f.dataType)
        for f in SCHEMAS["events"].fields
    ]


def _events_layout_schema() -> StructType:
    from pyspark.sql.types import DateType

    return StructType(
        _events_ts_as_timestamp() + [StructField("event_date", DateType())])


def _events_ts_unit(src: str) -> str:
    """Physical unit of ts in an events parquet file ('us' or 'ns'), read
    from the footer. Cheap (metadata only) and keeps the loader correct
    across testdata drops that switched the physical type. ``src`` may be
    a single file or a Spark-written directory of part files (all parts
    share one schema — any part's footer answers).

    Three footer shapes exist in the wild for this column:
    - an annotated timestamp (unit in the arrow type) → that unit;
    - a BARE int64 with no logical annotation — the legacy make_sf1
      output, which stored raw epoch NANOseconds → 'ns' (guessing 'us'
      here would read timestamps ~1000x in the future, silently);
    - anything else is a regenerate-your-testdata error, raised loudly.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(src):
        # recursive part listing (r13 review): a top-level-only glob on
        # a nested/partitioned layout found nothing and GUESSED 'us' —
        # the silent 1000x misread this function's own docstring warns
        # about. A non-empty dir with no sniffable footer raises.
        parts = parquet_part_files(src)
        if not parts:
            # an empty-but-VALID events dir (only _SUCCESS / metadata /
            # _spark_metadata entries — e.g. a streaming sink before its
            # first committed batch) reads as an empty frame; the unit is
            # immaterial, so default 'us' instead of crashing at plan
            # time (r13 ADVICE). A dir holding real non-metadata files
            # with no sniffable parquet part still raises.
            leftovers = [
                n for n in os.listdir(src)
                if not (n.startswith("_") or n.startswith("."))
            ]
            if not leftovers:
                return "us"
            raise FileNotFoundError(
                f"events source {src} contains no parquet part files to "
                f"sniff a ts unit from (found {leftovers[:5]})")
        src = parts[0]
    pf = pq.ParquetFile(src)
    # INT96 (vanilla OSS Spark's DEFAULT outputTimestampType) presents in
    # arrow as timestamp[ns], which would route it to the int64-nanosAsLong
    # read path and fail with a physical-type mismatch; Spark's own
    # TimestampType read handles INT96 natively, so it takes the 'us' path
    pq_schema = pf.schema
    for i in range(len(pq_schema)):
        col = pq_schema.column(i)
        if col.name == "ts" and col.physical_type == "INT96":
            return "us"
    t = pf.schema_arrow.field("ts").type
    if pa.types.is_timestamp(t):
        return t.unit
    if pa.types.is_integer(t):
        return "ns"  # legacy unannotated int64 = raw epoch nanos
    raise TypeError(
        f"events ts column at {src} has physical type {t}; expected a "
        "parquet timestamp or legacy int64 nanos — regenerate the file"
    )


def _source_bytes(src: str) -> int:
    """Bytes of parquet data behind ``src`` — a single file, or the sum of
    part files when src is a directory (os.path.getsize on a directory
    returns the inode size, ~4 KiB, which would make any directory-backed
    SF look empty to the granularity rule). Uses the shared RECURSIVE
    part lister (r13 review): a top-level-only glob read a nested/
    partitioned layout as 0 bytes, silently collapsing its granularity
    to 'month' and its bucket count to defaultParallelism."""
    return sum(os.path.getsize(p) for p in parquet_part_files(src))


def read_events_raw(spark: SparkSession, src: str) -> DataFrame:
    """Read a raw events parquet with ts normalized to a µs TimestampType,
    whatever the file's physical unit. µs sources read ts natively (zero
    conversion, predicates push straight to parquet); ns sources read int64
    (legacy.parquet.nanosAsLong) and truncate-divide to µs.

    The nanosAsLong conf is DELIBERATELY left set for the session (r13
    review considered save/restore and rejected it): the returned frame
    is lazy, and executor-side parquet schema conversion consults the
    conf again at action time — restoring it before the caller's action
    would fail the read this function just set up. Cost of leaving it:
    a LATER read of some other nanos-timestamp parquet in this session
    infers LongType instead of raising Spark's illegal-type error; no
    such read exists in this engine (every events read routes through
    here, and no other table carries nanos timestamps)."""
    if _events_ts_unit(src) == "ns":
        # The ns read path REQUIRES this legacy conf; if a future Spark
        # drops it, the int64 read schema below would misread or error in
        # confusing ways — fail here with the actionable message instead
        # of swallowing the set() failure.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            took = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
        except Exception:
            took = None
        if took != "true":
            raise RuntimeError(
                f"events source {src} stores ts as TIMESTAMP(NANOS), but "
                "this Spark build does not honor "
                "spark.sql.legacy.parquet.nanosAsLong — rewrite the file "
                "with microsecond timestamps to read it here"
            )
        raw = spark.read.schema(SCHEMAS["events"]).parquet(src)
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return spark.read.schema(
        StructType(_events_ts_as_timestamp())).parquet(src)


# Minimum average bytes a partition directory should carry before we commit
# to that granularity. Partitions much smaller than a task's worth of data
# turn every scan into a pile of tiny tasks (local[32] pays ~5-15 ms each;
# a cluster pays a scheduler round-trip + an open per file). 8 MiB is
# maxPartitionBytes/16 — small enough that real daily volume (a 100 TB /
# few-years table has 10s-of-GB days) always picks "day", large enough
# that toy SFs collapse to one or two dirs.
_EVENTS_PARTITION_TARGET_BYTES = 8 * 1024 * 1024

# slop (days) subtracted from the derived lower event_date bound: a row's
# event_date is trunc(granularity, ts), up to one unit before ts
_GRAN_SLOP_DAYS = {"day": 1, "week": 8, "month": 32}


def _events_granularity(path: str) -> str:
    """Granularity the layout at ``path`` was written with (sidecar file).

    The sidecar is written into the private build directory BEFORE the
    atomic rename that publishes the layout (see events_partitioned_path /
    cache.build), so a published layout always carries it. If it is
    ever absent anyway (hand-deleted, foreign layout), fall back to the
    WIDEST granularity: "month" slop only over-widens the event_date
    bounds (extra directories scanned, rows re-filtered by the exact ts
    predicate) — falling back to "day" slop on a month layout would drop
    rows at partition edges."""
    try:
        with open(os.path.join(path, "_GRANULARITY")) as fh:
            gran = fh.read().strip()
    except OSError:
        return "month"
    # a present-but-invalid sidecar (truncated, hand-edited) degrades to
    # the widest granularity like an absent one, instead of leaking an
    # unknown string into the _GRAN_SLOP_DAYS lookup (r13 review)
    return gran if gran in _GRAN_SLOP_DAYS else "month"


def events_partitioned_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached on the source file's fingerprint) a
    date-partitioned copy of events with ts materialized as a µs timestamp.

    Some testdata drops store ts as TIMESTAMP(NANOS), which Spark reads
    only as a raw int64 — so the default loader used to COMPUTE the
    timestamp column, and every ts predicate became a post-scan residual
    (no pushdown: at 100 TB, scan-a-decade instead of scan-a-day).
    read_events_raw normalizes either physical unit; rewriting once into
    `event_date=.../` dirs with a physical TIMESTAMP_MICROS column
    (never INT96 — INT96 has no min/max stats, killing pushdown) makes ts
    predicates prune at the reader on EVERY query, and date predicates
    prune whole directories at plan time. This is the one-time ingest
    layout decision a production events table makes anyway.

    Partition GRANULARITY is adaptive — day, else week, else month —
    chosen so the average partition carries at least
    ``_EVENTS_PARTITION_TARGET_BYTES``: the same rule every production
    partitioned table follows (daily partitions only when a day's volume
    justifies a directory; a 100 TB table always qualifies, a 2 MB test
    table collapses to one dir instead of 30 tiny per-file tasks). The
    chosen unit is recorded in a ``_GRANULARITY`` sidecar so the
    time-range loader can derive correct event_date bounds."""
    src = f"{sf_dir}/events.parquet"

    def build(out: str) -> None:
        prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            raw = read_events_raw(spark, src)
            n_days = raw.select(
                F.countDistinct(F.to_date("ts")).alias("d")
            ).collect()[0]["d"] or 1
            per_day = _source_bytes(src) / n_days
            if per_day >= _EVENTS_PARTITION_TARGET_BYTES:
                gran = "day"
            elif per_day * 7 >= _EVENTS_PARTITION_TARGET_BYTES:
                gran = "week"
            else:
                gran = "month"
            (
                raw.withColumn(
                    "event_date", F.date_trunc(gran, F.col("ts")).cast("date")
                )
                # one shuffle partition (→ one file) per unit, rows sorted
                # by ts inside so row-group min/max intervals are tight
                .repartition(F.col("event_date"))
                .sortWithinPartitions("ts")
                .write.partitionBy("event_date")
                .parquet(out)
            )
            # `out` here is the artifact store's PRIVATE build dir: the
            # sidecar lands before the atomic rename publishes the layout,
            # so no reader can ever see partitioned data without it. A
            # crash on this line leaves only the unpublished build dir
            # (cleaned up / rebuilt), never a sidecar-less layout.
            with open(os.path.join(out, "_GRANULARITY"), "w") as fh:
                fh.write(gran)
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    # v3: adaptive granularity (v2 wrote one dir per day regardless of
    # volume; v1 assumed a nanos source)
    return cache.build("events-daily", "v3",
                       cache.fingerprint(sf_dir, ("events",)), build)[0]


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one catalog table with its declared schema (never inferred)."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # DEFAULT path reads the date-partitioned layout: ts predicates
        # reach parquet (PushedFilters) without opting into
        # load_events_time_range. event_date is dropped to keep the public
        # schema stable; events_with_date() exposes it for explicit
        # partition-pruned queries.
        path = events_partitioned_path(spark, sf_dir)
        df = spark.read.schema(_events_layout_schema()).parquet(path)
        return df.select(*[f.name for f in SCHEMAS["events"].fields])
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def parquet_part_files(path: str) -> list[str]:
    """Every .parquet part file behind ``path`` — a single file, or a
    directory walked RECURSIVELY (Spark part dirs, hive-partitioned
    layouts, nested rewrites), sorted for stable iteration order. The
    one shared lister for footer-level metadata passes; top-level-only
    globs silently miss partitioned layouts (r11 code-review finding)."""
    import os

    if os.path.isdir(path):
        return sorted(
            os.path.join(root, f)
            for root, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")
        )
    return [path]


def parquet_num_rows(sf_dir: str | None, name: str) -> int:
    """Table row count straight from the parquet footers — driver-side
    pyarrow metadata read (~ms), NO Spark job. Operators that size a
    plan parameter from n (the adaptive LSH bits schedule, sample
    rates) were paying a whole count() job (~0.2 s fixed floor on this
    VM) for a number the footer already holds. Footers are O(files),
    not O(rows), so this stays cheap at 100 TB file counts; falls back
    over directories by summing per-file footers."""
    import pyarrow.parquet as pq

    path = f"{sf_dir or DEFAULT_SF_DIR}/{name}.parquet"
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in parquet_part_files(path)
    )


def query_vectors(sf_dir: str | None) -> list[tuple[int, list[float]]]:
    """The similarity family's shared query set: ``(vec_id, embedding)``
    for the ``embeddings`` rows with ``vec_id < 5``, sorted by vec_id.
    A driver-side pyarrow read whose ``vec_id`` filter prunes on the
    row-group stats, NO Spark job (~6 ms, against ~90 ms for the warm
    collect it replaces). O(files) like the footer reads above. The
    float32 values widen exactly to Python floats, the same values a
    Spark collect returns."""
    import pyarrow.dataset as ds

    path = f"{sf_dir or DEFAULT_SF_DIR}/embeddings.parquet"
    t = ds.dataset(parquet_part_files(path), format="parquet").to_table(
        columns=["vec_id", "embedding"], filter=ds.field("vec_id") < 5)
    return sorted(zip(t.column("vec_id").to_pylist(),
                      t.column("embedding").to_pylist()))


def adaptive_bucket_count(spark: SparkSession, *paths: str) -> int:
    """Bucket count for a (set of co-bucketed) table(s): at least the
    cluster's parallelism (a bucketed scan runs one task per bucket —
    fewer buckets than cores idles the rest, the cap the round-4 sf1
    sweep measured at fixed 16), and at least one bucket per ~128 MiB of
    the largest member (files stay task-sized). Both sides of a
    co-located join MUST share the count — pass all paths together."""
    biggest = max(_source_bytes(p) for p in paths)
    return max(
        spark.sparkContext.defaultParallelism,
        (biggest + (128 << 20) - 1) // (128 << 20),
    )


def bucketed_fact_tables(spark: SparkSession, sf_dir: str | None = None,
                         n_buckets: int | None = None) -> tuple[str, str]:
    """Co-located fact pair for the recurring orderkey join: lineitem
    bucketed on l_orderkey and orders on o_orderkey, same bucket count —
    the li⋈o join then plans with ZERO shuffle exchange (and, with one
    sorted file per bucket, zero Sort). This is the layout answer to the
    two steepest scalers in BASELINE.md's four-decade table (join_two_hop
    2.16×/decade, tpch_q5 1.82×): the per-query shuffle of both fact sides
    becomes a one-time write. 16 buckets fits local[32] at test SFs; a
    production 100 TB table would use thousands (buckets ≈ data /
    target-partition-size), set once at ingest.

    Returns (lineitem_table_name, orders_table_name) — session-catalog
    names; data dirs are artifact-store entries per (source fingerprint,
    n_buckets), so rebuilds only happen when the testdata changes."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if n_buckets is None:
        n_buckets = adaptive_bucket_count(
            spark, f"{sf_dir}/lineitem.parquet", f"{sf_dir}/orders.parquet"
        )
    return tuple(
        _bucketed_table(spark, load_table(spark, tbl, sf_dir), f"bkt-{tbl}",
                        sf_dir, tbl, col, n_buckets)
        for tbl, col in (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))
    )


def _bucketed_table(spark: SparkSession, df: DataFrame, kind: str,
                    sf_dir: str, src_table: str, bucket_col: str,
                    n_buckets: int, partition_col: str | None = None) -> str:
    """Declare a bucketed+sorted (optionally also partitioned) EXTERNAL
    parquet table over an artifact-store entry, writing the data first
    if the entry is not published yet. Returns the session-catalog name.

    Bucket metadata lives in the session catalog, not in the files — so
    the data is written once (into the store's private build dir, under
    a throwaway table name that is dropped before the dir is published)
    and every session then declares the same CLUSTERED BY spec over the
    published LOCATION (a metadata-only CREATE TABLE; Spark trusts the
    spec because the bucket id is encoded in the file names its own
    bucketed write produced). A build that crashes halfway publishes
    nothing, so it can never be declared as a table.

    The pre-write ``repartition(n_buckets, bucket_col)`` matters twice:
    DataFrame hash-repartitioning and bucketing use the same
    pmod(murmur3) assignment, so each task holds exactly one bucket and
    writes exactly ONE file per bucket — the condition under which Spark
    honors SORTED BY and elides the join's per-partition Sort as well as
    its Exchange."""
    version = f"v1:{n_buckets}"
    fp = cache.fingerprint(sf_dir, (src_table,))
    name = "etlbs_" + os.path.basename(
        cache.path(kind, version, fp)).replace("-", "_")
    if spark.catalog.tableExists(name):
        return name

    def write(out: str) -> None:
        tmp_name = f"{name}_build{os.getpid()}"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")  # an earlier crash
        w = df.repartition(n_buckets, F.col(bucket_col)).write
        if partition_col:
            w = w.partitionBy(partition_col)
        (
            w.bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
            .option("path", out).saveAsTable(tmp_name)
        )
        spark.sql(f"DROP TABLE {tmp_name}")  # external: files stay

    loc, _ = cache.build(kind, version, fp, write)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = ", ".join(f"{c} {t}" for c, t in types.items()
                     if c != partition_col)
    parts = (f"PARTITIONED BY ({partition_col} {types[partition_col]}) "
             if partition_col else "")
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING parquet {parts}"
        f"CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
    )
    if partition_col:
        spark.sql(f"MSCK REPAIR TABLE {name}")
    return name


def bucketed_events_table(spark: SparkSession, sf_dir: str | None = None,
                          n_buckets: int | None = None) -> str:
    """Events bucketed on user_id: the keyed-window family (latest-per-
    user, sessionize, z-score, rolling frames) partitions by user_id on
    EVERY query — with this layout the window's required distribution is
    already satisfied by the scan and the per-query exchange disappears
    (only the per-partition sort remains, which is local and pipelined).
    Same one-time-write amortization argument as bucketed_fact_tables;
    at 100 TB the events table is bucketed at ingest and the whole
    per-user analytics family becomes shuffle-free."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if n_buckets is None:
        n_buckets = adaptive_bucket_count(spark, f"{sf_dir}/events.parquet")
    return _bucketed_table(spark, load_table(spark, "events", sf_dir),
                           "bkt-events", sf_dir, "events", "user_id",
                           n_buckets)


def event_date_bounds(spark: SparkSession, sf_dir: str | None,
                      lo: str | None = None,
                      hi: str | None = None) -> tuple:
    """Derived event_date partition bounds for a ts range over the events
    layouts — the granularity-slop rule in one public place: the lower
    bound widens by one layout granularity unit (+ a day of slop), the
    upper by one day, so truncation/boundary effects can only OVER-widen
    (extra directories scanned, rows re-filtered by the exact ts
    predicate — never dropped). Returns (lo_date | None, hi_date | None)
    for use as event_date predicates next to the exact ts bounds."""
    import datetime as _dt

    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = events_partitioned_path(spark, sf_dir)
    slop = _dt.timedelta(days=_GRAN_SLOP_DAYS[_events_granularity(path)])
    lo_d = (_dt.datetime.fromisoformat(lo) - slop).date() if lo else None
    hi_d = (
        (_dt.datetime.fromisoformat(hi) + _dt.timedelta(days=1)).date()
        if hi else None
    )
    return lo_d, hi_d


def partitioned_bucketed_events_table(spark: SparkSession,
                                      sf_dir: str | None = None,
                                      n_buckets: int | None = None) -> str:
    """THE production events layout, both axes at once: partitioned by
    event_date (plan-time directory pruning for time predicates, same
    granularity machinery as the date-partitioned layout) AND bucketed
    on user_id (keyed windows/aggs/joins consume the scan's hash
    partitioning — no per-query shuffle). A time-sliced per-user
    aggregation over this table plans PartitionFilters + zero
    exchanges, which is exactly the dashboard/metrics query shape at
    100 TB: scan two days of directories, aggregate per user without
    moving a row."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if n_buckets is None:
        n_buckets = adaptive_bucket_count(spark, f"{sf_dir}/events.parquet")
    return _bucketed_table(spark, events_with_date(spark, sf_dir),
                           "pbkt-events", sf_dir, "events", "user_id",
                           n_buckets, partition_col="event_date")


def events_with_date(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Events INCLUDING the event_date partition column — filters on it
    prune whole day-directories at plan time (PartitionFilters)."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = events_partitioned_path(spark, sf_dir)
    return spark.read.schema(_events_layout_schema()).parquet(path)


class Catalog:
    """Bound catalog: a SparkSession + a scale-factor directory.

    ``tbl('nation')`` returns the dimension with a broadcast hint applied so
    downstream equi-joins plan as broadcast hash joins without per-call-site
    hints.
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir or DEFAULT_SF_DIR

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, name, self.sf_dir)

    def tbl(self, name: str) -> DataFrame:
        df = self.table(name)
        if name in DIM_TABLES:
            df = F.broadcast(df)
        return df

    def register_views(self) -> None:
        """Register every table as a temp view for the raw-SQL passthrough
        surface (reference src/routes/setup.ts:12-15 `$executeRawUnsafe`)."""
        for name in TABLES:
            self.table(name).createOrReplaceTempView(name)


def load_events_time_range(spark: SparkSession, sf_dir: str | None,
                           lo: str | None = None,
                           hi: str | None = None) -> DataFrame:
    """Events scan with a time-range predicate on BOTH pruning axes of the
    partitioned layout: the exact ts bounds push to parquet row-group
    min/max, and derived event_date bounds (one granularity unit + a day of
    slop below, so truncation/timezone/boundary effects can never drop
    rows) prune whole directories at plan time. At 100 TB — where the
    layout is always daily — a two-day query plans two directories, not a
    decade of them."""
    import datetime as _dt

    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = events_partitioned_path(spark, sf_dir)
    df = spark.read.schema(_events_layout_schema()).parquet(path)
    d_lo, d_hi = event_date_bounds(spark, sf_dir, lo, hi)

    if lo is not None:
        df = df.filter(
            (F.col("event_date") >= F.lit(d_lo))
            & (F.col("ts") >= F.lit(_dt.datetime.fromisoformat(lo)))
        )
    if hi is not None:
        df = df.filter(
            (F.col("event_date") <= F.lit(d_hi))
            & (F.col("ts") < F.lit(_dt.datetime.fromisoformat(hi)))
        )
    return df.drop("event_date")
