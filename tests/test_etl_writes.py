"""Tests for the ETL building blocks beside the manifest table format:
SCD2 merge, incremental view maintenance, constraint audits, the
persisted bloom index and dynamic-partition backfill."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_scd2_merge_invariants(spark, cat):
    """Per key: exactly one current row; history rows have valid_to set;
    running the merge twice with the same batch adds no new versions."""
    from etl_backend_spark.etl.scd import scd2_merge

    c = cat.table("customer")
    current = c.select(
        "c_custkey", "c_mktsegment",
        F.to_timestamp(F.lit("2020-01-01")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    incoming = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, "MACHINERY2")
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
    )
    ts = F.to_timestamp(F.lit("2024-06-01"))
    once = scd2_merge(current, incoming, "c_custkey", ["c_mktsegment"], ts)

    per_key_current = (
        once.filter(F.col("is_current")).groupBy("c_custkey").count()
        .filter(F.col("count") != 1)
    )
    assert per_key_current.count() == 0
    assert once.filter(~F.col("is_current") & F.col("valid_to").isNull()).count() == 0

    n_changed = c.filter((F.col("c_custkey") % 10 == 0)
                         & (F.col("c_mktsegment") != "MACHINERY2")).count()
    assert once.count() == c.count() + n_changed

    # idempotence: same batch again changes nothing
    twice = scd2_merge(once, incoming, "c_custkey", ["c_mktsegment"],
                       F.to_timestamp(F.lit("2024-07-01")))
    assert twice.count() == once.count()


def test_incremental_view_equals_full_recompute(spark, cat):
    """Applying batches incrementally == aggregating everything at once,
    for count/sum/min/max per key (the conversation-touch generalization)."""
    from etl_backend_spark.etl.incremental import aggregate_state, merge_delta

    ev = cat.table("events")
    aggs = [("event_id", "count", "n"), ("value", "sum", "sv"),
            ("ts", "min", "first_ts"), ("ts", "max", "last_ts")]

    b0 = ev.filter(F.col("event_id") % 3 == 0)
    b1 = ev.filter(F.col("event_id") % 3 == 1)
    b2 = ev.filter(F.col("event_id") % 3 == 2)

    state = aggregate_state(b0, ["user_id"], aggs)
    state = merge_delta(state, b1, ["user_id"], aggs)
    state = merge_delta(state, b2, ["user_id"], aggs)

    full = aggregate_state(ev, ["user_id"], aggs)
    inc = {r.user_id: (r.n, round(r.sv, 6), r.first_ts, r.last_ts)
           for r in state.collect()}
    exp = {r.user_id: (r.n, round(r.sv, 6), r.first_ts, r.last_ts)
           for r in full.collect()}
    assert inc == exp


def test_incremental_merge_handles_new_keys(spark):
    from etl_backend_spark.etl.incremental import aggregate_state, merge_delta

    base = spark.createDataFrame([(1, 10.0), (1, 20.0)], "k long, v double")
    delta = spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, v double")
    aggs = [("v", "count", "n"), ("v", "sum", "s"), ("v", "max", "mx")]
    state = merge_delta(aggregate_state(base, ["k"], aggs), delta, ["k"], aggs)
    got = {r.k: (r.n, r.s, r.mx) for r in state.collect()}
    assert got == {1: (3, 35.0, 20.0), 2: (1, 7.0, 7.0)}


def test_constraint_checkers_find_planted_violations(spark):
    """Each checker against a frame with KNOWN violations — the audit
    must count exactly the planted rows, and clean data must audit clean."""
    from etl_backend_spark.etl import constraints as C

    df = spark.createDataFrame(
        [(1, 10, "O"), (2, 10, "O"), (3, None, "O"),
         (4, 99, "X"), (4, 11, None)],
        "id long, fk long, status string",
    )
    parent = spark.createDataFrame([(10,), (11,)], "pk long")

    dups = C.unique_violations(df, ["id"]).collect()
    assert [(r.id, r.n) for r in dups] == [(4, 2)]
    orphans = C.fk_orphans(df, "fk", parent, "pk")
    assert sorted(r.id for r in orphans.collect()) == [4]  # null fk skipped
    assert C.enum_violations(df, "status", ["O"]).count() == 1  # null skipped
    nulls = {r.rule: r.n_violations
             for r in C.null_violations(df, ["fk", "status"]).collect()}
    assert nulls == {"not_null(fk)": 1, "not_null(status)": 1}
    summary = C.summarize([
        ("u", C.unique_violations(df, ["id"])),
        ("fk", C.fk_orphans(df, "fk", parent, "pk")),
    ]).collect()
    assert {r.rule: r.n_violations for r in summary} == {"u": 1, "fk": 1}


def test_bloom_build_lookup_split_idempotent_and_identical(spark):
    """The persisted bloom index (VERDICT r5 task 3): repeat builds hit
    the fingerprint cache instead of rewriting, and the lookup-only key
    returns rows bit-identical to a plain filter on the source."""
    from etl_backend_spark.registry import QUERIES
    from etl_backend_spark.sources.catalog import Catalog
    from tests.conftest import SF_DIR

    b1 = QUERIES["etl_bloom_build"](spark, SF_DIR).collect()[0]
    b2 = QUERIES["etl_bloom_build"](spark, SF_DIR).collect()[0]
    assert b2.reused                      # second build reopened, not rewrote
    assert (b2.n_files, b2.rows) == (b1.n_files, b1.rows)

    got = sorted(map(tuple,
                     QUERIES["etl_bloom_pruned_read"](spark, SF_DIR).collect()))
    want = sorted(map(tuple, (
        Catalog(spark, SF_DIR).table("orders")
        .filter(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_custkey", "o_totalprice").collect()
    )))
    assert got == want and len(got) > 0


def test_backfill_overwrites_only_the_target_day_partition(spark, tmp_path):
    """Dynamic partition overwrite contract: the backfill write replaces
    exactly the corrupted day's directory — every other day partition's
    files stay byte-identical in place — and heals the corrupted counts."""
    import os

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")

    def rollup(df):
        return df.groupBy(F.col("user_id"), day.alias("d")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )

    out = str(tmp_path / "rollup")
    bad_day = ev.select(day.alias("d")).agg(F.min("d")).collect()[0][0]
    corrupted = rollup(
        ev.filter(~((day == bad_day) & (F.col("event_type") == "click")))
    )
    corrupted.write.mode("overwrite").partitionBy("d").parquet(out)

    correct = {(r.user_id, r.d): (r.n, r.sum_value)
               for r in rollup(ev).collect()}
    pre = {(r.user_id, r.d): (r.n, r.sum_value)
           for r in spark.read.parquet(out)
           .select("user_id", F.col("d").cast("string").alias("d"),
                   "n", "sum_value").collect()}
    assert pre != correct  # the corruption is real

    def snapshot():
        files = {}
        for root, _dirs, names in os.walk(out):
            for nm in names:
                if nm.endswith(".parquet") and f"d={bad_day}" not in root:
                    p = os.path.join(root, nm)
                    st = os.stat(p)
                    files[p] = (st.st_size, st.st_mtime_ns)
        return files

    before = snapshot()
    (
        rollup(ev.filter(day == bad_day))
        .write.mode("overwrite").partitionBy("d")
        .option("partitionOverwriteMode", "dynamic").parquet(out)
    )
    assert snapshot() == before  # untouched partitions byte-identical
    post = {(r.user_id, r.d): (r.n, r.sum_value)
            for r in spark.read.parquet(out)
            .select("user_id", F.col("d").cast("string").alias("d"),
                    "n", "sum_value").collect()}
    assert post == correct
