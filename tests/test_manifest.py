"""Manifest table format: file-level commits, stats pruning, deletion-vector
deletes, compaction that folds them, time-travel pointer."""

from __future__ import annotations

import base64
import uuid

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine, initialize, invariant, precondition, rule,
    run_state_machine_as_test,
)
from pyspark.sql import functions as F

from etl_backend_spark.etl.manifest import ManifestTable, clone_shallow, vacuum
from etl_backend_spark.sources.catalog import Catalog
from tests.conftest import SF_DIR


@pytest.fixture()
def mtable(spark, tmp_path):
    cat = Catalog(spark, SF_DIR)
    t = ManifestTable(spark, str(tmp_path), "orders", ["o_orderkey", "o_totalprice"])
    # create from key-ranged chunks so file stats intervals are disjoint
    o = cat.table("orders")
    t.create(o.filter(F.col("o_orderkey") <= 500).repartition(2))
    t.append(o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1000)).repartition(2))
    t.append(o.filter(F.col("o_orderkey") > 1000).repartition(2))
    return t, o


def test_manifest_read_roundtrip(mtable):
    t, o = mtable
    assert t.read().count() == o.count()
    assert sum(e["rows"] for e in t.files()) == o.count()


def test_manifest_stats_pruning_skips_files(mtable):
    t, o = mtable
    df, skipped = t.read_pruned("o_orderkey", lo=1200, hi=None)
    assert skipped >= 4  # both chunks of the first two key ranges
    # Spark genuinely opens fewer files, not just a smaller logical list
    assert len(df.inputFiles()) == len(t.files()) - skipped
    got = df.filter(F.col("o_orderkey") >= 1200).count()
    assert got == o.filter(F.col("o_orderkey") >= 1200).count()


def test_manifest_delete_carries_disjoint_files(mtable):
    """A bounded delete_dv marks rows only in the files whose stats meet
    [lo, hi]: a predicate row in a stats-disjoint file stays, and the
    entry list is unchanged (no file is rewritten)."""
    t, o = mtable
    before_paths = [e["path"] for e in t.files()]
    res = t.delete_dv(
        (F.col("o_orderkey") <= 100) | (F.col("o_orderkey") > 1400),
        "o_orderkey", lo=1, hi=100,
    )
    n_low = o.filter(F.col("o_orderkey") <= 100).count()
    assert res["marked"] == n_low > 0
    assert [e["path"] for e in t.files()] == before_paths
    after = t.read()
    assert after.filter(F.col("o_orderkey") <= 100).count() == 0
    assert after.filter(F.col("o_orderkey") > 1400).count() == \
        o.filter(F.col("o_orderkey") > 1400).count() > 0
    assert after.count() == o.count() - n_low


def test_manifest_compaction_reduces_files(mtable):
    t, o = mtable
    n_before = len(t.files())
    res = t.compact(target_rows=10_000)
    assert res["rewritten"] == n_before  # all our chunks are small
    assert len(t.files()) < n_before
    assert t.read().count() == o.count()  # content preserved


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """Z-ordered layout: manifest stats prune files for range predicates on
    EITHER interleaved column; a single-column sort only prunes its own."""
    from etl_backend_spark.sources.layout import zorder_sort

    cat = Catalog(spark, SF_DIR)
    o = cat.table("orders")

    zt = ManifestTable(spark, str(tmp_path), "z_orders", ["o_custkey", "o_orderkey"])
    zt.create(zorder_sort(o, "o_custkey", "o_orderkey", n_files=8))

    _, skipped_cust = zt.read_pruned("o_custkey", lo=None, hi=20)
    _, skipped_order = zt.read_pruned("o_orderkey", lo=None, hi=200)
    assert skipped_cust > 0
    assert skipped_order > 0

    # correctness: pruned read returns exactly the predicate's rows
    df, _ = zt.read_pruned("o_custkey", lo=None, hi=20)
    got = df.filter(F.col("o_custkey") <= 20).count()
    assert got == o.filter(F.col("o_custkey") <= 20).count()


def test_manifest_vacuum_reclaims_orphans(mtable):
    import os

    from etl_backend_spark.etl.manifest import vacuum

    t, o = mtable
    t.delete_dv(F.col("o_orderkey").between(1, 100), "o_orderkey", lo=1, hi=100)
    t.compact()  # rewrites the small and DV'd files, orphaning the old ones
    n = t.read().count()
    res = vacuum(t)
    assert res["data_files"] > 0 and res["manifests"] > 0
    assert t.read().count() == n  # live data intact
    on_disk = sum(
        len(files) for _, _, files in os.walk(t.data_dir)
    )
    assert on_disk >= len(t.files())  # only live (+ _SUCCESS markers) remain


def test_manifest_commit_conflict_detected(mtable, spark):
    """Two writers deriving from the same snapshot: the second commit must
    fail with CommitConflict instead of silently dropping the first."""
    from etl_backend_spark.etl.manifest import CommitConflict

    t, o = mtable
    extra = o.limit(5)
    stale_parent = t._live_id()
    entries = t.files() + t._write_files(extra)
    t.append(extra)  # a competing writer lands first
    with pytest.raises(CommitConflict):
        t._commit(entries, parent=stale_parent)


def test_manifest_delete_retains_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate evaluates to NULL are
    kept, not deleted."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 99.0)], "k LONG, v DOUBLE"
    )
    t = ManifestTable(spark, str(tmp_path), "nulls", ["k"])
    t.create(df)
    t.delete_dv(F.col("v") > 50.0, "k")
    kept = sorted(r.k for r in t.read().collect())
    assert kept == [1, 2]  # k=2 has NULL predicate -> retained


def test_manifest_upsert_file_granular(mtable, spark):
    """MERGE: matched keys replaced, new keys inserted, disjoint files
    carried by reference (no rewrite)."""
    t, o = mtable
    before_paths = {e["path"] for e in t.files()}
    # key -1 cannot exist -> a genuine insert that keeps incoming's stats
    # range at [-1, 50], so interval pruning still carries key-disjoint files
    assert o.filter(F.col("o_orderkey") == -1).count() == 0
    incoming = (
        o.filter(F.col("o_orderkey").between(1, 50))
        .unionByName(o.limit(1).withColumn("o_orderkey", F.lit(-1).cast("long")))
        .withColumn("o_totalprice", F.lit(0.0))
    )
    res = t.upsert(incoming, "o_orderkey")
    assert res["carried"] >= 4  # key-disjoint chunks untouched
    assert ({e["path"] for e in t.files()} & before_paths)
    after = t.read()
    assert after.count() == o.count() + 1  # replaced, not duplicated
    assert (
        after.filter(F.col("o_orderkey").between(1, 50))
        .agg(F.sum("o_totalprice")).collect()[0][0] == 0.0
    )
    assert after.filter(F.col("o_orderkey") == -1).count() == 1


def test_manifest_time_travel(mtable, spark):
    t, o = mtable
    n0 = t.read().count()
    past = t._live_id()
    t.delete_dv(F.col("o_orderkey") <= 500, "o_orderkey", lo=1, hi=500)
    assert t.read().count() < n0
    hist = t.history()
    assert hist[0] == t._live_id() and past in hist
    assert t.read_at(past).count() == n0


def test_manifest_delete_to_empty_file_set(spark, tmp_path):
    """Compacting a table whose every row a DV deletes commits an empty
    rewrite cleanly (no schema-inference crash on a part-less directory)."""
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "wipe", ["k"])
    t.create(df)
    t.delete_dv(F.col("k") >= 0, "k")
    t.compact()
    assert t.files() == []


def test_manifest_empty_table_readable(spark, tmp_path):
    """After deleting every row and compacting, read/read_pruned/
    read_pruned_bloom/read_at and a shallow clone still return the
    declared schema: the schema recorded in every manifest covers the
    no-files state, with no sidecar file beside the table (deletion
    vectors live in the manifest entries, so there is no ``dv`` dir)."""
    import os

    layout = {"_CURRENT", "_CURRENT.lock", "data", "manifest"}

    from etl_backend_spark.etl.manifest import clone_shallow

    df = spark.createDataFrame([(1, 1.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "empty", ["k"], bloom_col="k")
    t.create(df)
    pre = t._live_id()
    t.delete_dv(F.col("k") >= 0, "k")
    t.compact()
    emptied = t._live_id()
    assert t.files() == []
    assert set(os.listdir(t.dir)) == layout
    assert t.read().count() == 0
    assert t.read().schema == df.schema
    got, skipped = t.read_pruned("k", lo=100)
    assert got.count() == 0
    got, skipped = t.read_pruned_bloom(1)
    assert got.count() == 0 and got.schema == df.schema
    assert t.read_at(emptied).schema == df.schema
    assert t.read_at(pre).count() == 1
    clone = clone_shallow(t, str(tmp_path), "empty_clone")
    assert set(os.listdir(clone.dir)) == layout
    assert clone.read().schema == df.schema
    assert clone.read().count() == 0
    t.append(df)  # still writable after empty state
    assert t.read().count() == 1


def test_manifest_crashed_holder_does_not_wedge(spark, tmp_path):
    """A lock file left by a crashed committer never blocks: the lock is an
    OS flock released by the kernel when the holder's fd closed (crash
    included), so a leftover lock FILE carries no lock. No staleness
    heuristic, hence no reclaim TOCTOU where a fresh holder's lock could
    be deleted out from under it."""
    import os

    df = spark.createDataFrame([(1, 1.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "locked", ["k"])
    t.create(df)
    lock = t._pointer() + ".lock"
    assert os.path.exists(lock)  # left over from create's commit — unheld
    t.append(df)  # must proceed immediately
    assert t.read().count() == 2


def test_manifest_live_lock_conflicts_fast(spark, tmp_path):
    """A HELD lock (live committer) times out to CommitConflict — and the
    loser's never-committed manifest file is cleaned up, not orphaned."""
    import fcntl
    import os

    from etl_backend_spark.etl.manifest import CommitConflict

    df = spark.createDataFrame([(1, 1.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "busy", ["k"])
    t.create(df)
    fd = os.open(t._pointer() + ".lock", os.O_CREAT | os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)  # simulate a live committer mid-swap
    manifests_before = set(os.listdir(t.manifest_dir))
    try:
        with pytest.raises(CommitConflict):
            t._commit(t.files(), parent=t._live_id())
    finally:
        os.close(fd)
    assert set(os.listdir(t.manifest_dir)) == manifests_before


def test_append_once_replay_is_noop(spark, tmp_path):
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "txn", ["k"])
    t.create(df)
    assert t.append_once(df, txn="b-0") is True
    assert t.read().count() == 4
    assert t.append_once(df, txn="b-0") is False  # replay
    assert t.read().count() == 4
    assert t.append_once(df, txn="b-1") is True
    assert t.read().count() == 6
    # tokens survive further commits (ancestor-set union); the delete
    # matches a row so that it commits
    t.delete_dv(F.col("k") == 1, "k")
    assert t.append_once(df, txn="b-1") is False


def test_stream_into_manifest_exactly_once(spark, tmp_path):
    """availableNow stream into the manifest table; rerunning the drained
    stream (fresh checkpoint, same batch ids) appends nothing."""
    import json as _json

    from etl_backend_spark.streaming import chat_pipeline as cp
    from tests.conftest import SF_DIR

    src = tmp_path / "json"
    src.mkdir()
    ev = Catalog(spark, SF_DIR).table("events").limit(30)
    rows = ev.collect()
    with open(src / "a.json", "w") as f:
        for r in rows:
            d = r.asDict()
            d["ts"] = d["ts"].isoformat() + "Z"
            f.write(_json.dumps(d) + "\n")

    t = ManifestTable(spark, str(tmp_path), "events_m", ["event_id"])
    t.create(spark.read.schema(cp.EVENT_WIRE_SCHEMA).json(str(src)).limit(0))

    stream = cp.read_json_stream(spark, str(src))
    w = cp.stream_into_manifest(stream, t, str(tmp_path / "ck1"))
    cp.run_available_now(w, "m1")
    n = t.read().count()
    assert n == 30

    # a DIFFERENT query (fresh checkpoint = new app id) is NOT deduped —
    # batch ids restart at 0 for every query, so the token must carry the
    # query identity (Delta's txnAppId) or a second stream would be dropped
    stream2 = cp.read_json_stream(spark, str(src))
    w2 = cp.stream_into_manifest(stream2, t, str(tmp_path / "ck2"))
    cp.run_available_now(w2, "m2")
    assert t.read().count() == 2 * n

    # the SAME logical query replayed (stable app id, lost checkpoint) IS
    # deduped: same (app, batch_id) tokens -> exact no-op
    stream3 = cp.read_json_stream(spark, str(src))
    w3 = cp.stream_into_manifest(
        stream3, t, str(tmp_path / "ck3"), txn_app_id="job-A"
    )
    cp.run_available_now(w3, "m3")
    assert t.read().count() == 3 * n
    stream4 = cp.read_json_stream(spark, str(src))
    w4 = cp.stream_into_manifest(
        stream4, t, str(tmp_path / "ck4"), txn_app_id="job-A"
    )
    cp.run_available_now(w4, "m4")
    assert t.read().count() == 3 * n  # replayed app:batch tokens -> no-op


def test_manifest_concurrent_appends_lose_nothing(spark, tmp_path):
    """Two threads appending concurrently with CommitConflict retry: every
    batch lands exactly once (the CAS turns racing commits into retries,
    never lost updates)."""
    import threading

    from etl_backend_spark.etl.manifest import CommitConflict

    df = spark.createDataFrame([(1, 1.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "race", ["k"])
    t.create(df.limit(0))
    errors = []

    def writer(tag):
        try:
            for i in range(5):
                batch = spark.createDataFrame(
                    [(tag * 100 + i, float(i))], "k LONG, v DOUBLE"
                )
                for attempt in range(30):
                    try:
                        t.append_once(batch, txn=f"w{tag}-b{i}")
                        break
                    except CommitConflict:
                        if attempt == 29:
                            raise
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(tag,)) for tag in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    keys = sorted(r.k for r in t.read().collect())
    assert keys == sorted([100 + i for i in range(5)] + [200 + i for i in range(5)])
    # and replaying any token after the dust settles is a no-op
    assert t.append_once(df, txn="w1-b0") is False


def test_manifest_concurrent_upserts_lose_nothing(spark, tmp_path):
    """r13 VERDICT #5 (merge half): two writers UPSERTING concurrently —
    including keys that land in the SAME data file, so both writers
    rewrite the same entries — must converge with no silent lost update:
    the CAS turns the race into a retry, and the retry re-derives its
    rewrite from the WINNER's snapshot. Final state = both writers'
    rows, each key exactly once with its writer's value."""
    import threading

    from etl_backend_spark.etl.manifest import CommitConflict

    base = spark.createDataFrame(
        [(k, 0.0) for k in range(20)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "merge-race", ["k"])
    t.create(base.coalesce(1))  # one file => every upsert rewrites it
    errors = []

    def writer(tag):
        try:
            for i in range(3):
                # writer 1 owns even keys, writer 2 odd — disjoint keys,
                # same physical file
                keys = [k for k in range(20) if k % 2 == (tag % 2)][i::3]
                batch = spark.createDataFrame(
                    [(k, float(tag)) for k in keys], "k LONG, v DOUBLE")
                for attempt in range(30):
                    try:
                        t.upsert(batch, "k")
                        break
                    except CommitConflict:
                        if attempt == 29:
                            raise
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(tag,))
               for tag in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    rows = {r.k: r.v for r in t.read().collect()}
    assert len(rows) == 20  # no duplicated or vanished keys
    assert rows == {k: float(1 if k % 2 == 1 else 2) for k in range(20)}


def test_commit_conflict_discards_loser_batch(mtable, spark):
    """A losing CAS must not leak its data files or manifest: the retry
    rewrites from the caller's df, so the orphaned batch would accumulate
    forever under the stream_into_manifest retry loop."""
    import os

    from etl_backend_spark.etl.manifest import CommitConflict

    t, o = mtable
    extra = o.limit(5)
    stale_parent = t._live_id()
    new = t._write_files(extra)
    loser_dirs = {os.path.dirname(e["path"]) for e in new}
    entries = t.files() + new
    t.append(extra)  # competing writer lands first
    manifests_live = set(os.listdir(t.manifest_dir))
    with pytest.raises(CommitConflict):
        t._commit_or_discard(entries, new, parent=stale_parent)
    assert all(not os.path.isdir(d) for d in loser_dirs)  # batch reclaimed
    assert set(os.listdir(t.manifest_dir)) == manifests_live  # no orphan json
    live_paths = {e["path"] for e in t.files()}
    assert all(os.path.exists(p) for p in live_paths)  # winner intact


def test_upsert_rejects_duplicate_and_null_keys(spark, tmp_path):
    """MERGE requires a unique non-null source key (Delta raises on
    multiple source matches); silent acceptance would land both copies."""
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "dup", ["k"])
    t.create(df)
    dup = spark.createDataFrame([(1, 9.0), (1, 8.0)], "k LONG, v DOUBLE")
    with pytest.raises(ValueError, match="duplicate or NULL"):
        t.upsert(dup, "k")
    withnull = spark.createDataFrame([(None, 9.0), (3, 8.0)], "k LONG, v DOUBLE")
    with pytest.raises(ValueError, match="duplicate or NULL"):
        t.upsert(withnull, "k")
    assert t.read().count() == 2  # table unchanged by the rejected merges


def test_crash_after_data_write_before_commit_replays_exactly_once(
    spark, tmp_path,
):
    """Crash point A: writer dies after its data files land but before
    _commit. The pointer never moved, so the re-run (same txn) must apply
    the batch exactly once; the crashed batch is unreferenced and vacuum
    reclaims it."""
    import os

    from etl_backend_spark.etl.manifest import vacuum

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "crashA", ["k"])
    t.create(df)
    batch = spark.createDataFrame([(10, 1.0)], "k LONG, v DOUBLE")
    t._write_files(batch)  # simulated crash: files written, no commit
    assert t.read().count() == 2  # reader never sees the uncommitted batch
    assert t.append_once(batch, txn="retry-1") is True  # driver re-runs
    assert t.append_once(batch, txn="retry-1") is False
    assert t.read().count() == 3
    assert [r.k for r in t.read().filter(F.col("k") == 10).collect()] == [10]
    res = vacuum(t)
    assert res["data_files"] >= 1  # the crashed batch is reclaimed
    assert t.read().count() == 3


def test_crash_after_manifest_write_before_swap_replays_exactly_once(
    spark, tmp_path, monkeypatch,
):
    """Crash point B: writer dies after its manifest json is durable but
    before the pointer swap. _CURRENT still names the parent, so the
    half-commit is invisible; the re-run applies once and vacuum drops the
    orphaned manifest."""
    import os

    import etl_backend_spark.etl.manifest as mmod
    from etl_backend_spark.etl.manifest import vacuum

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k LONG, v DOUBLE")
    t = ManifestTable(spark, str(tmp_path), "crashB", ["k"])
    t.create(df)
    batch = spark.createDataFrame([(10, 1.0)], "k LONG, v DOUBLE")

    real_replace = os.replace

    def dying_replace(src, dst):
        raise KeyboardInterrupt("simulated kill between manifest and swap")

    monkeypatch.setattr(mmod.os, "replace", dying_replace)
    with pytest.raises(KeyboardInterrupt):
        t.append_once(batch, txn="retry-2")
    monkeypatch.setattr(mmod.os, "replace", real_replace)

    assert t.read().count() == 2  # half-commit invisible
    assert t.append_once(batch, txn="retry-2") is True  # re-run applies
    assert t.append_once(batch, txn="retry-2") is False
    assert t.read().count() == 3
    vacuum(t)
    assert t.read().count() == 3
    # exactly one manifest (the live one) survives vacuum
    assert len(os.listdir(t.manifest_dir)) == 1


# ----------------------------------------------------------- schema evolution

def test_append_rejects_schema_drift_without_evolve(spark, tmp_path):
    o = Catalog(spark, SF_DIR).table("orders").select("o_orderkey", "o_totalprice")
    t = ManifestTable(spark, str(tmp_path), "orders", ["o_orderkey"])
    t.create(o.filter(F.col("o_orderkey") <= 100))
    drifted = o.filter(F.col("o_orderkey") > 100).withColumn(
        "o_channel", F.lit("web")
    )
    with pytest.raises(ValueError, match="evolve=True"):
        t.append(drifted)


def test_additive_evolution_and_snapshot_schemas(spark, tmp_path):
    """ADD COLUMN semantics: old rows read null for the new column, the
    creation snapshot keeps the OLD column set, and a post-evolution
    mutation (a delete across mixed-schema files) must not drop the new
    column."""
    o = Catalog(spark, SF_DIR).table("orders").select("o_orderkey", "o_totalprice")
    t = ManifestTable(spark, str(tmp_path), "orders", ["o_orderkey"])
    base = o.filter(F.col("o_orderkey") <= 100)
    t.create(base)
    n_base = base.count()
    incoming = (
        o.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200))
        .withColumn("o_channel", F.lit("web"))
    )
    n_new = incoming.count()
    t.append(incoming, evolve=True)

    live = t.read()
    assert live.columns == ["o_orderkey", "o_totalprice", "o_channel"]
    assert live.count() == n_base + n_new
    assert live.filter(F.col("o_channel").isNull()).count() == n_base
    assert live.filter(F.col("o_channel") == "web").count() == n_new

    v0 = t.history()[-1]
    snap = t.read_at(v0)
    assert snap.columns == ["o_orderkey", "o_totalprice"]  # pre-evolution
    assert snap.count() == n_base

    # batch MISSING live columns needs no evolve flag at all (Delta
    # semantics: a pre-evolution producer keeps working) — null-filled
    missing = o.filter(F.col("o_orderkey") > 1400).select("o_orderkey")
    t.append(missing)

    # mutation across mixed-schema files keeps the evolved column
    t.delete_dv((F.col("o_orderkey") % 2 == 1), "o_orderkey")
    after = t.read()
    assert after.columns == ["o_orderkey", "o_totalprice", "o_channel"]
    assert after.filter(F.col("o_channel") == "web").count() == \
        incoming.filter(F.col("o_orderkey") % 2 == 0).count()


def test_evolution_survives_compaction(spark, tmp_path):
    o = Catalog(spark, SF_DIR).table("orders").select("o_orderkey", "o_totalprice")
    t = ManifestTable(spark, str(tmp_path), "orders", ["o_orderkey"])
    t.create(o.filter(F.col("o_orderkey") <= 100).repartition(4))
    t.append(
        o.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200))
        .withColumn("o_channel", F.lit("web")).repartition(4),
        evolve=True,
    )
    before = t.read().filter(F.col("o_channel") == "web").count()
    t.compact(target_rows=100_000)
    after = t.read()
    assert after.columns == ["o_orderkey", "o_totalprice", "o_channel"]
    assert after.filter(F.col("o_channel") == "web").count() == before


def test_crash_during_compact_leaves_table_intact(spark, tmp_path, monkeypatch):
    """A compaction that dies between writing its merged files and the
    pointer swap must leave the live table byte-identical; the orphaned
    merge output is reclaimable by vacuum."""
    from etl_backend_spark.etl import manifest as M

    o = Catalog(spark, SF_DIR).table("orders")
    t = ManifestTable(spark, str(tmp_path), "orders", ["o_orderkey"])
    t.create(o.repartition(8))
    before = sorted(e["path"] for e in t.files())
    n_before = t.read().count()

    real_commit = t._commit

    def dying_commit(*a, **k):
        raise RuntimeError("killed before pointer swap")

    monkeypatch.setattr(t, "_commit", dying_commit)
    with pytest.raises(RuntimeError, match="pointer swap"):
        t.compact(target_rows=100_000)
    monkeypatch.setattr(t, "_commit", real_commit)

    # live state untouched
    assert sorted(e["path"] for e in t.files()) == before
    assert t.read().count() == n_before
    # vacuum reclaims the orphaned merge output
    stats = M.vacuum(t)
    assert stats["data_files"] > 0
    assert t.read().count() == n_before  # still intact after vacuum


def test_concurrent_evolution_and_append_converge(spark, tmp_path):
    """Writer A evolves the schema while writer B appends the old column
    set from the SAME snapshot: the CAS rejects the loser, and the retry
    (old-schema batch, no evolve flag) null-fills into the widened
    table — no lost update, no rejected producer."""
    from etl_backend_spark.etl.manifest import CommitConflict

    o = Catalog(spark, SF_DIR).table("orders").select("o_orderkey", "o_totalprice")
    t = ManifestTable(spark, str(tmp_path), "orders", ["o_orderkey"])
    t.create(o.filter(F.col("o_orderkey") <= 100))

    evolved = (
        o.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200))
        .withColumn("o_channel", F.lit("web"))
    )
    old_style = o.filter((F.col("o_orderkey") > 1400))

    # both writers snapshot the same parent: A commits first, B conflicts
    tb = ManifestTable(spark, str(tmp_path), "orders", ["o_orderkey"])
    parent_b, manifest_b = tb._snapshot()
    t.append(evolved, evolve=True)  # writer A wins
    new_b = tb._write_files(old_style)
    with pytest.raises(CommitConflict):
        tb._commit_or_discard(
            manifest_b["entries"] + new_b, new_b, parent=parent_b
        )
    tb.append(old_style)  # B's retry: plain append into the evolved table

    live = t.read()
    assert live.columns == ["o_orderkey", "o_totalprice", "o_channel"]
    assert live.count() == (
        o.filter(F.col("o_orderkey") <= 100).count()
        + evolved.count()
        + old_style.count()
    )
    # B's rows landed with the new column null-filled
    assert live.filter(
        (F.col("o_orderkey") > 1400) & F.col("o_channel").isNull()
    ).count() == old_style.count()


def test_append_rejects_type_drift(spark, tmp_path):
    """A batch column sharing a live column's name with an incompatible
    type must fail AT WRITE TIME — not land and surface later as a parquet
    conversion error on a declared-schema read."""
    t = ManifestTable(spark, str(tmp_path), "t", ["k"])
    t.create(spark.createDataFrame([(1, 10.5)], "k bigint, v double"))
    bad = spark.createDataFrame([(2, "oops")], "k bigint, v string")
    with pytest.raises(ValueError, match="type mismatch.*v.*string.*double"):
        t.append(bad)
    # evolve=True does not bless type CHANGES either (additive only)
    with pytest.raises(ValueError, match="type mismatch"):
        t.append(bad, evolve=True)
    assert t.read().count() == 1  # nothing committed


def test_append_widens_lossless_numeric_types(spark, tmp_path):
    """int -> bigint and float -> double batch columns upcast silently
    (lossless); the stored file carries the LIVE types so declared-schema
    reads never hit a parquet type conflict."""
    t = ManifestTable(spark, str(tmp_path), "t", ["k"])
    t.create(spark.createDataFrame([(1, 1.5)], "k bigint, v double"))
    t.append(spark.createDataFrame([(2, 2.5)], "k int, v float"))
    got = t.read().orderBy("k")
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "bigint", "double"]
    assert [(r.k, r.v) for r in got.collect()] == [(1, 1.5), (2, 2.5)]


def test_upsert_applies_align_contract(spark, tmp_path):
    """upsert rides _align_to_live like append: extra columns raise
    loudly (previously written as-is and invisible on declared-schema
    reads), missing columns null-fill, type drift raises."""
    t = ManifestTable(spark, str(tmp_path), "t", ["k"])
    t.create(spark.createDataFrame([(1, "a", 10)], "k bigint, s string, v bigint"))
    with pytest.raises(ValueError, match="extra columns.*junk"):
        t.upsert(spark.createDataFrame([(1, "b", 1, 9)],
                                       "k bigint, s string, junk int, v bigint"),
                 key="k")
    with pytest.raises(ValueError, match="type mismatch"):
        t.upsert(spark.createDataFrame([(1, 2.5, 9)],
                                       "k bigint, s double, v bigint"), key="k")
    # missing column null-fills and the merge still lands
    t.upsert(spark.createDataFrame([(1, "b"), (2, "c")], "k bigint, s string"),
             key="k")
    got = {r.k: (r.s, r.v) for r in t.read().collect()}
    assert got == {1: ("b", None), 2: ("c", None)}


def test_bloom_prunes_unsorted_point_lookup(spark, tmp_path):
    """The bloom prune works exactly where zone maps fail: an UNSORTED
    layout gives every file a [min,max] interval spanning the whole key
    domain (min/max skips nothing), yet a point lookup skips most files
    via the per-file bloom — and returns exactly the right rows."""
    cat = Catalog(spark, SF_DIR)
    # shuffle rows so each file's o_orderkey range spans ~everything
    o = cat.table("orders").repartition(8)

    t = ManifestTable(spark, str(tmp_path), "bloom_orders",
                      ["o_orderkey"], bloom_col="o_orderkey")
    t.create(o)

    key = o.limit(1).collect()[0].o_orderkey
    _, skipped_minmax = t.read_pruned("o_orderkey", lo=key, hi=key)
    df, skipped_bloom = t.read_pruned_bloom(key)
    assert skipped_minmax == 0          # zone maps are useless here
    assert skipped_bloom > 0            # blooms are not
    got = df.filter(F.col("o_orderkey") == key).count()
    want = cat.table("orders").filter(F.col("o_orderkey") == key).count()
    assert got == want > 0
    # a definitely-absent key skips EVERY file
    _, skipped_all = t.read_pruned_bloom(-987654321)
    assert skipped_all == len(t.files())


def test_bloom_positions_python_matches_spark(spark):
    """The probe side recomputes write-side positions bit-for-bit: one
    Spark job checks 20 values against the pure-Python twin."""
    from etl_backend_spark.etl.manifest import _bloom_pos, bloom_positions

    vals = [0, 1, 42, 4242, 999999, -7] + list(range(100, 114))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = df.select(
        "v", *[_bloom_pos("v", i, 8192).alias(f"p{i}") for i in range(4)]
    ).collect()
    for r in rows:
        assert [r.p0, r.p1, r.p2, r.p3] == bloom_positions(r.v, 4, 8192)


def test_bloom_probe_uses_written_geometry(spark, tmp_path):
    """A reader opened with DIFFERENT bloom geometry than the writer must
    probe each entry with the geometry the file was WRITTEN with (m from
    the stored bit-array length, k from the entry) — probing mod the wrong
    m turns real hits into definitive misses and silently drops files that
    DO contain the value (ADVICE r5, medium)."""
    o = Catalog(spark, SF_DIR).table("orders").repartition(8)
    writer = ManifestTable(spark, str(tmp_path), "geom", ["o_orderkey"],
                           bloom_col="o_orderkey", bloom_bits=65536)
    writer.create(o)
    key = o.limit(1).collect()[0].o_orderkey
    want = o.filter(F.col("o_orderkey") == key).count()

    # reopen with the 8192 default — entry geometry must win
    reader = ManifestTable(spark, str(tmp_path), "geom", ["o_orderkey"],
                           bloom_col="o_orderkey")
    df, skipped = reader.read_pruned_bloom(key)
    got = df.filter(F.col("o_orderkey") == key).count()
    assert got == want > 0   # no silently-pruned files
    assert skipped > 0       # and the bloom still prunes
    # absent key: every entry skipped under the written geometry too
    _, skipped_all = reader.read_pruned_bloom(-123456789)
    assert skipped_all == len(reader.files())


def test_bloom_entry_without_recorded_k_raises(spark, tmp_path):
    """Probe geometry is read from the entry only: an entry whose bloom
    lacks ``k`` raises instead of being probed with the class default."""
    df = spark.createDataFrame([(i,) for i in range(20)], "k LONG")
    t = ManifestTable(spark, str(tmp_path), "nok", ["k"], bloom_col="k")
    t.create(df.repartition(2))
    parent, manifest = t._snapshot()
    entries = [dict(e, bloom={f: v for f, v in e["bloom"].items() if f != "k"})
               for e in manifest["entries"]]
    t._commit(entries, parent=parent)
    with pytest.raises(KeyError):
        t.read_pruned_bloom(3)


def test_pruned_reads_take_one_snapshot(spark, tmp_path):
    """read_pruned and read_pruned_bloom read entries (and the deletion
    vectors they carry) from ONE manifest: a compact_dv committing right
    after the reader loads its snapshot must not bring the deleted key
    back."""
    o = Catalog(spark, SF_DIR).table("orders")
    t = ManifestTable(spark, str(tmp_path), "snap", ["o_orderkey"],
                      bloom_col="o_orderkey")
    t.create(o.repartition(4))
    writer = ManifestTable(spark, str(tmp_path), "snap", ["o_orderkey"],
                           bloom_col="o_orderkey")
    keys = [r.o_orderkey for r in o.select("o_orderkey").limit(2).collect()]

    def compact_after_first_load(table):
        real = table._manifest_at
        fired = []

        def once(mid):
            m = real(mid)
            if not fired:
                fired.append(mid)
                writer.compact_dv()  # commits between reader pointer reads
            return m

        table._manifest_at = once

    for key, read in zip(keys, (lambda k: t.read_pruned("o_orderkey", k, k),
                                t.read_pruned_bloom)):
        assert writer.delete_dv(F.col("o_orderkey") == key)["marked"] == 1
        compact_after_first_load(t)
        try:
            df, _ = read(key)
            got = df.filter(F.col("o_orderkey") == key).count()
        finally:
            del t._manifest_at
        assert not any("dv" in e for e in writer.files())  # compaction landed
        assert got == 0


def test_restore_makes_past_snapshot_live_again(spark, tmp_path):
    """RESTORE: after a delete, restoring the pre-delete manifest brings
    the data back via a NEW forward commit (history intact, zero data
    I/O), and restore refuses when the target's files were vacuumed."""
    import pytest

    from etl_backend_spark.etl.manifest import vacuum

    o = Catalog(spark, SF_DIR).table("orders").limit(100)
    t = ManifestTable(spark, str(tmp_path), "r_orders", ["o_orderkey"])
    t.create(o)
    before = t._live_id()
    n0 = t.read().count()
    t.delete_dv(F.col("o_orderkey") >= 0, "o_orderkey")  # nuke everything
    assert t.read().count() == 0
    new_id = t.restore(before)
    assert t.read().count() == n0
    # history moved FORWARD: the delete commit is still an ancestor
    assert before in t.history() and new_id == t.history()[0]
    # vacuumed target refuses loudly
    t.delete_dv(F.col("o_orderkey") >= 0, "o_orderkey")
    vacuum(t)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(new_id)


def test_deletion_vectors_merge_on_read_and_compact(spark, tmp_path):
    """Merge-on-read DELETE: delete_dv commits positions, not rewrites —
    reads (plain, pruned, time-travel) apply the DV filter; stacked DVs
    compose; a bounded delete_dv and an upsert on a table with live DVs
    neither resurrect nor lose rows; compact folds the vectors back into
    data files, after which the files actually shrank and reads are
    unchanged."""
    o = Catalog(spark, SF_DIR).table("orders")
    t = ManifestTable(spark, str(tmp_path), "dv_orders", ["o_orderkey"])
    t.create(o.repartition(4))
    pre_mid = t._live_id()
    n0 = t.read().count()
    n_f = o.filter(F.col("o_orderstatus") == "F").count()

    res = t.delete_dv(F.col("o_orderstatus") == "F")
    assert res["marked"] == n_f > 0
    assert t.read().count() == n0 - n_f
    assert t.read().filter(F.col("o_orderstatus") == "F").count() == 0
    # no data file was rewritten — same entry list as before
    assert {e["path"] for e in t.files()} == {
        e["path"] for e in t._manifest_at(pre_mid)["entries"]
    }
    # pruned reads apply DVs too
    key = int(o.filter(F.col("o_orderstatus") == "F")
              .limit(1).collect()[0].o_orderkey)
    df, _ = t.read_pruned("o_orderkey", lo=key, hi=key)
    assert df.filter(F.col("o_orderkey") == key).count() == 0
    # time travel: the pre-delete snapshot still has every row
    assert t.read_at(pre_mid).count() == n0

    # stacked second DV
    n_p = t.read().filter(F.col("o_orderpriority") == "1-URGENT").count()
    t.delete_dv(F.col("o_orderpriority") == "1-URGENT")
    assert t.read().count() == n0 - n_f - n_p

    # a bounded delete and an upsert compose with live DVs
    model = {r.o_orderkey: tuple(r) for r in t.read().collect()}
    live_keys = sorted(model)
    k_del, k_upd = live_keys[0], live_keys[1]
    assert t.delete_dv(F.col("o_orderkey") == k_del, "o_orderkey",
                       lo=k_del, hi=k_del)["marked"] == 1
    del model[k_del]
    incoming = (
        o.filter(F.col("o_orderkey").isin(k_upd, key))  # live + DV-deleted
        .unionByName(o.filter(F.col("o_orderkey") == k_upd)
                     .withColumn("o_orderkey", F.lit(-1).cast("long")))
        .withColumn("o_totalprice", F.lit(0.0))
    )
    res = t.upsert(incoming, "o_orderkey")
    assert res["rewritten"] == 0 and res["marked"] == 1  # k_upd only
    model.update({r.o_orderkey: tuple(r) for r in incoming.collect()})
    assert sorted(map(tuple, t.read().collect())) == sorted(model.values())
    lo, hi = -1, max(k_upd, key)
    df, _ = t.read_pruned("o_orderkey", lo=lo, hi=hi)
    assert sorted(map(tuple, df.filter(F.col("o_orderkey").between(lo, hi))
                      .collect())) == sorted(
        v for k, v in model.items() if lo <= k <= hi)

    expect = sorted(map(tuple, t.read().collect()))
    res = t.compact()
    assert res["rewritten"] > 0
    assert not any("dv" in e for e in t.files())
    assert sorted(map(tuple, t.read().collect())) == expect
    # and the fold really dropped the rows from the files: one deleted,
    # one brought back by the upsert, one inserted
    assert sum(e["rows"] for e in t.files()) == n0 - n_f - n_p + 1
    # a bounded delete on the folded table: the inserted key -1 only
    assert t.delete_dv(F.col("o_orderkey") < 0, "o_orderkey",
                       lo=None, hi=0)["marked"] == 1


def test_delete_dv_conflicts_with_concurrent_commit(spark, tmp_path):
    """delete_dv rides the same CAS as every other mutation: a commit
    landing between its snapshot and its pointer swap must raise
    CommitConflict, never silently drop either change; the retry from
    the winner's snapshot applies the delete on top of the winner."""
    import pytest

    from etl_backend_spark.etl.manifest import CommitConflict

    o = Catalog(spark, SF_DIR).table("orders").limit(50)
    t = ManifestTable(spark, str(tmp_path), "dvc", ["o_orderkey"])
    t.create(o)
    stale = t._snapshot()
    key = o.first().o_orderkey
    # competing writer lands first
    t.append(o.limit(3).withColumn("o_orderkey",
                                   F.col("o_orderkey") + 5_000_000))
    t._snapshot = lambda: stale
    try:
        with pytest.raises(CommitConflict):
            t.delete_dv(F.col("o_orderkey") == key)
    finally:
        del t._snapshot
    # the losing DV never became visible; the winner's rows are all there
    assert not any("dv" in e for e in t.files())
    assert t.read().count() == 53
    assert t.delete_dv(F.col("o_orderkey") == key)["marked"] == 1
    assert t.read().count() == 52


def test_commit_conflict_discards_loser_dv(spark, tmp_path):
    """A delete_dv or upsert that loses the CAS leaves nothing behind: its
    DV lived only in the never-committed manifest (removed with it), and
    upsert's data batch is removed too. The retry marks again from the
    winner's snapshot."""
    import os

    from etl_backend_spark.etl.manifest import CommitConflict

    schema = "k LONG, v DOUBLE"
    t = ManifestTable(spark, str(tmp_path), "dvloser", ["k"])
    t.create(spark.createDataFrame([(k, 0.0) for k in range(10)], schema)
             .coalesce(1))
    stale = t._snapshot()
    t.append(spark.createDataFrame([(100, 1.0)], schema))  # the winner
    data_before = set(os.listdir(t.data_dir))
    manifests_before = set(os.listdir(t.manifest_dir))
    t._snapshot = lambda: stale  # both writers derive from the stale snapshot
    try:
        with pytest.raises(CommitConflict):
            t.delete_dv(F.col("k") == 1)
        with pytest.raises(CommitConflict):
            t.upsert(spark.createDataFrame([(2, -1.0)], schema), "k")
    finally:
        del t._snapshot
    assert set(os.listdir(t.manifest_dir)) == manifests_before
    assert not any("dv" in e for e in t.files())
    assert set(os.listdir(t.data_dir)) == data_before
    assert sorted(r.k for r in t.read().collect()) == list(range(10)) + [100]


def test_vacuum_keeps_live_dvs(spark, tmp_path):
    """vacuum after compact_dv reclaims the folded files and reads stay
    intact; a LIVE (unfolded) DV survives vacuum with its entry, and
    reads still drop its rows."""
    from etl_backend_spark.etl.manifest import vacuum

    o = Catalog(spark, SF_DIR).table("orders").limit(100)
    t = ManifestTable(spark, str(tmp_path), "dvv", ["o_orderkey"])
    t.create(o.repartition(4))
    t.delete_dv(F.col("o_orderstatus") == "F")
    n = t.read().count()
    t.compact_dv()
    assert vacuum(t)["data_files"] > 0
    assert t.read().count() == n  # live data intact

    t.delete_dv(F.col("o_orderpriority") == "1-URGENT")
    n2 = t.read().count()
    dvs = {e["path"]: e["dv"] for e in t.files() if "dv" in e}
    assert dvs and n2 < n
    vacuum(t)
    assert {e["path"]: e["dv"] for e in t.files() if "dv" in e} == dvs
    assert t.read().count() == n2


def test_compact_leaves_no_dead_dvs(spark, tmp_path):
    """compact rewrites every entry that carries a DV: after a delete_dv
    and an upsert, a compaction of every file leaves no DV for a later
    read to apply, and reads match the model."""
    schema = "k LONG, v DOUBLE"
    t = ManifestTable(spark, str(tmp_path), "fold", ["k"])
    t.create(spark.createDataFrame([(k, 0.0) for k in range(4)], schema)
             .coalesce(1))
    t.append(spark.createDataFrame([(k, 0.0) for k in range(4, 8)], schema)
             .coalesce(1))
    model = {k: 0.0 for k in range(8)}
    assert t.delete_dv(F.col("k") == 1)["marked"] == 1
    del model[1]
    assert t.upsert(spark.createDataFrame([(5, 5.0)], schema), "k")["marked"] == 1
    model[5] = 5.0
    assert sum("dv" in e for e in t.files()) == 2
    res = t.compact(target_rows=100)  # above every file
    assert not any("dv" in e for e in t.files())
    assert res["rewritten"] == 3 and res["carried"] == 0
    assert sorted((r.k, r.v) for r in t.read().collect()) == sorted(model.items())
    df, _ = t.read_pruned("k", 2, 6)
    assert sorted((r.k, r.v) for r in df.filter(F.col("k").between(2, 6))
                  .collect()) == [(k, v) for k, v in sorted(model.items())
                                  if 2 <= k <= 6]


def test_dv_read_plan_has_no_join(spark, tmp_path):
    """A live deletion vector costs a read one filter: the physical plans
    of read and read_pruned hold no join and no broadcast exchange, and
    the marked row is gone from both."""
    schema = "k LONG, v DOUBLE"
    t = ManifestTable(spark, str(tmp_path), "plan", ["k"])
    t.create(spark.createDataFrame([(k, 0.0) for k in range(8)], schema)
             .repartition(2))
    assert t.delete_dv(F.col("k") == 3)["marked"] == 1
    for df in (t.read(), t.read_pruned("k", 0, 7)[0]):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan
        assert sorted(r.k for r in df.collect()) == [0, 1, 2, 4, 5, 6, 7]


def test_dvs_in_root_with_space_and_percent(spark, tmp_path):
    """In a table root holding a space and a ``%`` (both percent-encoded
    in ``_metadata.file_path``), delete_dv, upsert, read_pruned and
    compact match a dict model, and no operation leaves anything beside
    the data and manifest dirs."""
    import os

    schema = "k LONG, v DOUBLE"
    t = ManifestTable(spark, str(tmp_path / "a b%c"), "t", ["k"])
    t.create(spark.createDataFrame([(k, 0.0) for k in range(8)], schema)
             .repartition(2))
    model = {k: 0.0 for k in range(8)}

    def check():
        assert sorted((r.k, r.v) for r in t.read().collect()) \
            == sorted(model.items())
        df, _ = t.read_pruned("k", 2, 6)
        assert sorted((r.k, r.v) for r in df.filter(F.col("k").between(2, 6))
                      .collect()) == sorted(
            kv for kv in model.items() if 2 <= kv[0] <= 6)

    assert t.delete_dv(F.col("k").isin(1, 6))["marked"] == 2
    del model[1], model[6]
    check()
    res = t.upsert(spark.createDataFrame([(2, 2.0), (6, 6.0), (9, 9.0)],
                                         schema), "k")
    assert res["marked"] == 1
    model.update({2: 2.0, 6: 6.0, 9: 9.0})
    check()
    assert t.compact(target_rows=0)["rewritten"] > 0
    assert not any("dv" in e for e in t.files())
    check()
    assert set(os.listdir(t.dir)) == {"_CURRENT", "_CURRENT.lock", "data",
                                      "manifest"}


def test_restore_carries_target_snapshot_dvs(spark, tmp_path):
    """RESTORE across deletion-vector commits: restoring the pre-delete
    snapshot must NOT inherit the live DVs (rows would stay deleted), and
    restoring a DV-bearing snapshot must reapply exactly its vectors."""
    o = Catalog(spark, SF_DIR).table("orders").limit(100)
    t = ManifestTable(spark, str(tmp_path), "dvr", ["o_orderkey"])
    t.create(o.repartition(4))
    pre = t._live_id()
    n0 = t.read().count()
    t.delete_dv(F.col("o_orderstatus") == "F")
    with_dv = t._live_id()
    n1 = t.read().count()
    assert n1 < n0

    t.restore(pre)
    assert t.read().count() == n0      # DVs NOT inherited
    t.restore(with_dv)
    assert t.read().count() == n1      # target's DVs reapplied


def test_shallow_clone_is_zero_copy_and_isolated(spark, tmp_path):
    """clone_shallow shares the source's files as pure metadata, then the
    two lineages diverge without touching each other's storage — and the
    clone's vacuum can never reclaim source files (it only walks its own
    data_dir)."""
    import os

    from etl_backend_spark.etl.manifest import clone_shallow, vacuum

    o = Catalog(spark, SF_DIR).table("orders").limit(500)
    t = ManifestTable(spark, str(tmp_path), "src", ["o_orderkey"])
    t.create(o.repartition(4))
    src_paths = {e["path"] for e in t.files()}

    c = clone_shallow(t, str(tmp_path), "fork")
    assert {e["path"] for e in c.files()} == src_paths
    assert not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(c.data_dir) for f in fs
    )
    assert c.read().count() == 500

    # clone-side mutations: DV delete + append land only in the clone
    n_f = c.read().filter(F.col("o_orderstatus") == "F").count()
    c.delete_dv(F.col("o_orderstatus") == "F")
    c.append(o.filter(F.col("o_orderkey") <= 100))
    n_extra = o.filter(F.col("o_orderkey") <= 100).count()
    assert c.read().count() == 500 - n_f + n_extra
    assert t.read().count() == 500                      # source untouched
    # the DVs live in the clone's entries only
    assert any("dv" in e for e in c.files())
    assert not any("dv" in e for e in t.files())

    # source-side append invisible to the clone
    n_clone = c.read().count()
    t.append(o.filter(F.col("o_orderkey") <= 50))
    assert c.read().count() == n_clone

    # clone time travel: its creation snapshot is the source as-cloned
    assert c.read_at(c.history()[-1]).count() == 500

    # vacuum on the CLONE must not reclaim any shared source file
    vacuum(c)
    for p in src_paths:
        assert os.path.exists(p)
    assert c.read().count() == n_clone

    # fresh txn namespace: an append_once token replays as a new write
    tok = "batch-42"
    t2 = clone_shallow(t, str(tmp_path), "fork2")
    t2.append_once(o.filter(F.col("o_orderkey") <= 10), txn=tok)
    n2 = t2.read().count()
    t2.append_once(o.filter(F.col("o_orderkey") <= 10), txn=tok)
    assert t2.read().count() == n2  # replay within the clone is a no-op


# ------------------------------------------------------------ model check

KEYS = 10  # key domain of the model-checked table: small, so writes collide


def _rows(min_size=0):
    return st.dictionaries(st.integers(0, KEYS - 1),
                           st.integers(-99, 99).map(float),
                           min_size=min_size, max_size=4)


class ManifestModel(RuleBasedStateMachine):
    """Random mutation sequences on a small keyed ManifestTable (stats and
    a bloom on ``k``) against a dict model ``{k: v}``. After every step
    ``read``, ``read_pruned`` and ``read_pruned_bloom`` (residual filter
    applied) must all equal the model, and the live entries' row counts
    minus their DV bits must count the model's rows; ``read_at`` of a
    recorded snapshot must equal the model recorded with it. ``vacuum``
    leaves only the live snapshot restorable, and a shallow clone reads
    as the model and deletes without changing the source's reads."""

    def __init__(self, spark, root):
        super().__init__()
        self.spark = spark
        self.root = root
        self.t = ManifestTable(spark, root, f"m{uuid.uuid4().hex[:8]}",
                               ["k"], bloom_col="k", bloom_bits=256)
        self.model: dict[int, float] = {}
        self.txns: dict[str, dict[int, float]] = {}
        self.snaps: list[tuple[str, dict[int, float]]] = []
        self.probe = (0, KEYS - 1)

    def _df(self, rows: dict):
        # two files per write: several rows per file, so a rewrite of a
        # file meets rows that a deletion vector marked
        return self.spark.createDataFrame(
            sorted(rows.items()), "k LONG, v DOUBLE").coalesce(2)

    def _committed(self, rows=()):
        """Record the live snapshot with its model; probe the keys touched."""
        self.snaps.append((self.t._live_id(), dict(self.model)))
        if rows:
            self.probe = (min(rows), max(rows))

    @initialize(rows=_rows(min_size=3))
    def create(self, rows):
        self.t.create(self._df(rows))
        self.model = dict(rows)
        self._committed(rows)

    @rule(rows=_rows())
    def append(self, rows):
        fresh = {k: v for k, v in rows.items() if k not in self.model}
        self.t.append(self._df(fresh))
        self.model.update(fresh)
        self._committed(fresh)

    @rule(rows=_rows(), data=st.data())
    def append_once(self, rows, data):
        if self.txns and data.draw(st.booleans(), label="replay"):
            txn = data.draw(st.sampled_from(sorted(self.txns)), label="txn")
            assert self.t.append_once(self._df(self.txns[txn]), txn) is False
            return
        fresh = {k: v for k, v in rows.items() if k not in self.model}
        txn = f"txn-{len(self.txns)}"
        assert self.t.append_once(self._df(fresh), txn) is True
        self.txns[txn] = fresh
        self.model.update(fresh)
        self._committed(fresh)

    @rule(rows=_rows(min_size=1))
    def upsert(self, rows):
        res = self.t.upsert(self._df(rows), "k")
        assert res["marked"] == len(rows.keys() & self.model.keys())
        self.model.update(rows)
        self._committed(rows)

    @rule(lo=st.integers(0, KEYS - 1), width=st.integers(0, 3),
          bounded=st.booleans())
    def delete_dv(self, lo, width, bounded):
        hi = lo + width
        # bounded: only files whose stats meet [lo, hi] are scanned
        res = self.t.delete_dv(F.col("k").between(lo, hi),
                               *(("k", lo, hi) if bounded else ()))
        assert res["marked"] == sum(lo <= k <= hi for k in self.model)
        self.model = {k: v for k, v in self.model.items() if not lo <= k <= hi}
        self._committed((lo, hi))

    # 0 counts no file small: the DV'd files alone are rewritten
    # (compact_dv); a DV'd entry's row count leaves that entry, and every
    # larger one, outside the small set, so only its DV puts it in the
    # rewrite
    @rule(data=st.data())
    def compact(self, data):
        dv_rows = {e["rows"] for e in self.t.files() if "dv" in e}
        target_rows = data.draw(
            st.sampled_from(sorted(dv_rows)) | st.integers(0, 6)
            if dv_rows else st.integers(0, 6), label="target_rows")
        self.t.compact(target_rows=target_rows)
        assert not any("dv" in e for e in self.t.files())
        self._committed()

    @rule()
    def vacuum(self):
        vacuum(self.t)
        live = self.t._live_id()
        for mid, _ in self.snaps:
            if mid != live:
                with pytest.raises(ValueError, match="vacuumed"):
                    self.t.restore(mid)
        self.snaps = [(mid, m) for mid, m in self.snaps if mid == live]

    @rule(lo=st.integers(0, KEYS - 1), width=st.integers(0, 3))
    def clone_shallow(self, lo, width):
        # the invariants then check that the source reads are unchanged
        hi = lo + width
        clone = clone_shallow(self.t, self.root, f"c{uuid.uuid4().hex[:8]}")
        assert sorted((r.k, r.v) for r in clone.read().collect()) \
            == sorted(self.model.items())
        assert clone.delete_dv(F.col("k").between(lo, hi))["marked"] \
            == sum(lo <= k <= hi for k in self.model)

    @precondition(lambda self: self.snaps)
    @rule(data=st.data())
    def restore(self, data):
        # newest first: recent snapshots are the ones still holding DVs
        mid, model = data.draw(st.sampled_from(self.snaps[::-1]),
                               label="snapshot")
        assert sorted((r.k, r.v) for r in self.t.read_at(mid).collect()) \
            == sorted(model.items())
        self.t.restore(mid)
        self.model = dict(model)
        self._committed()

    @invariant()
    def dvs_fit_entries(self):
        """Each live DV is a bitmap of exactly ceil(rows/8) bytes, and the
        live entries' rows minus their set bits count the model's rows."""
        live = 0
        for e in self.t.files():
            bits = base64.b64decode(e.get("dv", ""))
            assert len(bits) == ((e["rows"] + 7) // 8 if "dv" in e else 0)
            live += e["rows"] - sum(bin(b).count("1") for b in bits)
        assert live == len(self.model)

    @invariant()
    def reads_match_model(self):
        lo, hi = self.probe
        pruned, _ = self.t.read_pruned("k", lo, hi)
        bloom, _ = self.t.read_pruned_bloom(lo)
        got: dict[int, list] = {0: [], 1: [], 2: []}
        # one job for the three reads: each row is tagged with its reader
        for r in (self.t.read().withColumn("src", F.lit(0))
                  .unionByName(pruned.filter(F.col("k").between(lo, hi))
                               .withColumn("src", F.lit(1)))
                  .unionByName(bloom.filter(F.col("k") == lo)
                               .withColumn("src", F.lit(2)))
                  .collect()):
            got[r.src].append((r.k, r.v))
        want = sorted(self.model.items())
        assert sorted(got[0]) == want
        assert sorted(got[1]) == [kv for kv in want if lo <= kv[0] <= hi]
        assert sorted(got[2]) == [kv for kv in want if kv[0] == lo]


def test_manifest_matches_model(spark_session, tmp_path):
    """Model check of every ManifestTable mutation, deletion vectors
    included, through every read path (see ManifestModel)."""
    run_state_machine_as_test(
        lambda: ManifestModel(spark_session, str(tmp_path)),
        settings=settings(max_examples=8, stateful_step_count=12,
                          deadline=None, suppress_health_check=[
                              HealthCheck.function_scoped_fixture,
                              HealthCheck.too_slow]),
    )
