"""Events layout hardening: footer sniffing edge cases, directory-backed
source sizing, sidecar atomicity, and plan gates proving the WHOLE events
family reads through the date-partitioned pushdown-capable layout (not just
events_time_range)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_backend_spark.sources.catalog import (
    _events_granularity,
    _events_ts_unit,
    _source_bytes,
)

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------ footer sniffing

def test_ts_unit_annotated_micros(tmp_path):
    p = str(tmp_path / "us.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], type=pa.timestamp("us"))}), p
    )
    assert _events_ts_unit(p) == "us"


def test_ts_unit_bare_int64_is_legacy_nanos(tmp_path):
    """A ts column stored as UNANNOTATED int64 is the legacy raw-nanos
    format (old make_sf1 output). Guessing 'us' for it would read
    timestamps ~1000x in the future — it must sniff as 'ns'."""
    p = str(tmp_path / "legacy.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], type=pa.int64())}), p)
    assert _events_ts_unit(p) == "ns"


def test_ts_unit_unsupported_type_raises(tmp_path):
    p = str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"ts": pa.array(["a", "b"])}), p)
    with pytest.raises(TypeError, match="regenerate"):
        _events_ts_unit(p)


def test_ts_unit_empty_valid_dir_defaults_us(tmp_path):
    """A dir with only _SUCCESS/metadata entries (a streaming sink before
    its first committed batch) is a legitimately EMPTY events source — it
    must default to 'us' and read as an empty frame, not crash at plan
    time (r13 ADVICE). A dir with real non-metadata files but no
    sniffable parquet part still raises."""
    d = tmp_path / "empty.parquet"
    d.mkdir()
    assert _events_ts_unit(str(d)) == "us"  # truly empty
    (d / "_SUCCESS").touch()
    (d / "_spark_metadata").mkdir()
    assert _events_ts_unit(str(d)) == "us"  # metadata-only
    (d / "garbage.txt").touch()
    with pytest.raises(FileNotFoundError, match="garbage"):
        _events_ts_unit(str(d))


def test_ts_unit_directory_source(tmp_path):
    d = tmp_path / "events.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([1], type=pa.timestamp("ns"))}),
        str(d / "part-000.parquet"),
    )
    assert _events_ts_unit(str(d)) == "ns"


# ------------------------------------------------------- directory byte sizes

def test_source_bytes_sums_directory_parts(tmp_path):
    """os.path.getsize on a Spark-written directory returns the inode size
    (~4 KiB) — the granularity rule must sum the part files instead, or a
    large directory-backed SF would always collapse to 'month'."""
    d = tmp_path / "events.parquet"
    d.mkdir()
    t = pa.table({"ts": pa.array(range(10_000), type=pa.timestamp("us"))})
    for i in range(3):
        pq.write_table(t, str(d / f"part-{i:03d}.parquet"))
    total = _source_bytes(str(d))
    one = os.path.getsize(str(d / "part-000.parquet"))
    assert total == pytest.approx(3 * one, rel=0.01)
    assert total > os.path.getsize(str(d))  # not the inode size
    # single file still measures itself
    f = str(tmp_path / "single.parquet")
    pq.write_table(t, f)
    assert _source_bytes(f) == os.path.getsize(f)


# --------------------------------------------------------- sidecar atomicity

def test_granularity_fallback_is_widest(tmp_path):
    """A layout missing its _GRANULARITY sidecar must be read with the
    WIDEST slop ('month'): over-widened event_date bounds only cost extra
    directories (re-filtered by the exact ts predicate); under-widened
    bounds on a week/month layout would DROP rows at partition edges."""
    assert _events_granularity(str(tmp_path)) == "month"
    (tmp_path / "_GRANULARITY").write_text("")
    assert _events_granularity(str(tmp_path)) == "month"
    (tmp_path / "_GRANULARITY").write_text("week")
    assert _events_granularity(str(tmp_path)) == "week"


def test_crashed_build_publishes_nothing(monkeypatch, tmp_path):
    """A builder that dies AFTER writing data but BEFORE the sidecar leaves
    no published layout at all: the private build dir is discarded and the
    next caller rebuilds from scratch — a reader can never observe
    partitioned data without its _GRANULARITY. Also: a builder that loses
    the publish race discards its own copy and the winner's stays, and a
    failed build for a new fingerprint leaves the record that
    ``<kind>-current`` points at intact."""
    from etl_backend_spark.ann.index import point_current
    from etl_backend_spark.sources import cache

    monkeypatch.setattr(cache, "ROOT", str(tmp_path))
    calls = []

    def dying_build(build_dir: str) -> None:
        calls.append(build_dir)
        os.makedirs(os.path.join(build_dir, "event_date=2024-01-01"))
        raise RuntimeError("killed between data write and sidecar")

    with pytest.raises(RuntimeError, match="killed between"):
        cache.build("crashtest", "v1", "x", dying_build)
    assert not os.path.isdir(calls[0])  # build dir cleaned up
    published = [p for p in os.listdir(tmp_path) if "crashtest" in p]
    assert published == []  # nothing renamed into place

    def good_build(build_dir: str) -> None:
        os.makedirs(build_dir)
        with open(os.path.join(build_dir, "_GRANULARITY"), "w") as fh:
            fh.write("day")

    out, built = cache.build("crashtest", "v1", "x", good_build)
    assert built and _events_granularity(out) == "day"  # rebuild succeeds
    assert cache.build("crashtest", "v1", "x", dying_build) == (out, False)

    # racing loser: a peer publishes while this builder is still writing;
    # the rename fails, the loser's private copy is removed and the
    # winner's published dir is what every caller sees
    def losing_build(build_dir: str) -> None:
        os.makedirs(build_dir)
        with open(os.path.join(build_dir, "_GRANULARITY"), "w") as fh:
            fh.write("week")
        winner = cache.path("racetest", "v1", "x")
        os.makedirs(winner)
        with open(os.path.join(winner, "_GRANULARITY"), "w") as fh:
            fh.write("day")

    out, _ = cache.build("racetest", "v1", "x", losing_build)
    assert _events_granularity(out) == "day"
    assert [p for p in os.listdir(tmp_path) if "racetest" in p] == [
        os.path.basename(out)]

    # a failed build for a new fingerprint leaves the record published
    # for the previous one intact, and <kind>-current still serves it
    a, _ = cache.build("restoretest", "v1", "a", good_build)
    point_current("restoretest", a)
    with pytest.raises(RuntimeError, match="killed between"):
        cache.build("restoretest", "v1", "b", dying_build)
    current = os.path.join(tmp_path, "restoretest-current")
    assert os.path.realpath(current) == os.path.realpath(a)
    assert os.listdir(current) == ["_GRANULARITY"]
    assert _events_granularity(current) == "day"
    assert not os.path.exists(cache.path("restoretest", "v1", "b"))


def test_point_current_gc_spares_other_kinds(monkeypatch, tmp_path):
    """point_current's sibling cleanup collects only ``<kind>-<tag>``
    dirs of its own kind: in the shared store root, kinds that share a
    prefix (``ivfpq`` / ``ivfpq-incr``), other stores' entries and
    in-flight private build dirs all survive."""
    from etl_backend_spark.ann.index import point_current
    from etl_backend_spark.sources import cache

    monkeypatch.setattr(cache, "ROOT", str(tmp_path))
    old, new = (cache.path("ivfpq", "v2", fp) for fp in ("a", "b"))
    others = [cache.path(k, "v2", "a") for k in
              ("ivfpq-incr", "events-daily", "bkt-events", "pq")]
    building = cache.path("ivfpq", "v2", "c") + ".build-123"
    for d in [old, new, building, *others]:
        os.makedirs(d)
    point_current("ivfpq", new)
    assert not os.path.isdir(old)
    assert all(os.path.isdir(d) for d in [new, building, *others])
    assert os.path.realpath(os.path.join(tmp_path, "ivfpq-current")) == \
        os.path.realpath(new)


def test_crashed_bucketed_build_is_rebuilt(spark, monkeypatch, tmp_path):
    """A bucketed-table write that dies halfway (half its bucket files
    on disk) must not be declared as a finished table by a later call:
    the next call rebuilds, and the table holds every source row."""
    from pyspark.sql.readwriter import DataFrameWriter

    from etl_backend_spark.sources import catalog

    sf = tmp_path / "sf"
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src.write.parquet(str(sf / "events.parquet"))  # fresh fingerprint
    want = src.count()

    real_option = DataFrameWriter.option
    real_save = DataFrameWriter.saveAsTable

    def option(self, key, value):
        if key == "path":
            self._crash_path = value
        return real_option(self, key, value)

    def crash_halfway(self, name, *args, **kwargs):
        real_save(self, name, *args, **kwargs)
        parts = sorted(p for p in os.listdir(self._crash_path)
                       if p.startswith("part-"))
        for p in parts[: len(parts) // 2]:
            os.remove(os.path.join(self._crash_path, p))
        raise RuntimeError("killed mid-write")

    monkeypatch.setattr(DataFrameWriter, "option", option)
    monkeypatch.setattr(DataFrameWriter, "saveAsTable", crash_halfway)
    with pytest.raises(RuntimeError, match="killed mid-write"):
        catalog.bucketed_events_table(spark, str(sf), n_buckets=4)
    monkeypatch.undo()

    name = catalog.bucketed_events_table(spark, str(sf), n_buckets=4)
    assert spark.table(name).count() == want


def test_minhash_missing_kb_sidecar_raises(tmp_path):
    """A band index without its _kb_meta.json sidecar (or with a
    corrupt one) is an error, not a silent 64-bucket guess that would
    prune away true duplicate pairs."""
    from etl_backend_spark.registry import llm as L

    art = tmp_path / "art"
    (art / "bands").mkdir(parents=True)
    with pytest.raises(ValueError, match="sidecar"):
        L._read_kb_buckets(str(art))
    (art / "bands" / L._KB_META_NAME).write_text("{\"kb\": 8}")
    with pytest.raises(ValueError, match="sidecar"):
        L._read_kb_buckets(str(art))
    (art / "bands" / L._KB_META_NAME).write_text("{\"kb_buckets\": 16}")
    assert L._read_kb_buckets(str(art)) == 16


def test_published_layout_always_has_sidecar(spark):
    """The real events build publishes the sidecar atomically with the
    data (it is written inside the private build dir before the rename)."""
    from etl_backend_spark.sources.catalog import events_partitioned_path

    path = events_partitioned_path(spark, SF_DIR)
    assert os.path.exists(os.path.join(path, "_GRANULARITY"))
    assert _events_granularity(path) in ("day", "week", "month")


def test_nanos_source_requires_legacy_conf(monkeypatch, tmp_path, spark):
    """If Spark ever drops spark.sql.legacy.parquet.nanosAsLong, a ns
    source must fail LOUDLY (actionable message), not silently misread."""
    from etl_backend_spark.sources import catalog as C

    p = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], type=pa.int64()),
                "ts": pa.array([1_700_000_000_000_000_000], type=pa.timestamp("ns")),
                "user_id": pa.array([1], type=pa.int64()),
                "event_type": pa.array(["click"]),
                "value": pa.array([1.0]),
                "props": pa.array(["{}"]),
            }
        ),
        p,
    )

    class NoLegacyConf:
        def set(self, k, v):
            if "nanosAsLong" in k:
                raise Exception(f"unknown config {k}")
            spark.conf.set(k, v)

        def get(self, k, *a):
            return spark.conf.get(k, *a)

    class FakeSpark:
        conf = NoLegacyConf()
        read = spark.read

    with pytest.raises(RuntimeError, match="nanosAsLong"):
        C.read_events_raw(FakeSpark(), p)


# ------------------------------------------------- events-family plan gates

# Every member of the events family must read the date-partitioned layout
# with ts as a PHYSICAL timestamp column — the precondition for parquet
# pushdown (row-group min/max) on any ts predicate a user composes on top.
# events_time_range separately proves the pushdown itself fires there.
EVENTS_FAMILY = [
    "stream_window_tumbling",
    "stream_window_sliding",
    "stream_sessionize",
    "events_zscore",
    "window_rolling_range",
    "stream_agg_touch",
    "join_asof",
]


@pytest.mark.parametrize("name", EVENTS_FAMILY)
def test_events_family_reads_partitioned_layout(spark, name):
    from etl_backend_spark.registry import QUERIES

    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # scans the rewritten layout, not the raw drop
    assert "events-daily" in plan, f"{name} does not scan the layout:\n{plan}"
    # ts, when read at all, is a physical timestamp in the scan schema
    # (pushdown-capable) — never the raw int64 needing a post-scan compute.
    # Queries that do not touch ts legitimately prune it (events_zscore).
    assert "ts:bigint" not in plan, f"{name} reads raw int64 ts:\n{plan}"
    if name != "events_zscore":
        assert "ts:timestamp" in plan, f"{name} scan lacks physical ts:\n{plan}"
    assert "BatchEvalPython" not in plan


def test_events_family_ts_predicate_pushes_down(spark):
    """Composing a ts range under any family member's base read produces
    parquet PushedFilters — the property the layout exists to guarantee."""
    from etl_backend_spark.sources.catalog import load_table

    base = load_table(spark, "events", SF_DIR).filter(
        F.col("ts") >= F.to_timestamp(F.lit("2024-01-10T00:00:00"))
    )
    agg = base.groupBy(F.window("ts", "5 minutes")).count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts," in plan


def test_event_date_bounds_over_widen_only(spark):
    """The public bounds helper: open-ended sides stay None; closed sides
    widen by at least the granularity slop below and one day above."""
    import datetime as dt

    from etl_backend_spark.sources.catalog import event_date_bounds

    lo, hi = event_date_bounds(spark, SF_DIR, "2024-01-10T12:00:00", None)
    assert hi is None
    assert lo <= dt.date(2024, 1, 9)  # at least a day of slop below
    lo2, hi2 = event_date_bounds(spark, SF_DIR, None, "2024-01-12T00:00:00")
    assert lo2 is None
    assert hi2 >= dt.date(2024, 1, 13)  # a day above


def test_gapfill_bucketed_plans_zero_exchanges(spark):
    """The whole gap-fill pipeline (bucket agg → span agg → grid explode →
    left join → LOCF window) must run on the scan's user_id bucketing with
    NO exchange: every distribution keys on a superset of {user_id}."""
    from etl_backend_spark.registry import QUERIES

    df = QUERIES["events_gapfill_locf_bucketed"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_events_pattern_topk_finds_planted_exact_match(spark, tmp_path):
    """A window whose values are an exact affine transform of the query
    pattern (z-normalization is amplitude/offset invariant) must surface
    as the top hit with zdist2 == 0; noise windows score well above 0."""
    import datetime as dt

    from etl_backend_spark.registry import QUERIES

    base = dt.datetime(2024, 1, 1)
    rows = []
    # noise user: values far from the pattern shape
    for i in range(40):
        rows.append((i, base + dt.timedelta(minutes=i), 1,
                     "click", float((i * 37) % 11) + 0.25, "{}"))
    # planted user: 3*pattern + 100 at events 100..107
    pat = [1.0, 2.0, 4.0, 8.0, 6.0, 3.0, 2.0, 1.0]
    for j, v in enumerate(pat + [9.0, 1.5, 7.0, 2.5, 0.5, 8.5, 3.5, 6.5]):
        rows.append((100 + j, base + dt.timedelta(minutes=j), 2,
                     "click", 3.0 * v + 100.0 if j < 8 else v, "{}"))
    d = tmp_path / "sfev"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(d / "events.parquet"))

    out = QUERIES["events_pattern_topk"](spark, str(d)).collect()
    assert out, "no windows scored"
    top = out[0]
    assert (top.user_id, top.event_id) == (2, 100)
    assert abs(top.zdist2) < 1e-18, top
    assert all(r.zdist2 > 0.1 for r in out[1:]), out[:3]


def test_events_motif_pairs_finds_planted_cross_user_motif(spark, tmp_path):
    """The same shape planted in two different users (affine-transformed —
    z-normalization cancels scale/offset) must surface as the top motif
    pair with zdist2 == 0; overlapping same-user windows are excluded."""
    import datetime as dt

    from etl_backend_spark.registry import QUERIES

    base = dt.datetime(2024, 1, 1)
    pat = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0]
    rows = []
    # user 1 carries the motif at events 0..7, then noise
    for j, v in enumerate(pat):
        rows.append((j, base + dt.timedelta(minutes=j), 1, "click", v, "{}"))
    for j in range(8, 24):
        rows.append((j, base + dt.timedelta(minutes=j), 1, "click",
                     float((j * 31) % 13) + 0.5, "{}"))
    # user 2 carries 2*pat - 3 at events 100..107, then different noise
    for j, v in enumerate(pat):
        rows.append((100 + j, base + dt.timedelta(minutes=j), 2, "click",
                     2.0 * v - 3.0, "{}"))
    for j in range(8, 24):
        rows.append((100 + j, base + dt.timedelta(minutes=j), 2, "click",
                     float((j * 17) % 11) + 0.25, "{}"))
    d = tmp_path / "sfmotif"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(d / "events.parquet"))

    out = QUERIES["events_motif_pairs"](spark, str(d)).collect()
    assert out, "no motif pairs found"
    top = out[0]
    assert (top.user_a, top.event_a, top.user_b, top.event_b) == (1, 0, 2, 100)
    assert abs(top.zdist2) < 1e-18, top
    # no same-user overlapping pair anywhere in the result
    for r in out:
        if r.user_a == r.user_b:
            assert abs(r.event_a - r.event_b) >= 8, r


def test_events_motif_pairs_slim_matches_default_and_prefilters(spark):
    """The slim-exchange alternate (r10): identical rows to the default
    one-pass plan on real testdata, and the plan carries the rare-word
    pre-filter as a BROADCAST left-semi join BEFORE the bucket exchange
    (the point of the variant — over-cap windows never ship their z
    payload; the rare set is bounded by 4^8 SAX words, so the broadcast
    is always legal)."""
    from etl_backend_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    slim = QUERIES["events_motif_pairs_slim"](spark, sf)
    got = [tuple(r) for r in slim.collect()]
    ref = [tuple(r) for r in QUERIES["events_motif_pairs"](spark, sf).collect()]
    assert got == ref
    plan = slim._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "Broadcast" in plan, plan


def test_events_motif_pairs_size_gate_delegates_to_slim(spark, monkeypatch):
    """Above _MOTIF_SLIM_MIN_ROWS events the DEFAULT key must build the
    slim-exchange plan (footer-gated switch, r10) — recognizable by the
    rare-word broadcast semi join — and below it must not."""
    from etl_backend_spark.registry import QUERIES
    from etl_backend_spark.registry import events as EV

    sf = "/root/testdata/sf0.001"
    small = QUERIES["events_motif_pairs"](spark, sf)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan_small

    monkeypatch.setattr(EV, "_MOTIF_SLIM_MIN_ROWS", 1)
    big = QUERIES["events_motif_pairs"](spark, sf)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan_big and "Broadcast" in plan_big
    # identical rows either way (value-neutral switch)
    assert sorted(map(tuple, big.collect())) == \
        sorted(map(tuple, small.collect()))


def test_events_discord_topk_flags_planted_anomaly(spark, tmp_path):
    """One user's series carries a single violent spike window amid many
    copies of a repeating benign shape planted across users: the spike
    window must rank in the top discords (unique/rare word or a far
    nearest neighbor), and none of the benign repeats may outrank it."""
    import datetime as dt

    from etl_backend_spark.registry import QUERIES

    base = dt.datetime(2024, 1, 1)
    benign = [1.0, 2.0, 3.0, 4.0, 4.0, 3.0, 2.0, 1.0]
    rows = []
    eid = 0
    # 6 users, each repeating the benign shape 3 times (non-overlapping)
    for u in range(1, 7):
        for rep in range(3):
            for j, v in enumerate(benign):
                rows.append((eid, base + dt.timedelta(minutes=rep * 8 + j),
                             u, "click", v + 0.1 * u, "{}"))
                eid += 1
    # user 9: two benign repeats, then a violent spike window
    spike = [1.0, 1.0, 1.0, 50.0, -40.0, 1.0, 1.0, 1.0]
    anomaly_start_eid = None
    for rep in range(2):
        for j, v in enumerate(benign):
            rows.append((eid, base + dt.timedelta(minutes=rep * 8 + j),
                         9, "click", v, "{}"))
            eid += 1
    for j, v in enumerate(spike):
        if j == 0:
            anomaly_start_eid = eid
        rows.append((eid, base + dt.timedelta(minutes=16 + j),
                     9, "click", v, "{}"))
        eid += 1
    d = tmp_path / "sfdiscord"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(d / "events.parquet"))

    out = QUERIES["events_discord_topk"](spark, str(d)).collect()
    assert out, "no discord candidates"
    hits = [(r.user_id, r.event_id) for r in out]
    assert (9, anomaly_start_eid) in hits, (anomaly_start_eid, hits)

    def is_spike(u, e):
        return u == 9 and \
            anomaly_start_eid - 7 <= e <= anomaly_start_eid + 7

    # the spike-overlapping windows (all legitimately anomalous) must form
    # the PREFIX of the ranking; anything after them is a benign repeat
    # whose nearest neighbor is an (offset-cancelled) identical twin —
    # nn_dist ~ 0, never mistaken for an anomaly
    k = sum(1 for u, e in hits if is_spike(u, e))
    assert k >= 7 and all(is_spike(u, e) for u, e in hits[:k]), hits
    for r in out[k:]:
        assert r.nn_dist is not None and r.nn_dist < 0.5, r
