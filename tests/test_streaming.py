"""End-to-end Structured Streaming tests: feed the sf0.001 events table
through the chat pipeline as newline-JSON files and check the streamed
results equal the equivalent batch computation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_backend_spark.sources.catalog import Catalog
from etl_backend_spark.streaming import chat_pipeline as cp
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_json_dir(spark, tmp_path_factory):
    """Dump sf0.001 events as 3 newline-JSON files (3 arrival batches)."""
    src = tmp_path_factory.mktemp("events_json")
    ev = Catalog(spark, SF_DIR).table("events").orderBy("event_id")
    rows = ev.collect()
    for part in range(3):
        with open(src / f"part-{part}.json", "w") as f:
            for r in rows[part::3]:
                d = r.asDict()
                # microsecond-precision ISO — date_format's SSS would truncate
                d["ts"] = d["ts"].isoformat() + "Z"
                f.write(json.dumps(d) + "\n")
    return str(src)


def test_stream_ingest_appends_all_valid_rows(spark, tmp_path, event_json_dir):
    out = str(tmp_path / "messages")
    ckpt = str(tmp_path / "ckpt")
    stream = cp.validate_events(cp.read_json_stream(spark, event_json_dir))
    cp.run_available_now(cp.append_sink(stream, out, ckpt), "ingest")

    got = spark.read.parquet(out)
    expect = Catalog(spark, SF_DIR).table("events")
    assert got.count() == expect.count()
    assert got.select(F.sum("event_id").alias("s")).collect()[0].s == \
        expect.select(F.sum("event_id").alias("s")).collect()[0].s


def test_stream_touch_equals_batch_max(spark, tmp_path, event_json_dir):
    stream = cp.conversation_touch(cp.read_json_stream(spark, event_json_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("touch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.updated_at, r.n_messages)
        for r in spark.sql("SELECT * FROM touch").collect()
    }
    expect = {
        r.user_id: (r.updated_at, r.n)
        for r in Catalog(spark, SF_DIR)
        .table("events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("updated_at"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


def test_stream_windowed_counts_equal_batch(spark, tmp_path, event_json_dir):
    stream = cp.windowed_counts(cp.read_json_stream(spark, event_json_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM wincounts").collect()
    }
    expect = {
        (r.window_start, r.event_type): r.n
        for r in Catalog(spark, SF_DIR)
        .table("events")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    assert got == expect


def test_presence_routing_stateful(spark, tmp_path):
    """login → 2 messages delivered → logout → 1 queued, second key offline
    throughout."""
    src = tmp_path / "presence_json"
    src.mkdir()
    events = [
        (1, "2024-01-01T00:00:00.000Z", 7, "login", 0.0, "{}"),
        (2, "2024-01-01T00:01:00.000Z", 7, "msg", 1.0, "{}"),
        (3, "2024-01-01T00:02:00.000Z", 7, "msg", 1.0, "{}"),
        (4, "2024-01-01T00:03:00.000Z", 7, "logout", 0.0, "{}"),
        (5, "2024-01-01T00:04:00.000Z", 7, "msg", 1.0, "{}"),
        (6, "2024-01-01T00:00:30.000Z", 9, "msg", 1.0, "{}"),
    ]
    with open(src / "batch.json", "w") as f:
        for e in events:
            f.write(json.dumps(dict(zip(
                ["event_id", "ts", "user_id", "event_type", "value", "props"], e
            ))) + "\n")

    stream = cp.presence_routing(cp.read_json_stream(spark, str(src)))
    q = (
        stream.writeStream.format("memory")
        .queryName("routed")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.user_id: r for r in spark.sql("SELECT * FROM routed").collect()}
    assert got[7].n_delivered == 2
    assert got[7].n_queued == 1
    assert got[7].online == "offline"
    assert got[9].n_delivered == 0
    assert got[9].n_queued == 1


def test_stream_stream_join_matches_batch(spark, tmp_path, event_json_dir):
    """Windowed stream-stream join result == the equivalent batch range
    join (purchases x signups within the preceding hour)."""
    raw = cp.read_json_stream(spark, event_json_dir)
    left = raw.filter(F.col("event_type") == "purchase")
    right = cp.read_json_stream(spark, event_json_dir).filter(
        F.col("event_type") == "signup"
    )
    joined = cp.stream_stream_join(left, right)
    q = (
        joined.writeStream.format("memory").queryName("ssj")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.left_id, r.right_id) for r in spark.sql("SELECT * FROM ssj").collect()
    }
    ev = Catalog(spark, SF_DIR).table("events")
    p = ev.filter(F.col("event_type") == "purchase").alias("l")
    s = ev.filter(F.col("event_type") == "signup").alias("r")
    expect = {
        (r.lid, r.rid)
        for r in p.join(
            s,
            F.expr("l.user_id = r.user_id AND "
                   "r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts"),
        ).select(F.col("l.event_id").alias("lid"), F.col("r.event_id").alias("rid")).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_permissive_ingest_quarantines_corrupt(spark, tmp_path):
    src = tmp_path / "dirty"
    src.mkdir()
    with open(src / "mixed.json", "w") as f:
        f.write(json.dumps({"event_id": 1, "ts": "2024-01-01T00:00:00Z",
                            "user_id": 5, "event_type": "click",
                            "value": 1.0, "props": "{}"}) + "\n")
        f.write("this is not json at all\n")
        f.write('{"event_id": broken\n')
    valid, bad = cp.split_corrupt(cp.read_json_stream_permissive(spark, str(src)))
    for df, name in ((valid, "ok_rows"), (bad, "bad_rows")):
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    ok = spark.sql("SELECT * FROM ok_rows").collect()
    quarantined = spark.sql("SELECT * FROM bad_rows").collect()
    assert len(ok) == 1 and ok[0].event_id == 1
    assert len(quarantined) == 2


def test_stream_dedup_removes_replays(spark, tmp_path):
    """The same events delivered twice (source replay) come out once."""
    src = tmp_path / "replay"
    src.mkdir()
    events = [
        {"event_id": i, "ts": f"2024-01-01T00:0{i}:00Z", "user_id": 1,
         "event_type": "msg", "value": 1.0, "props": "{}"}
        for i in range(5)
    ]
    with open(src / "a.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    with open(src / "b.json", "w") as f:  # replay of the same payloads
        for e in events:
            f.write(json.dumps(e) + "\n")

    deduped = cp.dedup_stream(cp.read_json_stream(spark, str(src)), ["event_id"])
    q = (deduped.writeStream.format("memory").queryName("dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT event_id FROM dedup").collect()
    assert sorted(r.event_id for r in got) == [0, 1, 2, 3, 4]


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop/restart with the same checkpoint: the second run processes ONLY
    files that arrived after the first run — no duplicates, no loss."""
    src = tmp_path / "arriving"
    src.mkdir()
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                f.write(json.dumps({
                    "event_id": i, "ts": "2024-01-01T00:00:00Z", "user_id": 1,
                    "event_type": "msg", "value": 1.0, "props": "{}",
                }) + "\n")

    write_file("a.json", range(0, 10))
    stream = cp.read_json_stream(spark, str(src))
    cp.run_available_now(cp.append_sink(stream, out, ckpt), "resume1")
    assert spark.read.parquet(out).count() == 10

    write_file("b.json", range(10, 25))
    stream2 = cp.read_json_stream(spark, str(src))
    cp.run_available_now(cp.append_sink(stream2, out, ckpt), "resume2")
    got = spark.read.parquet(out)
    assert got.count() == 25
    assert got.select("event_id").distinct().count() == 25  # exactly once


def test_stream_static_join_enriches(spark, tmp_path, event_json_dir):
    """Stream-static join: each micro-batch joins the current static dim
    (broadcast, no streaming state); streamed result equals the batch join."""
    dim = (
        Catalog(spark, SF_DIR).table("customer")
        .select(F.col("c_custkey").alias("user_id"), "c_name")
    )
    stream = cp.enrich_with_static(
        cp.read_json_stream(spark, event_json_dir), dim
    )
    q = (
        stream.writeStream.format("memory").queryName("enriched")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT event_id, c_name FROM enriched ORDER BY event_id"
    ).collect()
    ev = Catalog(spark, SF_DIR).table("events")
    expect = (
        ev.join(F.broadcast(dim), on="user_id", how="left")
        .select("event_id", "c_name").orderBy("event_id").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]
    assert len(got) > 0


def test_rolling_rate_counter_equals_batch_window(spark, tmp_path, event_json_dir):
    """The streaming per-event trailing-1h counter equals the batch RANGE
    window (window_rolling_range's count column) over the same events —
    including tie groups at identical ts, which are frame peers in both."""
    from pyspark.sql import Window

    stream = cp.rolling_rate_counter(cp.read_json_stream(spark, event_json_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("rolling")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.event_id: (r.user_id, r.n_1h)
        for r in spark.sql("SELECT * FROM rolling").collect()
    }
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    expect = {
        r.event_id: (r.user_id, r.n_1h)
        for r in Catalog(spark, SF_DIR)
        .table("events")
        .select("event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_1h"))
        .collect()
    }
    assert len(got) == len(expect) > 0
    assert got == expect


def test_rolling_counter_late_event_exact_and_state_bounded():
    """Cross-batch LATE events (ts older than the state tail): the stamp is
    inserted in sorted position and the event counts exactly its own
    [ts-1h, ts] frame — newer stamps already in state must NOT inflate it
    — and aged-out stamps never get stuck behind a newer head."""
    import pandas as pd

    from etl_backend_spark.streaming.chat_pipeline import _rolling_counter

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def run(state, rows):  # rows: [(event_id, ts_sec)]
        pdf = pd.DataFrame({
            "event_id": [e for e, _ in rows],
            "user_id": [7] * len(rows),
            "ts": pd.to_datetime([s * 1_000_000_000 for _, s in rows]),
        })
        [out] = list(_rolling_counter((7,), [pdf], state))
        return dict(zip(out["event_id"], out["n_1h"]))

    st = FakeState()
    # batch 1, in order: 1000s and 2000s — trailing counts 1 then 2
    assert run(st, [(1, 1000), (2, 2000)]) == {1: 1, 2: 2}
    # batch 2, LATE event at 1500s: its frame holds stamps 1000+1500 only;
    # the buggy append-then-len form reported 3 (counted the 2000s stamp)
    assert run(st, [(3, 1500)]) == {3: 2}
    # state stays sorted => the late stamp is NOT stuck behind the tail
    assert list(st.get[0]) == [s * 1_000_000 for s in (1000, 1500, 2000)]
    # batch 3, far-future event ages everything out of the frame head
    assert run(st, [(4, 6000)]) == {4: 1}
    assert list(st.get[0]) == [6_000_000_000]


def test_stream_funnel_matches_batch(spark, tmp_path, event_json_dir):
    """Streaming funnel conversions must equal the batch window-chain
    funnel: same completed-user count, and each emitted (t_view, t_click,
    t_purchase) triple must satisfy the strict ordering contract."""
    from etl_backend_spark.registry import QUERIES

    stream = cp.validate_events(cp.read_json_stream(spark, event_json_dir))
    out_dir, ckpt = str(tmp_path / "funnel"), str(tmp_path / "ckpt")
    q = (
        cp.funnel_conversions(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    rows = got.collect()
    assert all(r.t_view < r.t_click < r.t_purchase for r in rows)
    batch = QUERIES["events_funnel"](spark, SF_DIR).collect()[0]
    assert len(rows) == batch.n_view_click_purchase
    assert got.select("user_id").distinct().count() == len(rows)


def test_idle_session_close_matches_batch_sessions(spark, tmp_path,
                                                   event_json_dir):
    """Every emitted closed session must equal a batch gaps-and-islands
    session exactly (same start/end/count), and the timeout path must
    actually fire (sessions closed with no triggering input row)."""
    stream = cp.validate_events(cp.read_json_stream(spark, event_json_dir))
    out_dir, ckpt = str(tmp_path / "sess"), str(tmp_path / "ck")
    q = (
        cp.idle_session_close(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    assert got, "no sessions closed"
    # batch twin: 30-min gaps-and-islands per user
    from pyspark.sql import Window

    ev = Catalog(spark, SF_DIR).table("events")
    w = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        ev.withColumn("__prev", F.lag("ts").over(w))
        .withColumn(
            "__new",
            (F.col("__prev").isNull())
            | (F.col("ts").cast("long") - F.col("__prev").cast("long")
               > 30 * 60),
        )
        .withColumn("__sid", F.sum(F.col("__new").cast("long")).over(w))
        .groupBy("user_id", "__sid")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"))
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess.collect()
    }
    for r in got:
        key = (r.user_id, r.session_start, r.session_end, r.n_events)
        assert key in want, key


def test_stream_ewma_equals_batch_fold(spark, tmp_path, event_json_dir):
    """Streamed EWMA == the batch HOF fold BIT-FOR-BIT on in-order
    replay: dyadic add-then-halve is exact IEEE arithmetic applied in the
    same order on both paths (the events_ewma measurement contract,
    extended to the stateful twin). The memory sink's LAST update row per
    user is the final state."""
    from etl_backend_spark.registry import QUERIES

    stream = cp.streaming_ewma(
        cp.validate_events(cp.read_json_stream(spark, event_json_dir))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ewma")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import pandas as pd

    got_df = spark.sql("SELECT * FROM ewma").toPandas()
    # update mode appends one row per user per batch; keep the last
    got = {
        int(r.user_id): (int(r.n), float(r.ewma_last))
        for r in got_df.groupby("user_id").tail(1).itertuples()
    }
    expect = {
        int(r.user_id): (int(r.n), float(r.ewma_last))
        for r in QUERIES["events_ewma"](spark, SF_DIR).collect()
    }
    assert set(got) == set(expect)
    n_batches = got_df.groupby("user_id").size().max()
    for u, (n_b, e_b) in expect.items():
        n_s, e_s = got[u]
        assert n_s == n_b, u
        if n_batches == 1:
            assert e_s == e_b, u  # single-batch replay: bit-identical
        else:  # multi-batch interleaved arrival: order caveat applies
            assert abs(e_s - e_b) < 1e-6 * max(1.0, abs(e_b)), u


def test_stream_holt_equals_batch_fold(spark, tmp_path, event_json_dir):
    """Streamed Holt (level+trend) == the batch struct fold BIT-FOR-BIT
    on in-order replay — the events_holt_linear exactness contract
    extended to the 2-state stateful twin."""
    from etl_backend_spark.registry import QUERIES

    stream = cp.streaming_holt(
        cp.validate_events(cp.read_json_stream(spark, event_json_dir))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("holt")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_df = spark.sql("SELECT * FROM holt").toPandas()
    got = {
        int(r.user_id): (int(r.n), float(r.level), float(r.trend),
                         float(r.forecast_next))
        for r in got_df.groupby("user_id").tail(1).itertuples()
    }
    expect = {
        int(r.user_id): (int(r.n), float(r.level), float(r.trend),
                         float(r.forecast_next))
        for r in QUERIES["events_holt_linear"](spark, SF_DIR).collect()
    }
    assert set(got) == set(expect)
    n_batches = got_df.groupby("user_id").size().max()
    for u, want in expect.items():
        have = got[u]
        assert have[0] == want[0], u
        if n_batches == 1:
            assert have == want, u  # single-batch replay: bit-identical


def test_idle_session_close_drops_late_events_and_survives(
        spark, tmp_path):
    """r13 review pin of the operator's MEASURED late-data contract on
    PySpark 4.1.2: a below-watermark event for a new key is DROPPED by
    applyInPandasWithState's watermark filter before the handler (so
    the raw last+gap timeout can never compute below the watermark
    through the data path — the handler's wm+1 clamp is defense-in-
    depth for the boundary row and future semantics changes), the
    query SURVIVES the late arrival, and on-time keys' sessions flush
    normally. If a Spark upgrade changes the late-row semantics, this
    test fails loudly and the clamp comment must be revisited."""
    import time

    src = tmp_path / "late_json"
    src.mkdir()
    out_dir, ckpt = str(tmp_path / "sess"), str(tmp_path / "ck")

    def write(part, rows):
        with open(src / f"part-{part}.json", "w") as f:
            for eid, ts, uid in rows:
                f.write(json.dumps({
                    "event_id": eid, "ts": ts, "user_id": uid,
                    "event_type": "msg", "value": 1.0, "props": "{}",
                }) + "\n")

    # one file per micro-batch so the watermark advances BETWEEN the
    # on-time and late arrivals
    stream = cp.validate_events(
        cp.read_json_stream(spark, str(src), max_files_per_trigger=1))
    write(0, [(1, "2024-01-01T10:00:00Z", 1),
              (2, "2024-01-01T18:00:00Z", 1)])
    q = (
        cp.idle_session_close(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()  # watermark -> ~17:50
        # LATE: user 2 at 10:30, hours below the watermark; its
        # last + 30min gap (11:00) is also below -> needs the clamp
        write(1, [(3, "2024-01-01T10:30:00Z", 2)])
        q.processAllAvailable()
        assert q.isActive, q.exception()
        # advance the watermark past the clamped timeout -> flush
        write(2, [(4, "2024-01-01T22:00:00Z", 1),
                  (5, "2024-01-01T23:00:00Z", 1)])
        q.processAllAvailable()
        # one more nudge: timeouts fire on the NEXT trigger after the
        # watermark passes them
        write(3, [(6, "2024-01-02T03:00:00Z", 1)])
        q.processAllAvailable()
        assert q.isActive, q.exception()
    finally:
        q.stop()
        for _ in range(50):
            if not q.isActive:
                break
            time.sleep(0.2)
    got = {(r.user_id, r.session_start.isoformat(),
            r.session_end.isoformat(), r.n_events)
           for r in spark.read.parquet(out_dir).collect()}
    # the late event was dropped: no user-2 session, and the on-time
    # user-1 sessions all flushed (each event >30min apart = own session)
    assert not [g for g in got if g[0] == 2], got
    assert {g for g in got if g[0] == 1} == {
        (1, "2024-01-01T10:00:00", "2024-01-01T10:00:00", 1),
        (1, "2024-01-01T18:00:00", "2024-01-01T18:00:00", 1),
        (1, "2024-01-01T22:00:00", "2024-01-01T22:00:00", 1),
        (1, "2024-01-01T23:00:00", "2024-01-01T23:00:00", 1),
    }, got
