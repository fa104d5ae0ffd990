"""Structured Streaming pipelines reproducing the reference's WebSocket chat
dataflow (reference src/websocket.ts:13-105; SURVEY.md §2.9), plus the
event-time machinery the reference lacks (watermarks, windows).

Mapping:

- ``ws.on('message') → JSON.parse → message.create``
  (src/websocket.ts:38-63) → file/any source ``readStream`` → ``from_json``
  with a declared schema → validity filter → parquet append sink.
- ``Conversation.updatedAt`` maintenance (src/websocket.ts:65-68) →
  streaming ``groupBy(key).agg(max(ts))`` in update mode.
- keyed delivery to online receivers via the in-memory ``clients`` map
  (src/websocket.ts:11,71-77) → ``applyInPandasWithState`` keyed by user:
  presence events flip per-key state; message events emit routed/queued
  decisions against the current state.

Scale notes: streaming aggs shuffle once per micro-batch on the group key;
state is partitioned by key across executors (RocksDB-backed state store on a
real cluster). Watermarks bound state size — without them per-key state grows
unboundedly at 100 TB/day event volumes.
"""

from __future__ import annotations

import bisect
import os
from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Wire schema of a chat event — the reference's WS payload
# {type, conversationId, content, receiverId} (src/websocket.ts:40-43),
# mapped onto the events-table vocabulary.
EVENT_WIRE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

ROUTED_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_delivered", LongType()),
        StructField("n_queued", LongType()),
        StructField("online", StringType()),
    ]
)


def read_json_stream(spark: SparkSession, source_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source ingestion of newline-JSON chat events with a DECLARED
    schema (never inferred — reference parses into a fixed shape,
    src/websocket.ts:40-43)."""
    reader = spark.readStream.schema(EVENT_WIRE_SCHEMA)
    # `is not None`, not truthiness: an explicit 0 must reach Spark's own
    # loud rejection instead of silently unthrottling the stream (r13)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(source_dir)


def validate_events(stream: DataFrame) -> DataFrame:
    """Per-event validation — the reference rejects events without required
    fields before insert (src/websocket.ts:44-58)."""
    return stream.filter(
        F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )


def append_sink(stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """`message.create` as an append-mode parquet sink
    (reference src/websocket.ts:59-63)."""
    return (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def conversation_touch(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Running max(ts) + message count per key — `Conversation.updatedAt`
    maintenance (reference src/websocket.ts:65-68) as an update-mode
    streaming agg. The watermark bounds LATE DATA only: a non-windowed
    groupBy(key) aggregation keeps one state row per key FOREVER
    (watermarks evict aggregation state only when the grouping key
    contains an event-time window — r13 review corrected the earlier
    claim here). That is the right contract for this operator — the
    reference's Conversation table is itself one row per conversation,
    so state size tracks the entity population, not the event stream;
    pipelines needing key eviction use idle_session_close's
    timeout-based state removal instead."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .agg(F.max("ts").alias("updated_at"), F.count(F.lit(1)).alias("n_messages"))
    )


def windowed_counts(stream: DataFrame, window: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Tumbling event-time window counts — the event-time extension the
    reference lacks entirely (SURVEY.md §2.9)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def _ordered_batch(pdfs: Iterable[pd.DataFrame]):
    """Concatenate a group's Arrow chunks and order by event time with
    the event_id tiebreak, adding an int64 ``__us`` column —
    applyInPandasWithState delivers a group's batch as MULTIPLE chunks
    in arbitrary relative order, and six stateful handlers each
    re-implemented this ordering with drifting variants (r13 review).
    Returns None for an empty batch; handlers that fold only ``__us``
    are insensitive to the tiebreak."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    batch = pd.concat(chunks, ignore_index=True)
    us = (
        pd.to_datetime(batch["ts"]).astype("datetime64[ns]").astype("int64")
        // 1000
    )
    return batch.assign(__us=us).sort_values(["__us", "event_id"])


def _route_messages(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Stateful presence routing for one user key.

    State: (online: bool, delivered: long, queued: long). 'login'/'logout'
    events flip presence (the reference's clients-map add/remove,
    src/websocket.ts:33,94-99); every other event is a message delivered iff
    the user is online at processing time (src/websocket.ts:71-77)."""
    if state.exists:
        online, delivered, queued = state.get
    else:
        online, delivered, queued = False, 0, 0
    # concatenate + sort ONCE so presence flips replay in global event
    # order, not per-chunk order (_ordered_batch)
    batch = _ordered_batch(pdfs)
    if batch is not None:
        for et in batch["event_type"]:
            if et == "login":
                online = True
            elif et == "logout":
                online = False
            elif online:
                delivered += 1
            else:
                queued += 1
    state.update((online, delivered, queued))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_delivered": [delivered],
            "n_queued": [queued],
            "online": ["online" if online else "offline"],
        }
    )


def presence_routing(stream: DataFrame) -> DataFrame:
    """Keyed delivery against per-user presence state — the reference's
    in-memory ``Map<userId, ws>`` (src/websocket.ts:11) as
    ``applyInPandasWithState`` keyed state, partitioned across executors."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _route_messages,
            outputStructType=ROUTED_SCHEMA,
            stateStructType="online boolean, delivered long, queued long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


ROLLING_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("n_1h", LongType()),
    ]
)

_ROLL_W_US = 3_600_000_000  # 1 hour, matching window_rolling_range


def _rolling_counter(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Per-user trailing-1h event counter: for EVERY incoming event, emit
    how many of the user's events fall in [ts - 1h, ts] — the rate-limit
    probe the reference runs as a per-request COUNT query
    (src/routes/ads.ts:155 count-then-act), kept incrementally here.

    State is the user's event timestamps (µs) inside the trailing hour
    behind the NEWEST stamp seen — bounded by per-user event rate, pruned
    as the frame slides, never the full history. Events are replayed in
    (ts, event_id) order within the batch (chunks arrive unordered); a
    cross-batch LATE event (ts older than the state tail) is inserted at
    its sorted position and counted exactly over its own [ts-1h, ts]
    frame via bisect — late stamps never corrupt the sort invariant the
    prefix prune relies on. The watermark contract: stamps older than
    (newest - 1h) are dropped, so a late event whose frame reaches below
    that horizon undercounts by the pruned stamps — the batch twin
    (window_rolling_range) is the exact restatement tool."""
    stamps: list[int] = list(state.get[0]) if state.exists else []
    batch = _ordered_batch(pdfs)
    out_eid: list[int] = []
    out_n: list[int] = []
    if batch is not None:
        # tie groups processed atomically: RANGE-frame peers (identical ts)
        # count each other, whichever replay order they arrive in
        for t, grp in batch.groupby("__us", sort=True):
            t = int(t)
            # sorted insert: in-order events append at the tail (pos ==
            # len); a cross-batch late event lands mid-list, keeping the
            # sort invariant
            pos = bisect.bisect_right(stamps, t)
            stamps[pos:pos] = [t] * len(grp)
            # exact frame count for THIS event's [t-1h, t], independent of
            # any newer stamps already in state
            lo = t - _ROLL_W_US
            n = bisect.bisect_right(stamps, t) - bisect.bisect_left(stamps, lo)
            # prune against the NEWEST stamp's frame (not this event's):
            # stamps >= newest-1h stay live for future in-order events
            k = bisect.bisect_left(stamps, stamps[-1] - _ROLL_W_US)
            if k:
                stamps = stamps[k:]
            out_eid.extend(int(e) for e in grp["event_id"])
            out_n.extend([n] * len(grp))
    state.update((stamps,))
    yield pd.DataFrame(
        {
            "event_id": out_eid,
            "user_id": [key[0]] * len(out_eid),
            "n_1h": out_n,
        }
    )


def rolling_rate_counter(stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch window_rolling_range count: per-event
    trailing-1h frame size per user via keyed state (append mode — one
    output row per event). At 100 TB/day the state store holds only each
    user's last hour of timestamps, partitioned by user across executors."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _rolling_counter,
            outputStructType=ROLLING_SCHEMA,
            stateStructType="stamps array<bigint>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_available_now(writer, query_name: str = "q"):
    """Drain all currently-available input and stop (test/batch-catchup
    trigger; production uses a continuous processingTime trigger)."""
    q = writer.trigger(availableNow=True).queryName(query_name).start()
    q.awaitTermination()
    return q


def stream_stream_join(left: DataFrame, right: DataFrame,
                       watermark: str = "1 hour",
                       join_window: str = "1 hour") -> DataFrame:
    """Stream-stream inner join with event-time bounds: each left event
    matches right events of the same user within [left.ts - window, left.ts].
    Both sides carry watermarks so the join state store evicts rows older
    than watermark + window — without the time bound the state would grow
    unboundedly (Spark rejects unbounded stream-stream joins in append
    mode for exactly that reason)."""
    l2 = left.withWatermark("ts", watermark).alias("l")
    r2 = right.withWatermark("ts", watermark).alias("r")
    return l2.join(
        r2,
        F.expr(
            f"""l.user_id = r.user_id AND
                r.ts BETWEEN l.ts - INTERVAL {join_window} AND l.ts"""
        ),
    ).select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )


def read_json_stream_permissive(spark: SparkSession, source_dir: str) -> DataFrame:
    """Ingestion variant that quarantines malformed records instead of
    failing the stream: PERMISSIVE mode routes unparseable lines into
    ``_corrupt_record`` (the reference's try/catch around JSON.parse,
    src/websocket.ts:39-44, as a dataflow)."""
    schema = StructType(
        EVENT_WIRE_SCHEMA.fields + [StructField("_corrupt_record", StringType())]
    )
    return (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(source_dir)
    )


def split_corrupt(stream: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine) split of a permissive ingest."""
    valid = stream.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    # Spark disallows projecting ONLY the corrupt column from a raw file scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — keep a parsed column beside it.
    bad = stream.filter(F.col("_corrupt_record").isNotNull()).select(
        "event_id", F.col("_corrupt_record").alias("raw")
    )
    return valid, bad


def dedup_stream(stream: DataFrame, keys: list[str],
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication: at-least-once sources (replayed
    batches, reconnecting websocket clients) become exactly-once rows.
    ``dropDuplicatesWithinWatermark`` bounds the dedup state store to the
    watermark horizon — a plain dropDuplicates would keep every key ever
    seen (unbounded state at 100 TB/day)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def enrich_with_static(stream: DataFrame, dim: DataFrame,
                       on: str = "user_id") -> DataFrame:
    """Stream-static join: every micro-batch joins against the CURRENT
    static DataFrame (re-planned per batch, so a broadcast-able dim rides
    as a broadcast hash join with no streaming state at all — unlike
    stream-stream joins there is nothing to watermark). The reference's
    per-message user lookup (src/websocket.ts:71-77 via the clients map)
    as a dataflow enrichment."""
    return stream.join(F.broadcast(dim), on=on, how="left")


def stream_into_manifest(stream: DataFrame, table, checkpoint_dir: str,
                         txn_app_id: str | None = None):
    """foreachBatch → manifest table with TRANSACTIONAL idempotence: each
    micro-batch commits via ``ManifestTable.append_once`` — the dedup token
    and the file list land in the same atomic pointer swap, so an
    at-least-once replay after any crash point is a no-op (the marker and
    the data cannot diverge, unlike marker-file protocols).

    The token is ``(txn_app_id, batch_id)`` — Delta's (txnAppId,
    txnVersion) pattern: batch ids alone restart at 0 for every new query,
    so two different streams writing one table would collide. The app id
    defaults to the checkpoint location, which IS the query's identity
    (same checkpoint = same batch-id sequence = genuine replays).

    A commit that loses a race to a concurrent writer (a second stream, a
    compaction job) raises CommitConflict; append_once is idempotent per
    txn, so the handler simply retries — on retry the snapshot re-checks
    membership, making duplicate application impossible."""
    import hashlib

    from ..etl.manifest import CommitConflict

    app = txn_app_id or hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        for attempt in range(5):
            try:
                table.append_once(batch_df, txn=f"{app}:{batch_id}")
                return
            except CommitConflict:
                if attempt == 4:
                    raise

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )


# ------------------------------------------------------------ stream funnel

FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_view", TimestampType()),
        StructField("t_click", TimestampType()),
        StructField("t_purchase", TimestampType()),
    ]
)

_FUNNEL_STAGES = ("view", "click", "purchase")


def _funnel_tracker(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Per-user ordered-funnel state machine: state is the three first-hit
    timestamps (µs; -1 = not reached) — CONSTANT-size per key, the
    streaming-state analog of the batch window chain in
    registry/events.q_events_funnel. Stage k advances only on an event
    strictly AFTER stage k-1's first hit (same strict-order contract);
    within a micro-batch events are replayed in (ts, event_id) order so
    arrival order can't reorder the funnel. A row is emitted exactly once,
    when the user COMPLETES the funnel (append-mode semantics: completed
    conversions are immutable downstream facts).

    Late-data contract (differs from the batch twin at the margin): each
    stage records the first hit OBSERVED in stream order — a CROSS-batch
    late event with an earlier timestamp does not retroactively lower an
    already-set stage (the batch window chain, which sees all data, takes
    the global min). This is the standard streaming-funnel watermark
    trade-off; run the batch form for exact restatement."""
    t = list(state.get) if state.exists else [-1, -1, -1]
    done_before = t[2] >= 0
    batch = _ordered_batch(pdfs)
    if batch is not None:
        for typ, ts in zip(batch["event_type"], batch["__us"]):
            ts = int(ts)
            if typ == "view" and t[0] < 0:
                t[0] = ts
            elif typ == "click" and t[1] < 0 and 0 <= t[0] < ts:
                t[1] = ts
            elif typ == "purchase" and t[2] < 0 and 0 <= t[1] < ts:
                t[2] = ts
    state.update((t[0], t[1], t[2]))
    if t[2] >= 0 and not done_before:
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "t_view": [pd.Timestamp(t[0], unit="us")],
                "t_click": [pd.Timestamp(t[1], unit="us")],
                "t_purchase": [pd.Timestamp(t[2], unit="us")],
            }
        )
    else:
        yield pd.DataFrame(
            {c: [] for c in ("user_id", "t_view", "t_click", "t_purchase")}
        )


def funnel_conversions(stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch ordered funnel: emits one row per user
    at the moment they complete view → click → purchase. State per key is
    three timestamps — at 100 TB/day the store holds |active users| × 24
    bytes, partitioned by user across executors, and never grows with
    event volume."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _funnel_tracker,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType="t_view long, t_click long, t_purchase long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------------- TTL state eviction

SESSION_CLOSE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_IDLE_GAP_MIN = 30


def _idle_session_closer(key, pdfs: Iterable[pd.DataFrame],
                         state: GroupState):
    """Keyed state with EVENT-TIME TIMEOUT — the state-EVICTION pattern
    every 100 TB/day stateful pipeline needs: a user's open session lives
    in the store only until the watermark passes last-event + gap; then
    the timeout fires HERE (hasTimedOut, no input rows), the completed
    session is emitted exactly once, and ``state.remove()`` frees the
    slot. Without a timeout path, keys that go quiet (most of them) pin
    state forever — the NoTimeout operators in this module bound state by
    VALUE size instead; this one bounds the KEY population."""
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame({
            "user_id": [key[0]],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(last_us, unit="us")],
            "n_events": [int(n)],
        })
        return
    start_us, last_us, n = state.get if state.exists else (None, None, 0)
    out = {"user_id": [], "session_start": [], "session_end": [],
           "n_events": []}
    batch = _ordered_batch(pdfs)
    if batch is not None:
        for t in (int(x) for x in batch["__us"]):
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > _IDLE_GAP_MIN * 60_000_000:
                # gap within the batch: close the old session inline
                out["user_id"].append(key[0])
                out["session_start"].append(
                    pd.Timestamp(start_us, unit="us"))
                out["session_end"].append(pd.Timestamp(last_us, unit="us"))
                out["n_events"].append(int(n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = max(last_us, t), n + 1
    state.update((start_us, last_us, n))
    # evict when the WATERMARK passes the idle gap after the last event.
    # CLAMPED above the current watermark (r13 review):
    # setTimeoutTimestamp raises INVALID_TIMEOUT_TIMESTAMP — killing
    # the whole streaming query — if handed a value at or below the
    # watermark. Measured on PySpark 4.1.2 the operator DROPS
    # below-watermark input rows before the handler (pytest-pinned:
    # test_idle_session_close_drops_late_events_and_survives), which
    # makes last >= watermark and the raw target unreachable-below-wm
    # through the data path; the clamp is deliberate defense-in-depth
    # for the boundary row (ts == watermark) and for any future change
    # to the operator's late-row semantics, and costs nothing when it
    # doesn't bind.
    target = last_us // 1000 + _IDLE_GAP_MIN * 60_000
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(target, wm + 1))
    yield pd.DataFrame(out)


def idle_session_close(stream: DataFrame,
                       watermark: str = "10 minutes") -> DataFrame:
    """Sessionize with state eviction: sessions emit when closed (by an
    in-batch gap or by event-time timeout) and their state is REMOVED.
    The streaming twin of ``stream_sessionize``'s session_window, built
    on the raw state API to make the eviction contract explicit.

    Requires a UTC session timezone (the engine's get_spark pins it):
    Arrow hands the state handler tz-NAIVE timestamps rendered in the
    session zone, while setTimeoutTimestamp compares epoch-UTC ms
    against the watermark — under any other zone the timeout lands a
    tz-offset away from the advertised gap (r13 review). Guarded here,
    at assembly time where the conf is visible, instead of silently
    skewing."""
    tz = stream.sparkSession.conf.get("spark.sql.session.timeZone", "")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        raise ValueError(
            f"idle_session_close requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the event-time timeout arithmetic treats the "
            "Arrow-delivered naive timestamps as epoch-UTC")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _idle_session_closer,
            outputStructType=SESSION_CLOSE_SCHEMA,
            stateStructType=(
                "session_start long, session_end long, n_events long"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


EWMA_SCHEMA = "user_id bigint, n bigint, ewma_last double"


def _ewma_fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Per-user streaming EWMA (alpha = 1/2), the stateful twin of the
    batch events_ewma fold: state is just (n, ewma) — O(1) per key, the
    smallest possible stateful aggregate — and each batch's events fold
    in (ts, event_id) order. Dyadic add-then-halve is exact IEEE
    arithmetic, so on in-order replay the streamed value is
    BIT-IDENTICAL to the batch HOF fold (pytest-asserted). Ordering
    contract: within a batch events sort before folding; an event
    arriving in a LATER batch than a newer-ts event folds at arrival
    position (EWMA is order-sensitive and exact late-insert needs the
    full history — the batch twin is the restatement tool, same contract
    as the rolling counter's watermark note)."""
    if state.exists:
        n, ew = state.get
        n = int(n)
    else:
        n, ew = 0, None
    batch = _ordered_batch(pdfs)
    if batch is not None:
        for v in batch["value"]:
            v = float(v)
            ew = v if ew is None else (ew + v) / 2.0
            n += 1
    state.update((n, ew))
    yield pd.DataFrame({
        "user_id": [key[0]], "n": [n], "ewma_last": [ew],
    })


def streaming_ewma(stream: DataFrame) -> DataFrame:
    """Streaming per-user EWMA via applyInPandasWithState (update mode:
    one row per user per batch carrying the running value). At 100 TB/day
    the state is 16 bytes per user — the floor for stateful aggregation."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _ewma_fold,
            outputStructType=EWMA_SCHEMA,
            stateStructType="n bigint, ewma double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


HOLT_SCHEMA = (
    "user_id bigint, n bigint, level double, trend double, "
    "forecast_next double"
)


def _holt_fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Per-user streaming Holt (level + trend, alpha = beta = 1/2), the
    stateful twin of the batch events_holt_linear fold: state is
    (n, level, trend) — 24 bytes per key. The recurrence bootstraps
    exactly like the batch op (n=1: level=v1, trend=0; n=2: level=v2,
    trend=v2-v1), and every step is add/subtract/halve in the identical
    order, so on in-order replay the streamed (level, trend, forecast)
    are BIT-IDENTICAL to the batch HOF fold at every prefix
    (pytest-asserted). Same late-arrival contract as streaming_ewma: the
    fold is order-sensitive; the batch twin is the restatement tool."""
    if state.exists:
        n, lv, tr = state.get
        n = int(n)
    else:
        n, lv, tr = 0, None, 0.0
    batch = _ordered_batch(pdfs)
    if batch is not None:
        for v in batch["value"]:
            v = float(v)
            if n == 0:
                lv, tr = v, 0.0
            elif n == 1:
                lv, tr = v, v - lv
            else:
                ln = (v + lv + tr) / 2.0
                tr = ((ln - lv) + tr) / 2.0
                lv = ln
            n += 1
    state.update((n, lv, tr))
    yield pd.DataFrame({
        "user_id": [key[0]], "n": [n], "level": [lv], "trend": [tr],
        "forecast_next": [None if lv is None else lv + tr],
    })


def streaming_holt(stream: DataFrame) -> DataFrame:
    """Streaming per-user Holt forecast via applyInPandasWithState — the
    2-state generalization of streaming_ewma (24 bytes per user; update
    mode emits the running level/trend/one-step forecast per batch)."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _holt_fold,
            outputStructType=HOLT_SCHEMA,
            stateStructType="n bigint, level double, trend double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
