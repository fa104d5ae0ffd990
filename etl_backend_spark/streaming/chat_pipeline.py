"""Structured Streaming sink path reproducing the reference's WebSocket chat
flow (reference src/websocket.ts:38-63; SURVEY.md §2.9): a message is
parsed, validated and persisted.

- ``ws.on('message') → JSON.parse`` → ``read_json_stream``: a file-source
  ``readStream`` with a declared schema.
- the reference's required-field checks → ``validate_events``.
- ``message.create`` → ``stream_into_manifest``: each micro-batch commits
  to a ``ManifestTable`` exactly once (``append_once``).

``run_available_now`` drains the available input and stops, which is how
perfbench's ``send_messages`` and the tests drive the stream. The
registered, oracle-gated batch forms are ``stream_ingest`` (parse and
validate) and ``stream_route_keyed`` (the reference's keyed delivery to
online receivers, src/websocket.ts:11,71-77), in ``registry/aliases.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def run_available_now(writer, query_name: str = "q"):
    """Drain all currently-available input and stop (test/batch-catchup
    trigger; production uses a continuous processingTime trigger)."""
    q = writer.trigger(availableNow=True).queryName(query_name).start()
    q.awaitTermination()
    return q


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
