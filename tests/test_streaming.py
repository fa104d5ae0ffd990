"""End-to-end Structured Streaming tests: feed events through the chat
sink path (``read_json_stream`` → ``validate_events`` →
``stream_into_manifest``) as newline-JSON files and check what lands in the
``ManifestTable``."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_backend_spark.etl.manifest import ManifestTable
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


def _messages_table(spark, root) -> ManifestTable:
    t = ManifestTable(spark, str(root), "messages", ["event_id"])
    t.create(spark.createDataFrame([], cp.EVENT_WIRE_SCHEMA))
    return t


def test_stream_ingest_appends_all_valid_rows(spark, tmp_path, event_json_dir):
    t = _messages_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    stream = cp.validate_events(cp.read_json_stream(spark, event_json_dir))
    cp.run_available_now(cp.stream_into_manifest(stream, t, ckpt), "ingest")

    got = t.read()
    expect = Catalog(spark, SF_DIR).table("events")
    assert got.count() == expect.count()
    assert got.select(F.sum("event_id").alias("s")).collect()[0].s == \
        expect.select(F.sum("event_id").alias("s")).collect()[0].s


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop/restart with the same checkpoint: the second run processes ONLY
    files that arrived after the first run — no duplicates, no loss."""
    src = tmp_path / "arriving"
    src.mkdir()
    t = _messages_table(spark, tmp_path)
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
    cp.run_available_now(cp.stream_into_manifest(stream, t, ckpt), "resume1")
    assert t.read().count() == 10

    write_file("b.json", range(10, 25))
    stream2 = cp.read_json_stream(spark, str(src))
    cp.run_available_now(cp.stream_into_manifest(stream2, t, ckpt), "resume2")
    got = t.read()
    assert got.count() == 25
    assert got.select("event_id").distinct().count() == 25  # exactly once
