"""Registry: literal SURVEY.md §2 operator IDs whose semantics are already
covered by a differently-named query — registered under their §2 names so
the operator inventory maps 1:1 onto ``queries()`` keys (the remaining
non-key IDs are ``sink_static`` and ``stream_ack``, both documented as
non-engine concerns in §2.1/§2.9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import scalars
from ..sources.catalog import Catalog
from . import ORACLES, QUERIES, register


def alias(new_name: str, existing: str) -> None:
    """Register an existing builder under its §2 ID (same oracle)."""
    QUERIES[new_name] = QUERIES[existing]
    if existing in ORACLES:
        ORACLES[new_name] = ORACLES[existing]


alias("sink_json", "sink_json_roundtrip")
alias("source_files", "source_files_filter")
alias("limit_nested", "window_latest_per_group")   # §2.6: take:1 in include
alias("fn_json", "source_json")
alias("fn_bool_exists", "exists_flag")
alias("fn_now", "fn_nondeterministic")             # rows-only
alias("fn_uuid", "fn_nondeterministic")            # rows-only
alias("dedup_fuzzy", "dedup_minhash_lsh")          # §2.11 umbrella ID
alias("sim_topk", "sim_topk_brute")
alias("multimodal_cols", "multimodal_meta")
alias("fn_bcrypt", "fn_auth_roundtrip")            # rows-only
alias("fn_jwt", "fn_auth_roundtrip")               # rows-only


@register(
    "agg_page_math",
    oracle="""
    SELECT count(*) AS total,
           CAST(ceil(count(*) / 25.0) AS BIGINT) AS total_pages
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_agg_page_math(spark, sf_dir):
    """`totalPages = ceil(total/limit)` (reference src/routes/ads.ts:164)."""
    o = Catalog(spark, sf_dir).table("orders")
    total = o.filter(F.col("o_orderstatus") == "O").agg(
        F.count(F.lit(1)).alias("total")
    )
    return total.select(
        "total", scalars.pages(F.col("total"), 25).alias("total_pages")
    )


@register(
    "fn_cast_double",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS price
    FROM orders
    """,
)
def q_fn_cast_double(spark, sf_dir):
    """`parseFloat(price)` (reference src/routes/ads.ts:57)."""
    o = Catalog(spark, sf_dir).table("orders")
    return o.select(
        "o_orderkey",
        scalars.cast_double(F.col("o_totalprice").cast("string")).alias("price"),
    )


@register(
    "fn_cast_int",
    oracle="""
    SELECT o_orderkey, CAST(CAST(o_orderkey AS VARCHAR) AS INTEGER) AS page
    FROM orders WHERE o_orderkey < 1000000
    """,
)
def q_fn_cast_int(spark, sf_dir):
    """`parseInt(page)` (reference src/routes/ads.ts:97)."""
    o = Catalog(spark, sf_dir).table("orders").filter(F.col("o_orderkey") < 1000000)
    return o.select(
        "o_orderkey",
        scalars.cast_int(F.col("o_orderkey").cast("string")).alias("page"),
    )


@register(
    "fn_lower_contains",
    oracle="""
    SELECT p_partkey, contains(lower(p_name), 'green') AS hit FROM part
    """,
)
def q_fn_lower_contains(spark, sf_dir):
    """ci-substring (reference src/routes/ads.ts:106-107)."""
    p = Catalog(spark, sf_dir).table("part")
    return p.select(
        "p_partkey", scalars.lower_contains(F.col("p_name"), "GREEN").alias("hit")
    )


@register(
    "fn_ceil",
    oracle="SELECT o_orderkey, CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS kilo FROM orders",
)
def q_fn_ceil(spark, sf_dir):
    """`Math.ceil` (reference src/routes/ads.ts:164)."""
    o = Catalog(spark, sf_dir).table("orders")
    return o.select("o_orderkey", F.ceil(F.col("o_totalprice") / 1000.0).alias("kilo"))


@register(
    "fn_concat_name",
    oracle="""
    SELECT p_partkey,
           CAST(p_partkey AS VARCHAR) || '-' || md5(p_name) || '.jpg' AS filename
    FROM part
    """,
)
def q_fn_concat_name(spark, sf_dir):
    """Unique-filename building `${Date.now()}-${rand}${ext}` (reference
    src/routes/ads.ts:21) with deterministic components."""
    p = Catalog(spark, sf_dir).table("part")
    return p.select(
        "p_partkey",
        scalars.unique_filename(
            F.col("p_partkey").cast("string"), F.md5(F.col("p_name")), F.lit(".jpg")
        ).alias("filename"),
    )


@register(
    "fn_regex_match",
    oracle="""
    SELECT p_partkey, regexp_matches(p_type, 'ECONOMY|STANDARD') AS allowed
    FROM part
    """,
)
def q_fn_regex_match(spark, sf_dir):
    """Extension allow-list regex (reference src/routes/ads.ts:30-32)."""
    p = Catalog(spark, sf_dir).table("part")
    return p.select(
        "p_partkey", F.col("p_type").rlike("ECONOMY|STANDARD").alias("allowed")
    )


@register(
    "stream_ingest",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(props->>'$.k' AS INTEGER) AS k
    FROM events
    WHERE event_id IS NOT NULL AND user_id IS NOT NULL
      AND ts IS NOT NULL AND event_type IS NOT NULL
    """,
)
def q_stream_ingest(spark, sf_dir):
    """Batch form of the streaming ingest stage (parse + validate, reference
    src/websocket.ts:38-63); the live Structured Streaming path with the
    same transforms is `streaming.chat_pipeline.read_json_stream` →
    `validate_events` → `stream_into_manifest`."""
    ev = Catalog(spark, sf_dir).table("events")
    valid = ev.filter(
        F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    return valid.select(
        "event_id", "user_id", "ts",
        F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
    )


@register(
    "stream_route_keyed",
    oracle="""
    WITH m AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_presence
      FROM events
    ), with_state AS (
      SELECT *, sum(is_presence) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) > 0
                 AS online
      FROM m
    )
    SELECT user_id,
           CAST(sum(CASE WHEN NOT is_presence AND online THEN 1 ELSE 0 END)
                AS BIGINT) AS n_delivered,
           CAST(sum(CASE WHEN NOT is_presence AND NOT online THEN 1 ELSE 0 END)
                AS BIGINT) AS n_queued
    FROM with_state GROUP BY user_id
    """,
)
def q_stream_route_keyed(spark, sf_dir):
    """Batch form of keyed presence routing (reference src/websocket.ts:11,
    71-77): a user is online after their first 'signup' event; later events
    are delivered, earlier ones queued. There is no streaming form: the
    live streaming path is `streaming.chat_pipeline.stream_into_manifest`,
    which persists messages without routing them."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).table("events")
    is_presence = (F.col("event_type") == "signup").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_state = ev.select(
        "user_id", is_presence.alias("is_presence"),
        (F.sum(is_presence).over(w) > 0).alias("online"),
    )
    msg = F.col("is_presence") == 0
    return with_state.groupBy("user_id").agg(
        F.sum(F.when(msg & F.col("online"), 1).otherwise(0)).alias("n_delivered"),
        F.sum(F.when(msg & ~F.col("online"), 1).otherwise(0)).alias("n_queued"),
    )
