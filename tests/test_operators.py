"""Unit tests for the operator library at sf0.001 (semantic invariants the
oracle gate can't express: pagination disjointness/exhaustiveness, upsert
idempotence, soft-delete visibility, dedup keep-first, plan-shape checks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_backend_spark.operators import aggregates, filters, joins, pagination, windows
from etl_backend_spark.plans.query_builder import SearchParams, ads_search, ads_search_total
from tests.conftest import SF_DIR


# ---------------------------------------------------------------- pagination

def test_pages_disjoint_and_exhaustive(cat):
    """Walking all pages yields each filtered row exactly once (reference
    pagination contract, src/routes/ads.ts:93-97)."""
    o = cat.table("orders").filter(F.col("o_orderstatus") == "O")
    total = o.count()
    order = pagination.sort_spec("newest", tie_break="o_orderkey")
    limit = 100
    seen: set[int] = []
    seen = []
    page = 1
    while True:
        rows = pagination.paginate_offset(o, order, page, limit).collect()
        if not rows:
            break
        seen.extend(r.o_orderkey for r in rows)
        page += 1
        assert page < 100, "runaway pagination"
    assert len(seen) == total
    assert len(set(seen)) == total  # disjoint


def test_page_is_prefix_window_of_sort(cat):
    o = cat.table("orders")
    order = pagination.sort_spec("price_high", tie_break="o_orderkey")
    p1 = pagination.paginate_offset(o, order, 1, 10).collect()
    top = pagination.top_k(o, order, 10).collect()
    assert [r.o_orderkey for r in p1] == [r.o_orderkey for r in top]


def test_keyset_equals_offset_deep_page(cat):
    """Keyset pagination returns the same rows as offset pagination when
    cursor = last key of the previous page."""
    o = cat.table("orders").select("o_orderkey")
    order = [F.col("o_orderkey").asc()]
    first = pagination.paginate_offset(o, order, 1, 50).collect()
    cursor = first[-1].o_orderkey
    via_offset = [r.o_orderkey for r in pagination.paginate_offset(o, order, 2, 50).collect()]
    via_keyset = [r.o_orderkey for r in pagination.keyset_page(o, "o_orderkey", cursor, 50).collect()]
    assert via_offset == via_keyset


# ---------------------------------------------------------------- flagship

def test_flagship_total_matches_filter_count(cat):
    p = SearchParams(status="O", min_price=1000.0, max_price=150000.0)
    total_row = ads_search_total(cat, p).collect()[0]
    manual = (
        cat.table("orders")
        .filter(
            (F.col("o_orderstatus") == "O")
            & F.col("o_totalprice").between(1000.0, 150000.0)
        )
        .count()
    )
    assert total_row.total == manual
    assert total_row.total_pages == -(-manual // 20)


def test_flagship_page_size_and_sort(cat):
    p = SearchParams(status="O", sort_by="price_low", page=1, limit=15)
    rows = ads_search(cat, p).collect()
    assert len(rows) == 15
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices)


# ---------------------------------------------------------------- joins

def test_lookup_n1_broadcast_plan(cat):
    """The n:1 dim join must plan as a broadcast hash join at any scale."""
    out = joins.lookup_n1(
        cat.table("lineitem"), cat.table("part"), "l_partkey", "p_partkey"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_semi_anti_partition_universe(cat):
    """semi(P) ∪ anti(P) == parent, disjoint."""
    c = cat.table("customer")
    o = cat.table("orders")
    on = c["c_custkey"] == o["o_custkey"]
    n_semi = joins.semi(c, o, on).count()
    n_anti = joins.anti(c, o, on).count()
    assert n_semi + n_anti == c.count()


# ---------------------------------------------------------------- aggregates

def test_relation_count_zero_for_childless(spark, cat):
    parent = spark.range(3).select(F.col("id").alias("pk"))
    child = spark.range(1).select(F.lit(0).alias("fk"))
    out = aggregates.relation_count(parent, child, "pk", "fk", alias="n")
    got = {r.pk: r.n for r in out.collect()}
    assert got == {0: 1, 1: 0, 2: 0}


def test_multi_count_single_pass(cat):
    o = cat.table("orders")
    row = aggregates.multi_count(
        o, {"n": None, "n_open": F.col("o_orderstatus") == "O"}
    ).collect()[0]
    assert row.n == o.count()
    assert row.n_open == o.filter(F.col("o_orderstatus") == "O").count()


# ---------------------------------------------------------------- windows

def test_latest_per_group_is_argmax(cat):
    ev = cat.table("events")
    latest = windows.latest_per_group(
        ev, "user_id", [F.col("ts").desc(), F.col("event_id").desc()]
    )
    # one row per user, and its ts is that user's max ts
    per_user = latest.groupBy("user_id").count().filter(F.col("count") > 1).count()
    assert per_user == 0
    joined = (
        latest.select("user_id", "ts")
        .join(
            ev.groupBy("user_id").agg(F.max("ts").alias("mx")),
            "user_id",
        )
        .filter(F.col("ts") != F.col("mx"))
    )
    assert joined.count() == 0


# ---------------------------------------------------------------- filters

def test_dynamic_filter_fold_equals_chained(cat):
    li = cat.table("lineitem")
    preds = [
        filters.eq("l_linestatus", "F"),
        filters.range_pred("l_quantity", 10.0, None),
    ]
    a = filters.apply(li, preds).count()
    b = li.filter(F.col("l_linestatus") == "F").filter(F.col("l_quantity") >= 10.0).count()
    assert a == b


def test_empty_predicate_list_is_identity(cat):
    li = cat.table("lineitem")
    assert filters.apply(li, []).count() == li.count()


def test_ci_contains_matches_ilike_semantics(cat):
    p = cat.table("part")
    a = p.filter(filters.ci_contains("p_name", "GREEN")).count()
    b = p.filter(F.lower(F.col("p_name")).like("%green%")).count()
    assert a == b


# ---------------------------------------------------------------- plan shape

def test_filter_pushdown_reaches_scan(cat):
    df = cat.table("lineitem").filter(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_column_pruning_reaches_scan(cat):
    df = cat.table("lineitem").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_salted_agg_equals_plain(cat):
    from etl_backend_spark.operators import skew

    ev = cat.table("events")
    salted = {
        r.user_id: (r.n, round(r.s, 6), r.mx)
        for r in skew.salted_agg(
            ev, ["user_id"], "event_id",
            [("event_id", "count", "n"), ("value", "sum", "s"), ("ts", "max", "mx")],
        ).collect()
    }
    plain = {
        r.user_id: (r.n, round(r.s, 6), r.mx)
        for r in ev.groupBy("user_id").agg(
            F.count("event_id").alias("n"), F.sum("value").alias("s"),
            F.max("ts").alias("mx"),
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(cat):
    from etl_backend_spark.operators import skew

    li = cat.table("lineitem").select("l_orderkey", "l_partkey", "l_linenumber")
    part = cat.table("part").select("p_partkey", "p_brand")
    salted = skew.salted_join(li, part, "l_partkey", "p_partkey", "l_orderkey")
    plain = li.join(part, li["l_partkey"] == part["p_partkey"])
    assert salted.count() == plain.count()
    a = {(r.l_orderkey, r.l_linenumber, r.p_brand) for r in salted.collect()}
    b = {(r.l_orderkey, r.l_linenumber, r.p_brand) for r in plain.collect()}
    assert a == b


def test_python_datasource_batch_deterministic(spark):
    """Custom PySpark-4 Python DataSource: partitioned deterministic reads."""
    from etl_backend_spark.sources.event_source import SyntheticEventsDataSource

    spark.dataSource.register(SyntheticEventsDataSource)
    df = (spark.read.format("synthetic_events")
          .option("numRows", 500).option("numPartitions", 4).load())
    assert df.count() == 500
    assert df.select("event_id").distinct().count() == 500
    a = sorted(r.event_id for r in df.filter(F.col("event_type") == "click").collect())
    b = sorted(r.event_id for r in
               spark.read.format("synthetic_events").option("numRows", 500)
               .option("numPartitions", 2).load()
               .filter(F.col("event_type") == "click").collect())
    assert a == b  # partitioning never changes content
    assert df.rdd.getNumPartitions() == 4


def test_python_datasource_stream(spark, tmp_path):
    from etl_backend_spark.sources.event_source import SyntheticEventsDataSource

    spark.dataSource.register(SyntheticEventsDataSource)
    stream = (spark.readStream.format("synthetic_events")
              .option("rowsPerBatch", 50).load())
    q = (stream.writeStream.format("memory").queryName("synth")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM synth").collect()
    assert len(got) >= 50
    assert all(r.event_type in {"click", "view", "purchase", "signup", "error"}
               for r in got)


def test_apply_in_pandas_zscore_equals_window(spark, cat):
    """Grouped-map applyInPandas == built-in window normalization (the UDF
    escape hatch must agree with the expression path where both can express
    the op)."""
    import pandas as pd

    ev = cat.table("events").select("event_id", "user_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        return pd.DataFrame({
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "z": ((pdf["value"] - mu) / sd).round(4),
        })

    via_pandas = {
        (r.event_id): r.z
        for r in ev.groupBy("user_id")
        .applyInPandas(zscore, schema="event_id long, user_id long, z double")
        .collect()
    }
    from etl_backend_spark.registry import QUERIES
    via_window = {
        r.event_id: r.z
        for r in QUERIES["events_zscore"](spark, "/root/testdata/sf0.001").collect()
    }
    assert via_pandas == via_window


def test_file_sink_roundtrips(spark, cat, tmp_path):
    """sink surfaces: parquet/json/csv writes re-read to identical content
    (reference res.json emission, src/routes/ads.ts:158-166, as file sinks)."""
    src = cat.table("orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    expect = {(r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2))
              for r in src.collect()}

    p_parq = str(tmp_path / "o_parquet")
    src.write.parquet(p_parq)
    got_p = spark.read.parquet(p_parq)

    p_json = str(tmp_path / "o_json")
    src.write.json(p_json)
    got_j = spark.read.schema(src.schema).json(p_json)

    p_csv = str(tmp_path / "o_csv")
    src.write.option("header", True).csv(p_csv)
    got_c = spark.read.schema(src.schema).option("header", True).csv(p_csv)

    for got in (got_p, got_j, got_c):
        rows = {(r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2))
                for r in got.collect()}
        assert rows == expect


# Headline set: one per operator family, weighted toward shuffle/join-heavy
# shapes where plan quality shows.
HEADLINE = [
    "ads_search",              # flagship: filter+join+count-join+sort+page
    "agg_sum_group",           # TPC-H Q1 shape: wide grouped agg
    "join_self_roles",         # multi-join + dual-role dim (Q7 shape)
    "join_two_hop",            # fact-fact-dim chain
    "agg_relation_count",      # pre-agg + join-back
    "window_latest_per_group", # top-1 per key window
    "stream_sessionize",       # session_window gaps-and-islands
    "dedup_exact",             # hash groupBy dedup
    "dedup_ngram_jaccard",     # shingle explode + self-join (LSH cost shape)
    "sim_topk_brute",          # broadcast cosine top-k (expression scorer)
    "sim_topk_pandas",         # same, numpy Arrow-batch scorer (fast path)
    "sim_topk_pq",             # product-quantized ADC scan + exact rerank
    "multimodal_audio",        # real WAV decode through mapInPandas
    "dedup_minhash_lsh",       # signature + band equi-join (LSH scale path)
    "join_asof",               # union + running-last as-of join
    "tpch_q3_shape",           # selective filter + 2-hop join + top-k
    "tpch_q5_shape",           # 6-table star join, broadcast dims
    "tpch_q1_shape",           # canonical scan-heavy pricing summary
    "tpch_q6_shape",           # pure pushdown scan-agg
    "text_stats",              # regexp-heavy scalar pipeline
    "doc_chunk",               # overlapping-window chunking (explode)
    "seq_pack",                # shuffle-order + cumsum packing
    "split_assign",            # md5-bucket train/val/test
    "paginate_offset",         # TakeOrderedAndProject
    "join_two_hop_bucketed",   # co-located fact join (zero-shuffle layout)
    "tpch_q5_bucketed",        # Q5 over the co-located layout (1 exchange)
    "tpch_q3_bucketed",        # Q3 over the layout (0 exchanges end-to-end)
    "join_1n_nested",          # nested include, bucketed-default (0 shuffles)
    "join_1n_nested_plain",    # same over plain parquet (repart-first collect)
    "join_1n_nested_bucketed", # explicit co-located layout (0 shuffles)
    "window_rolling_range",    # 1h trailing interval frame per key
    "window_latest_per_group_bucketed",  # keyed window, zero-shuffle layout
    "events_user_daily",       # combined layout: pruned dirs + 0 exchanges
    "events_funnel",           # ordered funnel, single-exchange window chain
    "multimodal_video",        # real MJPEG-AVI parse + per-frame JPEG decode
    # round-6 additions
    "sim_topk_ivfpq",          # persisted IVF-PQ: partition-pruned ADC scan
    "text_search_indexed",     # inverted-index keyword AND-search
    "lm_quality_trigram",      # corpus-trained trigram LM scoring
    "tokenize_bpe",            # BPE train (cached) + memoized Arrow apply
    "multimodal_webp",         # real VP8L decode, pixel-exact oracle
    # round-7 additions
    "semdedup_kmeans",         # SemDeDup: k-means + within-cluster prune
    "semdedup_incremental",    # ingest shape: batch vs frozen base kept set
    "dedup_minhash_incremental",  # fuzzy ingest: batch vs persisted band index
    "dedup_incremental",       # exact ingest: batch vs persisted sha256 index (r13)
    "embedding_pca",           # distributed moments + 64x64 eigh + project
    "dsir_importance",         # DSIR hashed-ngram importance selection
    "knn_graph_lsh",           # full-corpus approximate kNN graph
    "text_phrase_indexed",     # positional-index phrase adjacency join
    "bm25_search_indexed",     # ranked OR search, pruned postings tf/df
    "events_pattern_topk",     # z-norm sliding-window pattern top-k
    "events_motif_pairs",      # SAX-bucketed motif (closest pair) search
    "events_discord_topk",     # HOT-SAX discord (anomaly window) search
    "events_holt_linear",      # 2-state dyadic Holt fold, exact cross-engine
    "multimodal_augment",      # flip+crop patches over real PNG decode
    "featurestore_pit",        # point-in-time feature assembly, one window pass
    "graph_reachability",      # recursive-CTE BFS over a declared edge layout
    # round-8 additions
    "tpch_q9",                 # real supplycost profit over derived partsupp
    "tpch_q20",                # real availqty threshold over derived partsupp
    "dedup_embedding",         # bucket-local LSH pair scoring (2 exchanges)
    "dedup_embedding_multiprobe",  # probe-aware bucket-local kernel
    "data_profile",            # size-gated exact/HLL column profiler
    "hybrid_search_rrf",       # RRF fusion of BM25 + vector rankings
    "search_rerank_mmr",       # MMR diversity re-rank over the vector arm
    "tpch_q2",                 # real min-cost supplier over derived partsupp (r9)
    "tpch_q11",                # real stock-value fraction over derived partsupp (r9)
    # round-10 additions
    "events_motif_pairs_slim", # slim-exchange motif alternate (network-bound pick)
    "sim_topk_pq_indexed",     # persisted PQ index, value-gated ADC replay (r10)
    "orders_item_cf",       # co-occurrence CF — twice-flagged row, now watched
]


def test_headline_keys_all_resolve():
    """Every HEADLINE name resolves to a registered query builder, so a
    typo fails here instead of skipping a query's plan check."""
    from etl_backend_spark.registry import QUERIES

    for name in HEADLINE:
        assert callable(QUERIES.get(name)), name
    assert "orders_item_cf" in HEADLINE


def test_headline_plans_have_no_antipatterns(spark):
    """Every headline query's physical plan is free of CartesianProduct and
    row-at-a-time Python eval."""
    from etl_backend_spark.registry import QUERIES

    bad = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        hits = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_events_time_range_pushdown(spark):
    """ts predicates prune on BOTH axes of the date-partitioned events
    layout: load_events_time_range plans PartitionFilters (whole day-dirs
    skipped at plan time) AND PushedFilters on the physical ts column —
    and, the round-3 fix, the DEFAULT load_table path now pushes ts
    predicates down too (it used to compute ts, making every time filter a
    post-scan residual)."""
    from etl_backend_spark.sources.catalog import load_events_time_range
    from etl_backend_spark.sources.catalog import load_table

    lo, hi = "2024-01-10T00:00:00", "2024-01-12T00:00:00"
    fast = load_events_time_range(spark, SF_DIR, lo, hi)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts," in plan  # row-group skipping
    assert "PartitionFilters: [isnotnull(event_date" in plan  # dir pruning

    default = load_table(spark, "events", SF_DIR).filter(
        (F.col("ts") >= F.to_timestamp(F.lit(lo)))
        & (F.col("ts") < F.to_timestamp(F.lit(hi)))
    )
    default_plan = default._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts," in default_plan  # default path pushes too

    a = sorted(r.event_id for r in fast.collect())
    b = sorted(r.event_id for r in default.collect())
    assert a == b and len(a) > 0


def test_seq_pack_has_no_single_partition_window(spark):
    """The registered seq_pack packs within md5-key ranges (keyed window →
    hash exchange); seq_pack_exact gets exact GLOBAL ids without a single
    cursor (distributed prefix sum)."""
    from etl_backend_spark.registry import QUERIES

    keyed = QUERIES["seq_pack"](spark, SF_DIR)
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(pack_range" in plan

    # the exact form is now a DISTRIBUTED prefix sum: range partition +
    # partition-local windows + broadcast offsets — no single cursor
    exact = QUERIES["seq_pack_exact"](spark, SF_DIR)
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in exact_plan
    # the range shuffle sits BEFORE the materialized checkpoint (plan
    # shows the checkpointed RDD scan); the visible window runs on the
    # partition-local key, never a global order
    assert "ExistingRDD" in exact_plan and "__pid" in exact_plan

    # range-local packing agrees with the global cursor within each range:
    # every (pack_range, seq_id) sequence is <= budget except where a single
    # document alone exceeds it
    import collections

    rows = keyed.collect()
    totals = collections.defaultdict(int)
    for r in rows:
        totals[(r.pack_range, r.seq_id)] += r.n_tokens
    # a sequence only exceeds the budget by at most one document's overhang
    for (rng, seq), tot in totals.items():
        docs = [r.n_tokens for r in rows if r.pack_range == rng and r.seq_id == seq]
        assert tot - max(docs) < 512, (rng, seq, tot)


def test_range_join_count_keeps_duplicate_left_rows(spark):
    """Fully-duplicate left rows must each produce their own output row
    (the probe fan-out regroup keys on a per-row id, not just columns)."""
    import datetime

    from etl_backend_spark.operators.joins import range_join_count

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, t0), (1, t0), (1, t0)], "user_id LONG, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [(1, t0 - datetime.timedelta(minutes=5))], "user_id LONG, ts TIMESTAMP"
    )
    out = range_join_count(left, right, "user_id", "ts", "1 hour").collect()
    assert len(out) == 3
    assert all(r.n_in_range == 1 for r in out)


def test_hll_mergeable_matches_exact(spark):
    """Union-merged per-partition HLL sketches estimate the global distinct
    count within HLL error bounds."""
    from etl_backend_spark.registry import QUERIES
    from etl_backend_spark.sources.catalog import Catalog

    est = QUERIES["agg_hll_mergeable"](spark, SF_DIR).collect()[0][0]
    exact = (
        Catalog(spark, SF_DIR).table("customer")
        .select("c_custkey").distinct().count()
    )
    assert abs(est - exact) / exact < 0.05, (est, exact)


def test_runtime_bloom_filter_injectable(spark):
    """Runtime bloom-filter pruning (on by default; production thresholds
    keep it off for tiny local data): with the application-side floor
    lowered, a selective-side filter injects a bloom_filter_agg that prunes
    the fact side before the shuffle join — the 100 TB semi-join pattern."""
    from etl_backend_spark.sources.catalog import Catalog

    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bjt = "spark.sql.autoBroadcastJoinThreshold"
    old, old_bjt = spark.conf.get(key), spark.conf.get(bjt)
    try:
        spark.conf.set(key, "0")
        spark.conf.set(bjt, "-1")  # force a shuffle join so the filter applies
        cat = Catalog(spark, SF_DIR)
        o, li = cat.table("orders"), cat.table("lineitem")
        sel = o.filter(F.col("o_totalprice") > 500000)
        j = sel.join(li, sel["o_orderkey"] == li["l_orderkey"])
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
    finally:
        spark.conf.set(key, old)
        spark.conf.set(bjt, old_bjt)


def test_corpus_pipeline_plan_shape(spark):
    """The end-to-end pipeline stays one jointly-optimized plan: no
    single-partition window (packing is keyed), bounded scans of the
    documents table, no cartesian products."""
    from etl_backend_spark.registry import QUERIES

    df = QUERIES["corpus_pipeline"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") <= 2
    assert "hashpartitioning(pack_range" in plan


def test_bucketed_fact_join_plans_zero_shuffle(spark):
    """The co-located li/orders layout joins bucket-to-bucket: no shuffle
    exchange and no sort anywhere in join_two_hop_bucketed's plan. Broadcast
    is disabled for the check — at test SF Catalyst may legally broadcast
    the small side, but the 100-TB claim is the sort-merge path, so that is
    the path we lock."""
    import re

    from etl_backend_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["join_two_hop_bucketed"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the explicitly-hinted customer broadcast survives the conf; the
    # fact-fact edge must not shuffle. (Spark 4 no longer propagates
    # SORTED BY ordering from bucketed scans — legacy
    # bucketedTableScanOutputOrdering is gone — so an in-partition Sort
    # remains; it is local and pipelined, unlike the Exchange, which is
    # the part that scales with cluster width.)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert re.search(r"Bucketed: true", plan)


def test_tpch_q5_bucketed_single_shuffle(spark):
    """Q5 over the co-located layout: the ONLY shuffle in the whole plan is
    the final 5-row groupBy(n_name); the li⋈o edge is bucket-to-bucket."""
    from etl_backend_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["tpch_q5_bucketed"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Exchange hashpartitioning") == 1  # the final agg only
    assert "Bucketed: true" in plan


def test_window_rolling_range_is_keyed(spark):
    """The rolling interval window partitions by user_id — a hash exchange,
    never a single-partition global sort."""
    from etl_backend_spark.registry import QUERIES

    plan = (
        QUERIES["window_rolling_range"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan


def test_join_salted_shuffles_on_key_plus_salt(spark):
    """The salted join's exchanges hash on (join key, salt) so a hot
    orderkey spreads over S reducer partitions."""
    from etl_backend_spark.registry import QUERIES

    plan = (
        QUERIES["join_salted"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    salted_exchanges = [
        ln for ln in plan.splitlines()
        if "hashpartitioning(" in ln and "salt" in ln
    ]
    assert len(salted_exchanges) >= 2  # both join sides


def test_join_1n_nested_bucketed_zero_shuffle(spark):
    """The nested-include over the co-located layout: the child
    collect_list aggregation AND the parent join both consume the bucket
    partitioning — zero exchange in the whole plan."""
    from etl_backend_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["join_1n_nested_bucketed"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "Bucketed: true" in plan

    # value parity with the unbucketed form
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, QUERIES["join_1n_nested"](spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


def test_join_1n_nested_plain_ri_elimination_sound(spark):
    """The r7 plain form eliminates the parent join on referential
    integrity. This pins BOTH preconditions on the testdata and the
    rewrite's soundness: (1) every child FK resolves (anti-join empty),
    (2) the eliminated form equals the real-join form row-for-row, and
    (3) the plan really carries no join."""
    from etl_backend_spark.registry import QUERIES
    from etl_backend_spark.registry.reads import _nested_items_csv
    from etl_backend_spark.sources.catalog import Catalog

    cat = Catalog(spark, SF_DIR)
    o, li = cat.table("orders"), cat.table("lineitem")
    assert li.join(o, li["l_orderkey"] == o["o_orderkey"],
                   "left_anti").count() == 0

    df = QUERIES["join_1n_nested_plain"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan

    nested = li.groupBy(F.col("l_orderkey").alias("__pk")).agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("items_arr"))
    with_join = o.join(nested, o["o_orderkey"] == nested["__pk"]).select(
        "o_orderkey", _nested_items_csv(F.col("items_arr"))
    )
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, with_join.collect()))
    assert a == b and len(a) > 0


def test_tpch_q3_bucketed_zero_shuffle(spark):
    """Q3 over the co-located layout: broadcast dim + bucket-to-bucket
    fact join + aggregation keyed on the bucket column — no exchange
    anywhere; the top-10 is TakeOrderedAndProject."""
    from etl_backend_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["tpch_q3_bucketed"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "TakeOrderedAndProject" in plan
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, QUERIES["tpch_q3_shape"](spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


def test_window_latest_bucketed_zero_shuffle(spark):
    """The per-user window over user-bucketed events plans WITHOUT an
    exchange: the bucketed scan satisfies the window's required
    distribution; only the local per-partition sort remains."""
    from etl_backend_spark.registry import QUERIES

    df = QUERIES["window_latest_per_group_bucketed"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, QUERIES["window_latest_per_group"](spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


def test_events_family_bucketed_zero_shuffle(spark):
    """Sessionize and z-score over the user-bucketed events layout plan
    with zero exchanges and match their plain forms exactly."""
    from etl_backend_spark.registry import QUERIES

    for bucketed, plain in (
        ("stream_sessionize_bucketed", "stream_sessionize"),
        ("events_zscore_bucketed", "events_zscore"),
    ):
        df = QUERIES[bucketed](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, (bucketed, plan)
        a = sorted(map(tuple, df.collect()))
        b = sorted(map(tuple, QUERIES[plain](spark, SF_DIR).collect()))
        assert a == b and len(a) > 0, bucketed


def test_events_user_daily_prunes_and_never_shuffles(spark):
    """The combined layout's headline property: directory pruning on the
    time axis AND a shuffle-free keyed aggregation in the same plan."""
    from etl_backend_spark.registry import QUERIES

    df = QUERIES["events_user_daily"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan
    assert "GreaterThanOrEqual(ts," in plan  # row-group pruning too
    # value parity with a plain time-ranged group-by
    from etl_backend_spark.sources.catalog import load_table

    base = (
        load_table(spark, "events", SF_DIR)
        .filter(
            (F.col("ts") >= F.to_timestamp(F.lit("2024-01-10T00:00:00")))
            & (F.col("ts") < F.to_timestamp(F.lit("2024-01-12T00:00:00")))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, base.collect()))
    assert a == b and len(a) > 0


def test_events_funnel_single_user_exchange(spark):
    """The funnel must be window-chained over ONE user_id exchange (plus
    the final single-row agg) — the staged-joins form cost 3 shuffles and
    7.2x on the sf0.1→sf1 decade."""
    from etl_backend_spark.registry import QUERIES

    df = QUERIES["events_funnel"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2, plan
    assert "Join" not in plan, plan


def test_release_plan_checkpoints_frees_prefix_sum_blocks(spark):
    """distributed_global_rank localCheckpoints its shuffled input (the
    anti-resample-drift materialization); after the result is consumed,
    release_plan_checkpoints must actually drop those blocks so loop
    callers (bench, sweeps) don't accumulate executor storage."""
    from etl_backend_spark.operators.windows import (
        distributed_global_rank, release_plan_checkpoints)

    def persistent_ids():
        # Track RDD ids, not counts: the ContextCleaner may GC-unpersist a
        # PRIOR test's RDD at any point, so a count-based assertion races it.
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    base = persistent_ids()
    df = spark.range(10_000).withColumn("k", F.col("id") % 100)
    ranked, total = distributed_global_rank(df, ["k", "id"], n_parts=8)
    rows = ranked.count()
    assert rows == total == 10_000
    new_ids = persistent_ids() - base
    assert new_ids                           # checkpoint is live
    assert release_plan_checkpoints(ranked) >= 1
    assert not (persistent_ids() & new_ids)  # and now it is gone


def test_localcheckpoint_declared_partitioning_reaches_planner(spark):
    """The declared-layout checkpoint (r7, PageRank's loop substrate)
    must actually carry its hash partitioning and sort order into
    downstream plans: a join on the declared key plans NO exchange and
    NO sort on the checkpointed side (a plain localCheckpoint under AQE
    records UnknownPartitioning and would re-shuffle + re-sort), and
    the rows survive the leaf rewrap intact."""
    from etl_backend_spark.operators.windows import (
        localcheckpoint_declared, release_plan_checkpoints)

    df = spark.range(20_000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v"))
    cp = localcheckpoint_declared(df, ["k"], 4, sort=True)
    leaf = cp._jdf.queryExecution().logical()
    assert "hashpartitioning(k" in leaf.outputPartitioning().toString()
    assert cp.count() == 20_000
    assert cp.agg(F.sum("v")).collect()[0][0] == sum(range(20_000))

    other = spark.range(997).select(F.col("id").alias("k2"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cp.join(other, cp["k"] == other["k2"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # exactly one exchange+sort: the NON-checkpointed side
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(k2" in plan
    assert plan.count("Sort [k2") == 1 and plan.count("Sort [k#") == 0, plan
    assert joined.count() == 20_000
    release_plan_checkpoints(cp)


def test_sentences_jvm_twin_matches_udtf_and_stays_python_free(spark):
    """The canonical `sentences` key must produce the UDTF demo's exact
    rows with ZERO Python in the plan (VERDICT r5 task 2): the UDTF stays
    registered as the API demo, the JVM form is what pipelines call."""
    from etl_backend_spark.registry import QUERIES

    jvm = QUERIES["sentences"](spark, SF_DIR)
    plan = jvm._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "EvalPython" not in plan, plan
    assert "Generate posexplode" in plan or "posexplode" in plan, plan

    a = sorted(map(tuple, jvm.collect()))
    b = sorted(map(tuple, QUERIES["udtf_sentences"](spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


def test_cms_estimates_bounded(spark):
    """Count-min sketch contract: estimate >= exact, overshoot <= eps*N
    (eps=0.01 at 99% confidence), per key — the sketch never undercounts
    and its bias is bounded."""
    from etl_backend_spark.registry import QUERIES
    from etl_backend_spark.sources.catalog import Catalog

    exact = {
        r.o_orderpriority: r.n
        for r in Catalog(spark, SF_DIR).table("orders")
        .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = QUERIES["agg_cms_heavy_hitters"](spark, SF_DIR).collect()
    assert {r.o_orderpriority for r in rows} == set(exact)
    for r in rows:
        true = exact[r.o_orderpriority]
        assert true <= r.est <= true + 0.01 * r.n + 1, (r, true)


def test_events_holt_linear_matches_python_reference(spark):
    """Holt level/trend recurrence pinned against a pure-Python replay at
    sf0.001, tolerance 0 — the cross-engine gate already hash-checks the
    raw doubles vs DuckDB; this pins the SEMANTICS (init l_2=v_2,
    b_2=v_2-v_1; alpha=beta=1/2 add-then-halve steps) so both engines
    can't drift together."""
    import duckdb

    from etl_backend_spark.registry import QUERIES

    con = duckdb.connect()
    rows = con.execute(
        "SELECT user_id, value FROM read_parquet("
        f"'{SF_DIR}/events.parquet') ORDER BY user_id, ts, event_id"
    ).fetchall()
    con.close()
    series: dict[int, list[float]] = {}
    for uid, v in rows:
        series.setdefault(int(uid), []).append(float(v))

    def holt(vs):
        if len(vs) == 1:
            return vs[0], 0.0
        l, b = vs[1], vs[1] - vs[0]
        for x in vs[2:]:
            ln = (x + l + b) / 2
            b = ((ln - l) + b) / 2
            l = ln
        return l, b

    got = {
        int(r.user_id): (int(r.n), r.level, r.trend, r.forecast_next)
        for r in QUERIES["events_holt_linear"](spark, SF_DIR).collect()
    }
    assert set(got) == set(series)
    for uid, vs in series.items():
        l, b = holt(vs)
        assert got[uid] == (len(vs), l, b, l + b), uid


def test_events_cusum_identity_matches_recursion_and_planted_drift(spark, tmp_path):
    """(a) The window-function form (running sum minus running min) must
    equal the textbook recursion T_t = max(0, T_{t-1} + w_t) replayed in
    Python on real data; (b) a planted mid-series level shift must alarm
    with first_alarm_idx inside the shifted half, and a steady user must
    not."""
    import duckdb
    import math

    from etl_backend_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, value FROM read_parquet('{SF_DIR}/events.parquet')"
        " ORDER BY user_id, ts, event_id"
    ).fetchall()
    con.close()
    series: dict[int, list[int]] = {}
    for uid, val in rows:
        series.setdefault(int(uid), []).append(
            int(math.floor(val * 10000 + 0.5))
        )
    got = {int(r.user_id): r for r in
           QUERIES["events_cusum_drift"](spark, SF_DIR).collect()}
    assert set(got) == set(series)
    for uid, vs in series.items():
        n, tot = len(vs), sum(vs)
        t, mx, first = 0, 0, None
        for i, v in enumerate(vs, start=1):
            t = max(0, t + (n * v - tot - n * 500))
            mx = max(mx, t)
            if first is None and t > n * 20000:
                first = i
        r = got[uid]
        assert (r.n, r.max_cusum) == (n, mx), uid
        assert r.first_alarm_idx == first, uid
        assert r.alarmed == (first is not None), uid

    # planted drift: steady user 1 vs level-shift user 2
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    data = []
    eid = 0
    for i in range(40):
        data.append((eid, base + dt.timedelta(minutes=eid), 1, "e", 10.0, "{}"))
        eid += 1
    for i in range(40):
        v = 10.0 if i < 20 else 25.0
        data.append((eid, base + dt.timedelta(minutes=eid), 2, "e", v, "{}"))
        eid += 1
    sf = str(tmp_path)
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = {int(r.user_id): r for r in
           QUERIES["events_cusum_drift"](spark, sf).collect()}
    assert not out[1].alarmed
    assert out[2].alarmed and out[2].first_alarm_idx > 20


def test_kll_and_theta_sketch_bounds(spark):
    """Sketch-family accuracy pins: (a) each KLL quantile estimate's true
    RANK is within 3% of its target rank (k=200 KLL guarantees ~1.65%);
    (b) theta set-operation estimates match the exact view/purchase
    distinct-user arithmetic within 5% (exact at these cardinalities)."""
    import duckdb

    from etl_backend_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    r = QUERIES["agg_kll_quantiles"](spark, SF_DIR).collect()[0]
    con = duckdb.connect()
    vals = [v for (v,) in con.execute(
        f"SELECT value FROM read_parquet('{SF_DIR}/events.parquet')"
        " ORDER BY value").fetchall()]
    assert r.n == len(vals)
    for q, est in ((0.5, r.p50), (0.9, r.p90), (0.99, r.p99)):
        rank = sum(1 for v in vals if v <= est) / len(vals)
        assert abs(rank - q) <= 0.03, (q, est, rank)

    t = QUERIES["agg_theta_setops"](spark, SF_DIR).collect()[0]
    view = {u for (u,) in con.execute(
        f"SELECT DISTINCT user_id FROM read_parquet('{SF_DIR}/events.parquet')"
        " WHERE event_type = 'view'").fetchall()}
    pur = {u for (u,) in con.execute(
        f"SELECT DISTINCT user_id FROM read_parquet('{SF_DIR}/events.parquet')"
        " WHERE event_type = 'purchase'").fetchall()}
    con.close()

    def close(est, exact):
        return abs(est - exact) <= max(1.0, 0.05 * exact)

    assert close(t.n_view, len(view))
    assert close(t.n_purchase, len(pur))
    assert close(t.n_both, len(view & pur))
    assert close(t.n_view_only, len(view - pur))


def test_als_recovers_planted_block_structure(spark):
    """ALS on a planted 2-block preference matrix (group-A users buy
    group-A items, group-B users buy group-B items, zero crossover) must
    rank in-block items above cross-block items for every user — the
    smoke invariant any factorization has to pass. Also pins determinism:
    the fixed-seed fit recommends identically across two runs."""
    from pyspark.ml.recommendation import ALS

    rows = []
    for u in range(20):
        block = u % 2
        for it in range(10):
            if it % 2 == block:
                rows.append((u, it, 5.0))
    ratings = spark.createDataFrame(rows, "user INT, item INT, rating FLOAT")
    als = ALS(rank=4, maxIter=10, regParam=0.1, implicitPrefs=True,
              alpha=1.0, seed=42, numUserBlocks=2, numItemBlocks=2,
              userCol="user", itemCol="item", ratingCol="rating",
              coldStartStrategy="drop")

    def top_items(model):
        recs = model.recommendForAllUsers(5).collect()
        return {r["user"]: [x["item"] for x in r["recommendations"]]
                for r in recs}

    t1 = top_items(als.fit(ratings))
    for u, items in t1.items():
        block = u % 2
        # every recommended item in the user's own block
        in_block = [it for it in items if it % 2 == block]
        assert len(in_block) == 5, (u, items)

    t2 = top_items(als.fit(ratings))
    assert t1 == t2  # fixed seed + fixed blocks => bit-stable ranking


def test_recsys_als_registry_shape(spark):
    """The registry key serves 3 ranked recs for each of 5 users with
    rank positions 1..3 and scores in [0, 1.5] (implicit ALS preference
    scale)."""
    from etl_backend_spark.registry import QUERIES

    rows = QUERIES["recsys_als"](spark, SF_DIR).collect()
    assert len(rows) == 15
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user"], []).append(r["rk"])
        assert 0.0 <= r["score"] <= 1.5
    assert all(sorted(v) == [1, 2, 3] for v in by_user.values())


def test_runtime_bloom_filter_injects(spark):
    """With the size thresholds lowered to local scale, Catalyst's
    InjectRuntimeFilter must plant a bloom-filter predicate
    (BloomFilterMightContain / bloom_filter_agg) on the fact side of
    join_runtime_filter's selective join, and the filtered plan must
    produce the identical result — at cluster scale the 10 GB default
    threshold turns this on without any config."""
    from etl_backend_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    baseline = {tuple(r) for r in
                QUERIES["join_runtime_filter"](spark, SF_DIR).collect()}

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        # runtime filters target SHUFFLE joins only (a broadcast join
        # already prunes at the scan) — at test scale everything
        # broadcasts, so force the shuffle plan the filter exists for
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = QUERIES["join_runtime_filter"](spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
        assert {tuple(r) for r in df.collect()} == baseline
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_data_profile_hll_size_gate(spark, monkeypatch):
    """data_profile's distinct counts switch to the HLL sketch past the
    measured row gate (VERDICT r7 #2 — an automatic plan choice, not
    prose). Below the gate: exact COUNT(DISTINCT), plan carries the 6x
    Expand, values gate-checked vs DuckDB. Above (forced here): the
    profile collapses to ONE Expand-free agg, the null/min/max columns
    stay EXACT, and the sketched distincts land within HLL's 5% rsd."""
    import etl_backend_spark.registry.aggs as A
    from etl_backend_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    exact_df = QUERIES["data_profile"](spark, SF_DIR)
    exact_plan = exact_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan  # the split exact shape, pre-gate
    exact = {r["col"]: r for r in exact_df.collect()}

    monkeypatch.setattr(A, "DATA_PROFILE_HLL_ROWS", 0)
    hll_df = QUERIES["data_profile"](spark, SF_DIR)
    hll_plan = hll_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in hll_plan  # one pass, no 6x row multiply
    assert "CrossJoin" not in hll_plan and "Cartesian" not in hll_plan
    assert "BatchEvalPython" not in hll_plan
    hll = {r["col"]: r for r in hll_df.collect()}

    assert set(hll) == set(exact)
    for c, e in exact.items():
        h = hll[c]
        # everything except the sketched distinct is bit-exact
        assert (h["n_nulls"], h["min_s"], h["max_s"]) == (
            e["n_nulls"], e["min_s"], e["max_s"])
        assert abs(h["n_distinct"] - e["n_distinct"]) <= max(
            2, 0.1 * e["n_distinct"]), (c, h["n_distinct"], e["n_distinct"])


def test_data_profile_oracle_gate_tracks_plan_choice(monkeypatch):
    """r9 ADVICE fix: data_profile's registered oracle asserts EXACT
    count(DISTINCT), so it must be declared INVALID at any sf where the
    engine switches to HLL — otherwise check_oracle.py would compare
    sketch estimates against exact values and report a false failure.
    The gate reads the same parquet footer as the plan choice, so the
    two flip together by construction."""
    import etl_backend_spark.registry.aggs as A
    from etl_backend_spark.registry import ORACLE_GATES
    from tests.conftest import SF_DIR

    gate = ORACLE_GATES["data_profile"]
    assert gate(SF_DIR) is True          # exact path -> oracle valid
    monkeypatch.setattr(A, "DATA_PROFILE_HLL_ROWS", 0)
    assert gate(SF_DIR) is False         # sketch path -> rows-only
    # every registered gate must hold at the driver's sf0.01, where the
    # full value-hash comparison always runs
    monkeypatch.undo()
    for name, g in ORACLE_GATES.items():
        assert g("/root/testdata/sf0.01") is True, name
