"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Per query: one warm-up run (fills the session/page cache, triggers codegen),
then median of 3 timed runs. The action is ``df.count()`` after a
``cache-free`` plan build — we measure execution, not collect-to-driver
serialization of wide rows.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from etl_backend_spark.registry import QUERIES  # noqa: E402
from etl_backend_spark.session import get_spark  # noqa: E402

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
]

RUNS = 5  # median of 5: this VM's neighbor load injects multi-second
# one-off spikes (see BASELINE.md); 3 samples let one spike shift the median

# Bench-only regression-watch twins (r12, VERDICT #3): timed like
# HEADLINE keys but NOT part of the queries()/oracle contract — each
# forces an alternate physical path of a registered query that the
# sf0.1 gate cannot otherwise reach (data_profile's >5M-row sketch
# path). Kept out of the registry on purpose: the sketch estimates are
# engine-specific, so a registry key would grow the rows-only set.
def _data_profile_hll(spark, sf_dir):
    from etl_backend_spark.registry.aggs import q_data_profile

    return q_data_profile(spark, sf_dir, force_hll=True)


BENCH_EXTRA = {
    "data_profile_hll": _data_profile_hll,  # footer stats + HLL sketch path
}
HEADLINE = HEADLINE + [
    "orders_item_cf",       # co-occurrence CF — twice-flagged row, now watched
    "data_profile_hll",
]


def steal_snapshot() -> tuple:
    """(total_jiffies, steal_jiffies) across all cpus since boot — the
    hypervisor-withheld share of this guest's CPU time, straight from
    /proc/stat. Returns (0, 0) if the file is unreadable (non-Linux)."""
    try:
        parts = open("/proc/stat").readline().split()
        vals = [int(v) for v in parts[1:]]
        return sum(vals), vals[7]  # field 8 = steal
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_pct(before: tuple, after: tuple) -> float:
    """Steal percentage over the window between two snapshots."""
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


def cpu_probe() -> dict:
    """Fixed-work CPU calibration probe (r12, VERDICT #1). Three arms:

    * ``st_sec`` — ~0.5 s of single-thread numpy ufunc work
      (elementwise only, no BLAS whose own thread pool would confound
      it): catches per-core frequency throttling.
    * ``mt_sec`` — the same per-thread work fanned over
      $SPARK_GRAFT_CPUS threads (ufuncs release the GIL): catches
      all-core contention, the regime bench queries actually run in.
    * ``steal_pct`` — hypervisor steal measured from /proc/stat DURING
      the probe: the directly-causal signal. Diagnosing the r11 ±30%
      swings live showed steal oscillating 3.5-20% on an otherwise
      idle guest, tracking the mt arm reading 1:1 — "host-level CPU
      throttling with psi near zero" is neighbor steal, and it is
      measurable, not just inferable from timing noise.

    The work is FIXED, so timing drift between two probes is host
    state, not code. The probe self-stabilizes: idle cores park at low
    clock and ramp for seconds (a fixed warm-up left the first reading
    2-4x slower than steady state), so it re-measures until two
    consecutive readings agree within 5% on both arms, capped at 8
    tries (~10 s) — a cap hit means the host is actively oscillating
    and the reading will fail the drift gate, which is the point.
    bench.py stores before/after probes plus whole-window steal in the
    artifact."""
    import concurrent.futures

    import numpy as np

    x = (np.arange(1_000_000, dtype=np.float64) % 97) * 1e-3

    def work(reps: int) -> float:
        s = 0.0
        for _ in range(reps):
            s += float(np.sqrt(x * x + 1.0).sum())
        return s

    nthreads = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    def measure() -> tuple:
        t0 = time.perf_counter()
        work(120)  # ~0.5 s on an unthrottled core (4.2 ms/rep measured)
        st = time.perf_counter() - t0
        t0 = time.perf_counter()
        with concurrent.futures.ThreadPoolExecutor(nthreads) as ex:
            list(ex.map(work, [25] * nthreads))
        return st, time.perf_counter() - t0

    # The reading is the MIN over repeated measures per arm — the
    # standard microbenchmark thermometer: min is robust to one-off
    # interference AND to the governor ramp (an agreement-based loop
    # accepted two consecutive still-parked slow readings and reported
    # 0.49 s in a window whose true floor was 0.30 — r12 anchor
    # refusal). Stops early once the min stops improving (>2%) for two
    # consecutive measures; under genuine throttling the min stays
    # elevated, which is exactly the signal.
    s0 = steal_snapshot()
    st_min, mt_min = measure()
    flat = 0
    for _ in range(7):
        st, mt = measure()
        improved = st < st_min * 0.98 or mt < mt_min * 0.98
        st_min, mt_min = min(st_min, st), min(mt_min, mt)
        flat = 0 if improved else flat + 1
        if flat >= 2:
            break
    s1 = steal_snapshot()
    return {
        "st_sec": round(st_min, 4),
        "mt_sec": round(mt_min, 4),
        "steal_pct": round(steal_pct(s0, s1), 2),
    }


def probe_drift_pct(a: dict, b: dict) -> float:
    """Relative drift between two probe readings, percent — measured on
    the 32-THREAD arm only. The single-thread arm is recorded for
    diagnosis but NOT gated: a fresh process's single-core clock ramps
    for tens of seconds (measured: before-probe min 0.49 s vs 0.30 s
    after the bench, with steal at 0.03% — a pure cold-start artifact,
    not host noise), while the all-core arm converges immediately, is
    the regime the queries actually run in, and tracked hypervisor
    steal 1:1 in every dirty window observed."""
    return 100.0 * abs(a["mt_sec"] - b["mt_sec"]) / min(a["mt_sec"],
                                                       b["mt_sec"])


def run_full(df) -> None:
    """Force FULL evaluation of every output column. ``count()`` is wrong
    here: Catalyst prunes projections the action doesn't need, so map-only
    queries would time the scan, not the work. The noop sink computes every
    row and discards it. Afterwards, release any localCheckpoint blocks the
    plan created (distributed prefix-sum helpers) — a bench loop must not
    accumulate executor storage across iterations."""
    df.write.format("noop").mode("overwrite").save()
    from etl_backend_spark.operators.windows import release_plan_checkpoints
    release_plan_checkpoints(df)


def time_query(fn, spark, sf_dir: str) -> float:
    run_full(fn(spark, sf_dir))  # warm-up
    samples = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        run_full(fn(spark, sf_dir))
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # probe BEFORE the JVM comes up: Spark startup spends seconds of
    # multi-threaded JIT/GC work that inflates a concurrent probe ~4x
    # (measured st 1.14 vs 0.30 s) — we want the HOST thermometer, not
    # our own session's warm-up
    probe_before = cpu_probe()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    win0 = steal_snapshot()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = BENCH_EXTRA.get(name) or QUERIES[name]
        timings[name] = round(time_query(fn, spark, sf_dir), 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)
    win1 = steal_snapshot()
    probe_after = cpu_probe()

    drift = round(probe_drift_pct(probe_before, probe_after), 1)
    win_steal = round(steal_pct(win0, win1), 2)
    total = round(sum(timings.values()), 3)
    # Normalized view (r13, VERDICT #4): per-query median divided by the
    # window's mt-probe reading (mean of before/after, seconds for the
    # probe's FIXED all-core work quantum). The probe proved this host's
    # clean-window clock wanders 12-15%/hour, so even probe-certified
    # wall-clock anchors carry that band; the normalized column divides
    # the wander out — it reads "query cost in probe work-quanta", a
    # host-speed-free number comparable across rounds. Both columns ship;
    # wall stays the headline metric, normalized is the diffing view.
    # 4 decimals: at 2 the quantization step was ~4-5% of the fastest
    # queries' values — the same order as the wander the column divides
    # out (r13 second review)
    mt_mean = (probe_before["mt_sec"] + probe_after["mt_sec"]) / 2.0
    norm = {k: round(v / mt_mean, 4) for k, v in timings.items()}
    # The normalized column goes to a SIDECAR file, not the stdout line:
    # r14's driver captured only the tail of stdout and BENCH_r13's line
    # out-grew it (truncated at the front, parsed: null, round-over-round
    # comparison lost). The contract line must stay small enough that the
    # last ~4 KB of output always contains the complete JSON.
    sidecar = {
        "queries_norm": norm,
        "value_norm": round(sum(norm.values()), 1),
        "norm_unit": "probe_mt_quanta",
    }
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_norm_sidecar.json"), "w") as f:
            json.dump(sidecar, f)
    except OSError as e:  # never let the sidecar kill the contract line
        print(f"# norm sidecar write failed: {e}", file=sys.stderr)
    print(f"# norm: {json.dumps(sidecar)}", file=sys.stderr)
    print(json.dumps({
        "metric": "headline_queries_total_median_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "probe": {
            "before": probe_before,
            "after": probe_after,
            "drift_pct": drift,
            # steal over the WHOLE query window, not just probe instants
            "window_steal_pct": win_steal,
            # clean = timing thermometer stable AND the window ran
            # without meaningful hypervisor steal (2% of 32 cores is
            # already ~0.6 stolen cores)
            "clean": drift <= 10.0 and win_steal <= 2.0,
        },
    }))


if __name__ == "__main__":
    main()
