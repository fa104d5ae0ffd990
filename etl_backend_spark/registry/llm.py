"""Registry: LLM-data-pipeline extensions (SURVEY.md §2.11 / driver north
star) — dedup, text analysis, similarity search over the ``documents`` and
``embeddings`` tables.

Oracle-checkable operators use only portable primitives (md5/sha256, regexp,
list lambdas, double arithmetic in identical accumulation order). Seeded/
sketch-based variants (MinHash, SimHash, LSH) register without an oracle and
get the rows-only check; their recall is pytest-checked against the exact
versions instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T
from ..functions import vectors as V
from ..functions.semdedup import EPS as _SEMDEDUP_EPS
from ..operators.windows import top_per_query
from ..sources import cache
from ..sources.catalog import Catalog, parquet_num_rows, query_vectors
from . import _md5_hex64_sql, register

# DuckDB CTE mirroring functions.text.shingle_rows(df, id, text, 3)
_SHINGLE_CTE = """sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
                              i -> array_to_string(words[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents)
    )"""

_WORDS_CTE = """words AS (
      SELECT DISTINCT doc_id,
        unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents
    )"""


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n
    FROM documents GROUP BY sha256(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: group on sha256(text), keep min doc_id.
    Partial agg on the hash → one shuffle row per distinct document at 100 TB."""
    d = Catalog(spark, sf_dir).table("documents")
    return d.groupBy(F.sha2(F.col("text"), 256).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n")
    )


# Document-frequency cap: drop shingles present in more docs (boilerplate —
# headers, license blurbs). Derivation (why an ABSOLUTE cap, not a corpus-
# relative quantile): the candidate fan-out of a shingle with doc-frequency
# DF is DF*(DF-1)/2 pairs, so total candidate volume is sum(DF^2)/2 over
# kept shingles <= (CAP/2) * sum(DF) = (CAP/2) * |shingle rows| — i.e. an
# absolute cap is exactly what keeps candidate volume LINEAR in corpus size
# with a fixed blowup multiplier CAP/2. A quantile-derived cap grows with
# the corpus and re-admits quadratic fan-out (0.1% of 1e9 docs = 1e6-doc
# shingles => 5e11 pairs from ONE shingle). CAP = 2 * _JACCARD_PAIR_BLOWUP
# where the blowup budget is the max candidate-pairs-per-shingle-row
# multiplier we accept; 16x matches CCNet/suffix-array boilerplate-filter
# practice (DF cap of a few dozen). Tune the budget, not the cap. The
# oracle SQL interpolates the SAME constant (f-string below), and
# tests/test_llm_ops.py asserts engine and oracle agree on it.
_JACCARD_PAIR_BLOWUP = 16
_JACCARD_DF_CAP = 2 * _JACCARD_PAIR_BLOWUP

@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
                              i -> array_to_string(words[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents)
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {_JACCARD_DF_CAP}
    ), shf AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by exact word-3-gram Jaccard ≥ 0.5 over the
    boilerplate-filtered shingle universe, in ONE pass with NO self-join:

    shingle → groupBy(shingle) collecting the (≤ cap) doc list → drop
    shingles whose document frequency exceeds ``_JACCARD_DF_CAP`` (standard
    CCNet/suffix-array practice — headers, license blurbs, and other
    boilerplate contribute quadratic fan-out but no dedup signal) → emit the
    i<j doc-pair combinations per shingle via two codegen'd generators
    (≤ cap²/2 pairs per shingle, all JVM-side) → count per pair → join the
    per-doc retained sizes (broadcast-sized).

    vs the classic explode + self-join-on-shingle: the same single shuffle
    on the shingle key, but the join (second full shuffle of the exploded
    table plus its matching) is replaced by an in-group combination expand,
    and the exchange is reused for the sizes branch. No persist, no Python
    workers — the whole pipeline is JVM expressions.

    This is the exact-counting baseline the MinHash sketch approximates; the
    per-shingle bucket shape matches the LSH band-bucket cost model.
    """
    d = Catalog(spark, sf_dir).table("documents")
    # The shingle stage needs explicit parallelism: the source is a
    # handful of parquet files (few scan tasks). The pair fan-out after
    # the groupBy, however, RIDES the grouped exchange's own partitioning
    # — round 4 removed an extra repartition there (interleaved A/B:
    # -23%, BASELINE.md). AQE sizes those partitions by map bytes and
    # cannot see the explode, but the fan-out multiplier is bounded by
    # cap²/2 per cap-sized shingle group (~16x bytes), the expansion is a
    # pipelined generator feeding a partial aggregation (never
    # materialized), and at toy scale where AQE coalesces to one
    # partition the total work is trivial anyway.
    # Width scales with INPUT BYTES, floored at cores/4: at sf0.1 the
    # shingle compute saturates well below core count and every extra
    # task is ~10-15 ms of pure scheduling on the critical path (round-5
    # sweep: 16 -> 8 partitions was -6%, 4 was worse), but a FIXED
    # cores/4 was a scale bug in the other direction — at sf1 it capped
    # the shingle stage at 8 tasks on 32 cores and the sweep read 8.7 s
    # (the same fixed-parallelism trap the 16-bucket layout hit in
    # round 4). The measured sf0.1 optimum was ~74 KiB of parquet text
    # per task (0.6 MB / 8 tasks; snappy text ≈ 4-6x that uncompressed),
    # so: one task per 64 KiB of parquet, clamped to [cores/4, cores].
    # At 100 TB the clamp saturates at cores and the scan's own splits
    # dominate — the repartition becomes a no-op-sized hint.
    from ..sources.catalog import DEFAULT_SF_DIR, _source_bytes

    cores = spark.sparkContext.defaultParallelism
    doc_bytes = _source_bytes(f"{sf_dir or DEFAULT_SF_DIR}/documents.parquet")
    n_par = min(max(cores // 4, doc_bytes >> 16, 2), cores)
    # Generator-based shingler (text.shingle_rows), fully codegen'd
    # JVM-side: measured 2.2x faster than the Arrow-batched pandas-UDF
    # shingler (and far lower variance — no Python workers), which itself
    # beat the interpreted transform()-HOF form ~6x. distinct=False: the
    # per-doc dedup happens in the collect_set below, saving a shuffle.
    sh_all = T.shingle_rows(
        d.select("doc_id", "text").repartition(n_par),
        "doc_id", "text", k=3, distinct=False,
    )
    # Group on xxhash64(shingle), not the string: 8-byte fixed keys cut
    # shuffle bytes ~60% and hash/compare cost in both aggregation phases
    # (round-5 interleaved A/B: -20% end-to-end; packing the pair key the
    # same way measured flat and was dropped). Collision risk: merging two
    # distinct shingles requires a 64-bit collision; expected collisions
    # ~n_shingles^2/2^65 — ~3e-2 at 1e9 distinct shingles, and at 1e12 the
    # ~3e4 expected collisions perturb pair counts by ~1e-8 relative. The
    # gate result at sf0.01/sf0.1 is bit-identical to the string-keyed
    # form (asserted when this landed).
    grouped = (
        sh_all.select("doc_id", F.xxhash64("shingle").alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") <= _JACCARD_DF_CAP)
    )
    # |retained shingles| per doc — same exchange as `grouped`, reused
    sizes = (
        grouped.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    # all i<j combinations within each shingle's doc list (docs pre-sorted):
    # two codegen'd generators, not a nested transform() HOF (interpreted,
    # allocates the full combination array per row — measured ~30% slower)
    e1 = grouped.select(F.posexplode("docs").alias("i", "doc_a"), F.col("docs"))
    pairs = e1.select(
        "doc_a",
        F.explode(
            F.expr("slice(docs, i + 2, size(docs) - i - 1)")
        ).alias("doc_b"),
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    sa = sizes.select(
        F.col("doc_id").alias("__da"), F.col("n_sh").alias("n_sh_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("__db"), F.col("n_sh").alias("n_sh_b")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("__da"))
        .join(sb, F.col("doc_b") == F.col("__db"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars2,
           len(string_split_regex(trim(text), '\\s+')) AS n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
             AS n_tokens,
           round(CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                      AS DOUBLE) / length(text) ELSE 0.0 END, 4) AS punct_ratio
    FROM documents
    """,
)
def q_text_stats(spark, sf_dir):
    """Per-document text statistics: char/word/BPE-ish-token counts and
    punctuation ratio — all built-in regexp expressions, no UDFs."""
    d = Catalog(spark, sf_dir).table("documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).alias("n_chars2"),
        T.word_count(t).alias("n_words"),
        T.bpe_ish_token_count(t).cast("long").alias("n_tokens"),
        F.round(T.punct_ratio(t), 4).alias("punct_ratio"),
    )


@register(
    "lang_id",
    oracle="""
    WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pt FROM documents),
    h AS (
      SELECT doc_id,
        len(regexp_extract_all(pt, ' the ')) + len(regexp_extract_all(pt, ' and '))
          + len(regexp_extract_all(pt, ' of ')) AS h_en,
        len(regexp_extract_all(pt, ' le ')) + len(regexp_extract_all(pt, ' la '))
          + len(regexp_extract_all(pt, ' et ')) AS h_fr,
        len(regexp_extract_all(pt, ' el ')) + len(regexp_extract_all(pt, ' los '))
          + len(regexp_extract_all(pt, ' y ')) AS h_es,
        len(regexp_extract_all(pt, ' der ')) + len(regexp_extract_all(pt, ' und '))
          + len(regexp_extract_all(pt, ' die ')) AS h_de
      FROM p
    )
    SELECT doc_id,
      CASE
        WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
        WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
        WHEN h_es >= h_fr THEN 'es'
        ELSE 'fr'
      END AS lang_pred
    FROM h
    """,
)
def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: argmax of per-language stopword-marker hits,
    ties broken by language-code order (de < en < es < fr), 'und' if none."""
    d = Catalog(spark, sf_dir).table("documents")
    return d.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))


@register(
    "quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             least(length(text) / 500.0, 1.0) AS length_term,
             CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) > 0
                  THEN least(4.0 *
                    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                        w -> w IN ('the','a','and','of','to','in'))) AS DOUBLE)
                    / len(string_split_regex(lower(trim(text)), '\\s+')), 1.0)
                  ELSE 0.0 END AS stop_term,
             1.0 - least(5.0 * CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                       AS DOUBLE) / length(text) ELSE 0.0 END, 1.0) AS punct_term
      FROM documents
    )
    SELECT doc_id, round((length_term + stop_term + punct_term) / 3.0, 4)
             AS quality
    FROM t
    """,
)
def q_quality_score(spark, sf_dir):
    """Composite document-quality heuristic (length / stopword density /
    punctuation soup) — the filter stage of a pretraining pipeline."""
    d = Catalog(spark, sf_dir).table("documents")
    return d.select(
        "doc_id", F.round(T.quality_score(F.col("text")), 4).alias("quality")
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_min(list_transform(
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - 7, 1)),
               i -> text[i:i+7])),
             s -> md5(s))) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Winnowing-style document fingerprint: min md5 over char-8-gram
    shingles (rolling-hash selection, stable under distant edits)."""
    d = Catalog(spark, sf_dir).table("documents")
    return d.select("doc_id", T.fingerprint(F.col("text"), 8).alias("fingerprint"))


@register(
    "embed_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4)
             AS l2_norm,
           round(list_sum(embedding::DOUBLE[]), 4) AS comp_sum
    FROM embeddings
    """,
)
def q_embed_norms(spark, sf_dir):
    """Embedding-column hygiene: L2 norm and component sum per vector, via
    built-in higher-order functions in float64."""
    e = Catalog(spark, sf_dir).table("embeddings")
    v = V.as_double(F.col("embedding"))
    return e.select(
        "vec_id",
        "label",
        F.round(V.norm(v), 4).alias("l2_norm"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 4).alias("comp_sum"),
    )


@register(
    "sim_topk_brute",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def q_sim_topk_brute(spark, sf_dir):
    """Brute-force cosine top-k=10 for a query set (vec_id<5): broadcast the
    queries against the corpus, score with built-in array math, take top-k
    per query with a window. The exact baseline the LSH/IVF paths are
    recall-checked against. Ordering uses the rounded score (+vec_id tie) so
    ranking is stable across engines' float accumulation."""
    e = Catalog(spark, sf_dir).table("embeddings")
    corpus = e.select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    queries = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), V.as_double(F.col("embedding")).alias("qv"))
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(V.cosine(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    return top_per_query(scored, "cos_sim", 10).select(
        "q_id", "vec_id", "cos_sim")


@register(
    "sim_pairs_threshold",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 100 AND b.vec_id < 100
      AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
    """,
)
def q_sim_pairs_threshold(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.3) within a bounded id range —
    the exact all-pairs baseline for embedding dedup."""
    e = Catalog(spark, sf_dir).table("embeddings").filter(F.col("vec_id") < 100)
    a = e.select(F.col("vec_id").alias("vec_a"), V.as_double(F.col("embedding")).alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), V.as_double(F.col("embedding")).alias("vb"))
    cos = V.cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.3)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


@register("dedup_minhash_lsh", oracle=H.minhash_oracle_sql_v2(_SHINGLE_CTE, 0.5))
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup candidates (16 components, 8 bands x 2): shingle →
    deterministic md5 minhash signature → band-bucket equi-join → estimated
    Jaccard ≥ 0.5. The scale path for ``dedup_ngram_jaccard``: candidate
    generation is a shuffle on band keys, never an all-pairs join."""
    d = Catalog(spark, sf_dir).table("documents")
    sig = d.select(
        "doc_id", H.minhash_sig_py(3)(F.col("text")).alias("sig")
    ).persist()  # shared by band explode + both est-join sides
    # band keys as (k1, k2) long-pair structs (r14): the candidate
    # shuffle moves two longs per key instead of a ~40-byte decimal
    # string — same pairs (bijective), thinner exchange
    bands = sig.select(
        "doc_id",
        F.posexplode(H.minhash_band_pairs(F.col("sig"))).alias("band", "key"),
    )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("__da"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("__db"), F.col("sig").alias("sig_b"))
    est = H.minhash_est_jaccard(F.col("sig_a"), F.col("sig_b"))
    return (
        pairs.join(sa, F.col("doc_a") == F.col("__da"))
        .join(sb, F.col("doc_b") == F.col("__db"))
        .filter(est >= 0.5)
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
    )


# Ingest-path broadcast gates for minhash_incr_pairs (r12): a daily
# batch far smaller than the corpus broadcasts its band keys so the
# PERSISTED base band index streams map-side with zero base shuffle;
# the candidate-set gate is MEASURED (footer count of the materialized
# candidate scratch), so an adversarial band collision blow-up falls
# back to the shuffle plan instead of an oversized broadcast.
MINHASH_INCR_BCAST_DOCS = 250_000
MINHASH_INCR_BCAST_CAND = 1_000_000

# The persisted band index is PARTITIONED by a band-key bucket (r13
# VERDICT #1 — the text_index md5-bucket discipline applied to the
# minhash/clusters family): kb = hash(key) % B becomes a hive partition
# directory, so an ingest whose batch touches few distinct band keys
# opens ONLY those directories instead of scanning the whole index.
#
# The bucket count B is SIZE-ADAPTIVE since r15 (r14 VERDICT #1: the
# fixed 64-way fan-out wrote 64 directories of ~5 KB files at sf0.1 and
# made the ingest query run 2.2x FASTER on 8 cores than 32 — pure
# small-file/task overhead, guide §6). The writer picks B from the base
# band-row count (~MINHASH_KB_TARGET_ROWS rows per bucket, power-of-2
# clamp to [MINHASH_KB_MIN, MINHASH_KB_MAX]) and records it in a
# ``_kb_meta.json`` sidecar inside the bands dir of the private build
# dir, so one rename publishes it with the data; the ingest probe
# reads B back from the sidecar — kb is
# engine-internal (no oracle replays it), so writer and prober only
# have to agree with each other. A bands dir without a valid sidecar
# is an error, never a guess: a wrong modulus would silently prune away
# true duplicate pairs.
#
# Honest scale note (SCALE.md r14, still true per-B): a batch of K
# distinct uniform band keys touches min(K, B) buckets, so pruning
# saturates once K >~ B·lnB; the pruning pays off on the SMALL-batch
# ingest shape (trickle/streaming micro-batches), which is plan-pinned
# in pytest. Production sizing: at ~10^11 docs (100 TB corpus) the band
# index is ~8·10^11 rows, so B caps at 1024 (~15 GB per bucket dir,
# multiple files inside) — directory-level pruning granularity; finer
# skipping comes from row-group stats within buckets.
MINHASH_KB_TARGET_ROWS = 2_000_000
MINHASH_KB_MIN, MINHASH_KB_MAX = 8, 1024
_KB_META_NAME = "_kb_meta.json"


def _kb_buckets_for_rows(n_band_rows: int) -> int:
    """Adaptive band-index bucket count: smallest power of 2 in
    [MINHASH_KB_MIN, MINHASH_KB_MAX] holding ~MINHASH_KB_TARGET_ROWS
    rows per bucket."""
    b = MINHASH_KB_MIN
    while b < MINHASH_KB_MAX and n_band_rows > b * MINHASH_KB_TARGET_ROWS:
        b *= 2
    return b


def _read_kb_buckets(art: str) -> int:
    """Bucket count the band index at ``art`` was written with, from its
    sidecar. Raises ValueError when the sidecar is missing or invalid."""
    import json
    import os

    meta = os.path.join(art, "bands", _KB_META_NAME)
    try:
        with open(meta) as fh:
            b = int(json.load(fh)["kb_buckets"])
    except (OSError, KeyError, TypeError, ValueError) as exc:
        raise ValueError(f"band index sidecar {meta} missing or invalid: "
                         f"{exc!r}") from exc
    if b < 1:
        raise ValueError(f"band index sidecar {meta}: kb_buckets={b}")
    return b


def minhash_base_sig_path(art: str) -> str:
    """Base-signature dir of a minhash/clusters incremental artifact."""
    import os

    return os.path.join(art, "sig", "is_base=true")


def minhash_batch_sig_path(art: str) -> str:
    """Staged batch-signature dir of a minhash/clusters incremental
    artifact. The combined is_base-partitioned write creates no
    directory for an empty batch; ``_read_sig`` reads that as an empty
    frame. Shared with the layout-pinning tests."""
    import os

    return os.path.join(art, "sig", "is_base=false")


def _read_sig(spark, path: str):
    """(doc_id, sig) signatures at ``path`` — an empty frame when the
    partition dir is absent (an empty batch writes no directory)."""
    import os

    if not os.path.isdir(path):
        return spark.createDataFrame([], "doc_id long, sig array<long>")
    return spark.read.parquet(path)


def _band_kb_longs(k1, k2, buckets: int):
    """Partition bucket of a LONG-PAIR band key (see
    functions/hashing.minhash_band_pairs): xxhash64 is deterministic
    (fixed seed 42) and engine-internal — no oracle ever replays kb, so
    it only has to agree between the artifact writer and the ingest
    probe (the writer stages the bucket count into the artifact's
    ``_kb_meta.json``; the probe reads it back)."""
    return F.pmod(F.xxhash64(k1, k2), F.lit(buckets)).cast("int")


def _band_explode(sig_df):
    """(doc_id, band, k1, k2) band rows of a signature frame — the r14
    long-pair band schema shared by the artifact writers and the ingest
    probe side."""
    return sig_df.select(
        "doc_id",
        F.posexplode(H.minhash_band_pairs(F.col("sig"))).alias("band", "bk"),
    ).select("doc_id", "band", F.col("bk.k1").alias("k1"),
             F.col("bk.k2").alias("k2"))


def _parquet_dir_rows(path: str) -> int:
    """Footer row count of an arbitrary parquet dir (no Spark job); 0
    for an absent dir."""
    import os

    import pyarrow.parquet as pq

    from ..sources.catalog import parquet_part_files

    if not os.path.isdir(path):
        return 0
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_part_files(path))


def _write_sig_bands(spark, b: str, sig_all) -> None:
    """Write the signature table and band index of an incremental
    minhash record into build dir ``b`` (shared by
    dedup_minhash_incremental and dedup_clusters_incremental).

    - ONE signature write, hive-partitioned by is_base: base sigs at
      sig/is_base=true (the oracle glob), batch sigs at
      sig/is_base=false. The batch side is not part of the oracle
      contract (the oracle recomputes batch sigs in SQL). Signatures
      are read back from disk, so nothing stays pinned in executor
      storage after the query.
    - The PRE-EXPLODED band index, written from the persisted base sigs
      (no second minhash pass), so every later ingest streams it
      map-side instead of re-exploding and shuffling the base per
      batch. Its bucket count adapts to the base size (footer rows, no
      job) and is recorded in the _kb_meta.json sidecar."""
    import json
    import os

    sig_all.write.partitionBy("is_base").parquet(os.path.join(b, "sig"))
    base_sig_dir = minhash_base_sig_path(b)
    buckets = _kb_buckets_for_rows(
        _parquet_dir_rows(base_sig_dir) * H.MINHASH_BANDS)
    (
        _band_explode(spark.read.parquet(base_sig_dir))
        .withColumn("kb", _band_kb_longs(F.col("k1"), F.col("k2"), buckets))
        .repartition(buckets, F.col("kb"))
        .write.partitionBy("kb").parquet(os.path.join(b, "bands"))
    )
    with open(os.path.join(b, "bands", _KB_META_NAME), "w") as fh:
        json.dump({"kb_buckets": buckets}, fh)


def minhash_incr_pairs(spark, art, batch_sig_path):
    """The INGEST side of incremental MinHash-LSH, O(batch) by design:
    near-dup pairs of a signature batch against the persisted index at
    ``art`` (written by q_dedup_minhash_incremental's base build, or
    any prior ingest). Per call the only O(corpus) touches are COLUMNAR
    SCANS of the persisted sig/band tables (16+2 longs per doc, no
    shuffle, no recompute): under the measured gates the batch's band
    keys broadcast against the PRE-EXPLODED band artifact (the base
    side never shuffles), the candidate set materializes ONCE as a
    localCheckpoint whose measured count picks the verify strategy
    (r15 — was a scratch parquet write + footer read-back:
    one fewer write/commit per ingest, same measured gate), and base
    signatures reach the estimate join through a broadcast semi-join on
    candidate ids. Above the gates every join falls back to the
    shuffle plan — same rows either way. Shared by the registered query
    and clusters_incr_update. The checkpoint blocks ride the returned
    plan; consumers that loop (clusters_incr_update) release them via
    release_plan_checkpoints."""
    import os

    base_p = spark.read.parquet(minhash_base_sig_path(art))
    bands_base = spark.read.parquet(os.path.join(art, "bands"))
    batch_sig = _read_sig(spark, batch_sig_path)
    # one footer pass, reused by the broadcast gate AND the kb
    # saturation estimate below (r14 ADVICE: it was computed twice)
    batch_rows = _parquet_dir_rows(batch_sig_path)
    small_batch = batch_rows <= MINHASH_INCR_BCAST_DOCS

    # band keys as raw long PAIRS (k1, k2): ~2.5x less band-index bytes
    # scanned per ingest than a ':'-joined decimal string, and long
    # hashing instead of string hashing in the probe
    bands_new = _band_explode(batch_sig)
    jk = ("band", "k1", "k2")
    # bucket count from the artifact's sidecar (the writer adapts
    # it to the base size); a missing sidecar raises
    kb_buckets = _read_kb_buckets(art)
    kb_expr = _band_kb_longs(F.col("k1"), F.col("k2"), kb_buckets)
    # kb-bucket partition pruning (r13 VERDICT #1): the batch's
    # distinct kb set is bounded by the bucket count, so the collect
    # is a ≤B-row O(batch) job, and the isin on the partition
    # column prunes base DIRECTORIES — a small batch opens only the
    # buckets its band keys hash to. Every base row that can
    # equi-join a batch key satisfies the filter by construction
    # (kb is a pure function of the key), so rows are unchanged.
    # SATURATION GATE (r14): with K uniform band keys over B buckets
    # the chance any bucket stays untouched is B*(1-1/B)^K — under
    # 3% once K >= 8B — so a batch that big pays the collect job for
    # an isin that prunes nothing; skip it (the filter is a pure
    # optimization, rows identical either way) and scan all buckets.
    # k_est over-counts distinct keys (duplicate-heavy batches), so
    # the skip is conservative — it can only scan buckets a tighter
    # estimate would have pruned, never drop one (r14 ADVICE).
    k_est = batch_rows * H.MINHASH_BANDS
    if k_est < 8 * kb_buckets:
        kbs = [r[0] for r in bands_new
               .select(kb_expr.alias("kb")).distinct().collect()]
        bands_base = bands_base.filter(F.col("kb").isin(kbs))

    def on(a, b, *extra):
        cond = None
        for c in jk:
            eq = F.col(f"{a}.{c}") == F.col(f"{b}.{c}")
            cond = eq if cond is None else (cond & eq)
        for e in extra:
            cond = cond & e
        return cond

    probe = F.broadcast(bands_new) if small_batch else bands_new
    # ONE candidate join (r14; was two — base-vs-batch plus
    # batch-internal): the streamed side is base bands ∪ batch bands
    # with an is_base marker, the batch side probes it once, and the
    # orientation condition (any base row, else b.doc_id < a.doc_id)
    # reproduces both former joins' pairs exactly. Halves the probe
    # broadcasts/scans in the candidate job; plan class (broadcast vs
    # shuffle) still follows the measured gate via ``probe``.
    both = bands_base.select(
        *[F.col(c) for c in ("doc_id", *jk)], F.lit(True).alias("is_base")
    ).unionByName(bands_new.select(
        *[F.col(c) for c in ("doc_id", *jk)], F.lit(False).alias("is_base")
    ))
    cand_all = (
        probe.alias("a")
        .join(both.alias("b"),
              on("a", "b",
                 F.col("b.is_base")
                 | (F.col("b.doc_id") < F.col("a.doc_id"))))
        .select(F.col("a.doc_id").alias("doc_new"),
                F.col("b.doc_id").alias("doc_match"))
    )
    sa = batch_sig.select(F.col("doc_id").alias("__dn"),
                          F.col("sig").alias("sig_a"))
    all_sig = base_p.unionByName(batch_sig)
    if small_batch:
        # the candidate set materializes ONLY to carry the measured
        # count gate that picks broadcast vs shuffle verify and to stop
        # the verify join re-running the band join — a localCheckpoint
        # (r15; was a scratch parquet write + footer
        # read-back — one write job + commit + swap gone per ingest,
        # same measured number). The non-small fallback never consults
        # the gate, so it skips the materialization entirely (r13
        # ADVICE) and stays a lazy distinct.
        cand = cand_all.distinct().localCheckpoint(eager=True)
        if cand.count() <= MINHASH_INCR_BCAST_CAND:
            ids = cand.select(F.col("doc_match").alias("doc_id")).distinct()
            sb_src = all_sig.join(F.broadcast(ids), "doc_id", "left_semi")
            sa = F.broadcast(sa)
        else:
            sb_src = all_sig
    else:
        cand = cand_all.distinct()
        sb_src = all_sig
    sb = sb_src.select(F.col("doc_id").alias("__dm"),
                       F.col("sig").alias("sig_b"))
    est = H.minhash_est_jaccard(F.col("sig_a"), F.col("sig_b"))
    return (
        cand.join(sa, F.col("doc_new") == F.col("__dn"))
        .join(sb, F.col("doc_match") == F.col("__dm"))
        .filter(est >= 0.5)
        .select("doc_new", "doc_match", F.round(est, 4).alias("est_jaccard"))
    )


@register(
    "dedup_minhash_incremental",
    oracle=H.minhash_incr_oracle_sql(
        f"{_md5_hex64_sql('mhinc:')} % 100 >= 90", 0.5,
        f"{cache.ROOT}/mhlsh-incr-current/sig/is_base=true/*.parquet"),
)
def q_dedup_minhash_incremental(spark, sf_dir):
    """INCREMENTAL MinHash-LSH — the fuzzy member of the incremental
    family (exact: dedup_incremental; semantic: semdedup_incremental;
    ANN index: sim_index_incremental): a new batch (the 10% md5
    'mhinc:' bucket) finds near-duplicates against the EXISTING corpus
    without re-shingling it. The base corpus persists as TWO index
    artifacts — the signature table (16 longs/doc) and its
    PRE-EXPLODED band table (band, key, doc_id) — built once and only
    APPENDED to in production; the batch computes its own signatures,
    band-bucket joins the persisted band index AND itself
    (batch-internal pairs oriented doc_match < doc_new), and verifies
    candidates at estimated Jaccard >= 0.5. The join/verify strategy
    is O(batch) under measured gates — see minhash_incr_pairs above,
    which this query shares with the fixed-batch receipt script.
    Output: (doc_new, doc_match, est_jaccard) — doc_match may be a
    base doc or an earlier batch doc.

    VALUE-GATED: the oracle (functions/hashing.minhash_incr_oracle_sql)
    recomputes batch signatures in SQL but reads BASE signatures from
    the engine's persisted artifact, replaying band keys, candidate
    generation, and the agreement estimate exactly — component
    agreement / 16 is a dyadic rational, so the estimate is
    bit-identical cross-engine."""
    from ..ann import index as ann_index

    d = Catalog(spark, sf_dir).table("documents")
    bucket = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("mhinc:"), F.col("doc_id").cast("string"))),
            1, 8), 16, 10).cast("long") % 100
    )
    sig_all = d.select(
        "doc_id", (bucket < 90).alias("is_base"),
        H.minhash_sig_py(3)(F.col("text")).alias("sig"),
    )
    art, _ = cache.build(
        "mhlsh-incr", "v3", cache.fingerprint(sf_dir, ("documents",)),
        lambda b: _write_sig_bands(spark, b, sig_all))
    ann_index.point_current("mhlsh-incr", art)
    return minhash_incr_pairs(spark, art, minhash_batch_sig_path(art))


@register("dedup_simhash", oracle=H.simhash_oracle_sql(_WORDS_CTE, 3))
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs: 32-bit fingerprint from per-word md5 bit votes,
    4-band chunk candidate generation (hamming-≤3 pairs share ≥1 exact 8-bit
    chunk), then exact hamming filter — equi-joins only, no all-pairs."""
    d = Catalog(spark, sf_dir).table("documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("w"),
    )
    hashed = words.select("doc_id", H.md5_prefix_long(F.col("w")).alias("h"))
    vote_aggs = [
        F.sum(v).alias(f"v{k}") for k, v in enumerate(H.simhash_votes(F.col("h")))
    ]
    votes = hashed.groupBy("doc_id").agg(*vote_aggs)
    sig = votes.select(
        "doc_id",
        H.simhash_from_votes(
            [F.col(f"v{k}") for k in range(H.SIMHASH_BITS)]
        ).alias("simhash"),
    )
    bands = sig.select(
        "doc_id", "simhash",
        F.posexplode(H.simhash_band_keys(F.col("simhash"))).alias("band", "key"),
    )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"), F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        pairs.filter(H.hamming(F.col("ha"), F.col("hb")) <= 3)
        .select("doc_a", "doc_b", H.hamming(F.col("ha"), F.col("hb")).alias("hamming"))
    )


@register(
    "sim_topk_lsh",
    oracle="""
    WITH bkt AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_sum(list_transform(generate_series(1, 8),
               j -> CASE WHEN embedding[j] >= 0 THEN (1::BIGINT << (j - 1))
                         ELSE 0::BIGINT END)) AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, v AS qv,
             unnest(list_concat(
               list_prepend(bucket,
                 list_transform(generate_series(0, 7), j -> xor(bucket, 1::BIGINT << j))),
               flatten(list_transform(generate_series(0, 6),
                 i -> list_transform(generate_series(i + 1, 7),
                   j -> xor(bucket, (1::BIGINT << i) | (1::BIGINT << j)))))))
               AS probe
      FROM bkt WHERE vec_id < 5
    ), scored AS (
      SELECT q.q_id, c.vec_id,
             round(list_cosine_similarity(q.qv, c.v), 6) AS cos_sim
      FROM q JOIN bkt c ON c.bucket = q.probe AND c.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def q_sim_topk_lsh(spark, sf_dir):
    """ANN top-k via sign-bucket multi-probe LSH: corpus keyed by the sign
    pattern of its first 8 dims; each query probes its bucket + all hamming-1
    neighbors (9 equi-join keys), scores only candidates, window top-k.
    Deterministic (hence oracle-checkable); recall vs ``sim_topk_brute`` is
    pytest-checked. At 100 TB the probe join shuffles only by bucket key."""
    e = Catalog(spark, sf_dir).table("embeddings")
    # two-step projection — materialize the cast once (r14, see
    # q_dedup_embedding); values bit-identical
    bkt = e.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v"),
    ).select("vec_id", "v", H.sign_bucket(F.col("v")).alias("bucket"))
    queries = (
        bkt.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
            F.explode(H.probe_buckets(F.col("bucket"))).alias("probe"),
        )
    )
    scored = (
        F.broadcast(queries)
        .join(bkt, (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("q_id")))
        .select(
            "q_id", "vec_id",
            F.round(V.cosine(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    return top_per_query(scored, "cos_sim", 10).select(
        "q_id", "vec_id", "cos_sim")


@register("sim_topk_pandas")  # rows-only: pairwise float summation differs
def q_sim_topk_pandas(spark, sf_dir):
    """Throughput variant of sim_topk_brute: numpy-vectorized cosine (one
    matmul per Arrow batch) with LOCAL top-10 pruning inside the scan
    operator (functions/vectors.cosine_topk_scan_pandas) — the EXACT
    scorer's scalable form: only 10 x n_batches skinny rows per query reach
    the global re-rank, never the corpus-sized scored set, and total-order
    selection (cos desc, vec_id asc) makes the result partition-independent.
    Registered rows-only because pairwise summation's last-ulp differences
    break bit-exact hashing vs the oracle. Recall equivalence vs brute is
    pytest-checked. The 5 query vectors come from a driver-side pyarrow
    read (catalog.query_vectors), so building the plan starts no Spark
    job and the corpus is scanned once."""
    e = Catalog(spark, sf_dir).table("embeddings")
    # RAW float32 column into the Arrow scan (r15): the kernel widens to
    # float64 itself (exact), so the JVM cast pass disappears and the
    # Arrow transfer width halves
    corpus = e.select("vec_id", F.col("embedding").alias("v"))
    qrows = query_vectors(sf_dir)
    q_ids = [q for q, _ in qrows]
    id_map = F.array(*[F.lit(q) for q in q_ids])
    local_topk = corpus.mapInPandas(
        V.cosine_topk_scan_pandas([v for _, v in qrows], k=10,
                                  exclude_ids=q_ids),
        schema="qi int, vec_id long, cos double",
    ).select(
        F.element_at(id_map, F.col("qi") + 1).alias("q_id"), "vec_id", "cos"
    )
    # global re-rank under the SAME total order as the local selection
    # (raw cos, vec_id tiebreak); round only for output
    return top_per_query(local_topk, "cos", 10).select(
        "q_id", "vec_id", F.round(F.col("cos"), 6).alias("cos_sim"))


# Assignment-artifact replay oracle (r11, VERDICT r10 #5): the engine
# persists the inverted lists (vec_id, centroid) and the probe set
# (q_id, centroid) — the two data-dependent products of the seeded
# KMeans fit — and scores candidates FROM the persisted assignment.
# DuckDB replays the identical candidate join + exact-cosine rerank +
# top-10 from the same artifacts, so the whole query path is value-
# gated; only the centroid FIT stays pytest-pinned (k-means floats are
# not SQL-replicable, same standing as the PQ codebook fit).
_IVF_REPLAY_ORACLE = f"""
    WITH a AS (
      SELECT vec_id, centroid
      FROM read_parquet('{cache.ROOT}/ivf-current/assign/*.parquet')
    ), p AS (
      SELECT q_id, centroid
      FROM read_parquet('{cache.ROOT}/ivf-current/probes/*.parquet')
    ), cand AS (
      SELECT p.q_id, a.vec_id
      FROM p JOIN a USING (centroid)
      WHERE a.vec_id != p.q_id
    ), rr AS (
      SELECT c.q_id, c.vec_id,
             round(list_cosine_similarity(eq.embedding::DOUBLE[],
                                          ev.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.q_id
      JOIN embeddings ev ON ev.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM rr) WHERE rn <= 10
    ORDER BY q_id, rn
    """


@register("sim_topk_ivf", oracle=_IVF_REPLAY_ORACLE)
def q_sim_topk_ivf(spark, sf_dir):
    """IVF coarse quantization via pyspark.ml KMeans (fixed seed): corpus
    assigned to centroids once; each query probes the 2 nearest centroids'
    inverted lists (equi-join on centroid id), scores candidates, window
    top-k. The data-dependent counterpart of the data-oblivious sign-bucket
    quantizer — better recall on clustered corpora; recall vs brute is
    pytest-checked.

    At-scale fit contract: the quantizer fits on a seeded sample of at most
    ``ann.index.FIT_CAP`` vectors (never the full corpus — a 100 TB corpus
    fits its coarse quantizer on a sample once and persists it). VALUE-GATED
    since r11: the fitted assignment persists as the inverted-list
    artifact (vec_id, centroid) plus a probes artifact (q_id, centroid),
    the engine scores from the persisted assignment, and the DuckDB
    oracle replays candidate join + rerank + top-10 from the same
    artifacts (_IVF_REPLAY_ORACLE above). Repeat invocations skip the
    fit and read the artifacts (fingerprint-keyed per corpus)."""
    import os

    import numpy as np

    from ..ann import index as ann_index

    e = Catalog(spark, sf_dir).table("embeddings")
    corpus = e.select("vec_id", V.as_double(F.col("embedding")).alias("v"))

    def build(b):
        import pandas as pd

        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = e.select(
            "vec_id", array_to_vector(F.col("embedding")).alias("features"))
        km = KMeans(k=8, seed=42, maxIter=10, featuresCol="features",
                    predictionCol="centroid")
        model = km.fit(ann_index.fit_sample(
            feat.select("features"),
            parquet_num_rows(sf_dir, "embeddings")))  # footer, no Spark job
        (
            model.transform(feat).select("vec_id", "centroid")
            .write.mode("overwrite")
            .parquet(os.path.join(b, "assign"))
        )
        centroids = model.clusterCenters()
        rows = []
        for q_id, v in query_vectors(sf_dir):
            qv = np.array(v)
            dists = [float(np.linalg.norm(qv - c)) for c in centroids]
            for cid in np.argsort(dists)[:2]:
                rows.append((int(q_id), int(cid)))
        ann_index._write_small_parquet(
            os.path.join(b, "probes"),
            pd.DataFrame(rows, columns=["q_id", "centroid"]),
        )

    d, _ = cache.build(
        "ivf", "v3", cache.fingerprint(sf_dir, ("embeddings",)), build)
    ann_index.point_current("ivf", d)

    assign = spark.read.parquet(os.path.join(d, "assign"))
    probes = spark.read.parquet(os.path.join(d, "probes"))
    qv_df = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    cand = (
        F.broadcast(probes.join(qv_df, on="q_id"))
        .join(assign, on="centroid")
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    scored = (
        cand.join(corpus, on="vec_id")
        .select(
            "q_id", "vec_id",
            F.round(V.cosine(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    return top_per_query(scored, "cos_sim", 10).select(
        "q_id", "vec_id", "cos_sim")


@register("sim_topk_pq")  # rows-only: k-means codebooks are seed-stable in
# numpy but not reproducible in DuckDB SQL (same standing as sim_topk_ivf)
def q_sim_topk_pq(spark, sf_dir):
    """ANN top-k via product quantization + ADC scan + exact rerank
    (functions/pq.py) — the MEMORY-BOUND scale path: corpus vectors are
    replaced by M=8 nearest-centroid ids (~64x smaller) and the distributed
    scan scores candidates with table lookups only. ONE fused pass
    (pq.encode_topk_scan_pandas) reads the RAW float32 embeddings once,
    keeps each batch's LOCAL top-64 per query by ADC and attaches their
    exact cosine (vectors.cosine_np_seq, bit-identical to the JVM
    ``cosine``) while the raw vectors are still in worker memory. One
    q_id-partitioned window pass then takes the global top-64 by (adc
    desc, vec_id asc) and the top-10 of those by (cos_sim desc, vec_id
    asc): selection by a total order is associative, so the global
    shortlist is inside the union of the local ones and no corpus rejoin
    or query broadcast is needed (pytest-asserted partition-independence
    and plan shape). The persisted-index path (ann/index._rerank_topk)
    keeps its rerank join: its scan reads stored codes, not raw vectors.
    Recall vs ``sim_topk_brute`` is pytest-asserted. The codebooks are
    the ``pq-books`` record (ann/index.pq_codebooks: the bounded fit
    sample, built once per corpus and shared with the persisted index);
    the 5 query vectors come from a driver-side pyarrow read
    (catalog.query_vectors), so a warm build starts no Spark job."""
    import numpy as np

    from ..ann import index as ann_index
    from ..functions import pq

    e = Catalog(spark, sf_dir).table("embeddings")
    books = ann_index.pq_codebooks(spark, sf_dir)

    # the RAW query vectors (exact float32 widening): the kernel builds the
    # ADC tables from their normalized form and reranks against them as is
    qraw = query_vectors(sf_dir)
    q_ids = [q for q, _ in qraw]
    qmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in qraw])

    id_map = F.array(*[F.lit(q) for q in q_ids])
    local_topk = e.select("vec_id", "embedding").mapInPandas(
        pq.encode_topk_scan_pandas(books, qmat, k=ann_index.SHORTLIST,
                                   exclude_ids=q_ids),
        schema="qi int, vec_id long, adc double, cos double",
    ).select(
        F.element_at(id_map, F.col("qi") + 1).alias("q_id"), "vec_id", "adc",
        F.round("cos", 6).alias("cos_sim"),
    )
    shortlist = top_per_query(local_topk, "adc", ann_index.SHORTLIST)
    return top_per_query(shortlist, "cos_sim", ann_index.TOPK).select(
        "q_id", "vec_id", "cos_sim")


def _coarse_groups(n_rows: int) -> int:
    """Coarse-group count for the bucket-local LSH kernels: whole
    (band, key) buckets hash into groups, each processed as ONE pandas
    frame. 256 is the measured sf<=10 optimum (~8 groups per core
    amortizes the per-group Arrow/UDF overhead ~15x), but a FIXED
    count is the fixed-parallelism trap (dedup_ngram_jaccard's n_par
    lesson, round 5): at 1e9 vectors x 3 bands, 256 groups would be
    ~12M banded rows (~3.5 GB) per frame. Cap each group at ~100k
    banded rows (~30 MB with 64-dim float32 embeddings) so group count
    grows with the corpus and frames stay executor-sized.

    SKEW BOUND (explicit, r9 ADVICE): the ~100k cap is an AVERAGE —
    grouping hashes whole (band, key) buckets, so one degenerate
    bucket (masses of identical/near-identical embeddings sharing a
    key, i.e. a corpus that near-dup dedup hasn't seen yet) lands
    UNSPLIT in a single applyInPandas task regardless of group count.
    What stays bounded in that task: memory — the kernels score in
    2048-row blocks (an m-row bucket peaks at ~2048*m*8 B, ~1.6 GB
    even at m=100k), never an m x m allocation. What doesn't: time —
    the task does O(m^2/2) pair work alone. Splitting a bucket's rows
    across tasks loses cross-split pairs unless rows are REPLICATED
    into block pairs (a bucket-internal block-join) — which is exactly
    what `_bucket_pairs_block_salted` (r10) now does for the
    pair-emission consumers: buckets above `_DEGEN_BUCKET_ROWS` route
    through per-(lo, hi) block-pair tasks, everything else keeps this
    coarse-group path. The O(m^2) PAIR WORK is inherent to the planted
    case (it is the output), but it now spreads over nb^2/2 tasks
    instead of stalling one. A degenerate bucket remains a data-quality
    signal (`dedup_exact` removes mass-identical vectors upstream in
    every corpus pipeline); the salt turns the failure mode from one
    unsplittable straggler into ordinary parallel work."""
    return max(256, n_rows // 100_000)


# Degenerate-bucket routing parameters (VERDICT r9 #4). A bucket above
# _DEGEN_BUCKET_ROWS band rows takes the block-salted path; block pairs
# carry <= 2 x _DEGEN_BLOCK_ROWS rows each. The oversized-key set is
# parameter-bounded: at most (total band rows) / _DEGEN_BUCKET_ROWS keys
# (each holds more than the threshold), i.e. <= 30k keys at 1e9 vectors
# x 3 bands — always broadcastable, by construction not by luck.
# Detection runs on a 1/_DEGEN_SAMPLE_MOD vec_id-hash sample: an EXACT
# counts pre-pass re-evaluates the whole band-key subtree and measured
# +70% on the sf10 headline (7.95 vs 4.67 s interleaved, BASELINE.md
# r10); sampling cuts that to the scan + ~1% of the compute. Sound
# because routing is VALUE-NEUTRAL — a missed bucket is the pre-r10
# straggler, a false positive is a few extra tasks, never a wrong pair.
# A true >=100k-row bucket yields ~780 expected sampled rows against a
# trigger at >390 (half the expected rate) — the miss probability is
# Chernoff-negligible (< e^-90).
_DEGEN_BUCKET_ROWS = 100_000
_DEGEN_BLOCK_ROWS = 8_192
_DEGEN_SAMPLE_MOD = 128


def _bucket_pairs_block_salted(bands, n_band_rows, tau, max_bucket_rows=None):
    """Bucket-local all-pairs cosine scoring with a DEGENERATE-BUCKET
    GUARD: the common path is unchanged (whole (band, key) buckets hash
    into `_coarse_groups` and one numpy kernel scores each bucket); any
    bucket whose band-row count exceeds `_DEGEN_BUCKET_ROWS` is instead
    split into ceil(m / _DEGEN_BLOCK_ROWS) id-hash blocks and every
    block PAIR (lo <= hi) becomes its own applyInPandas task scoring
    only its cross-block (or within-block when lo == hi) pairs — the
    union over block pairs is the bucket's exact pair set, each pair
    once (blocks partition rows, so pair (a, b) lives in exactly the
    (blk(a), blk(b)) group).

    Cost: one SAMPLED skinny pass over the bands subtree (counts by
    (band, key) on a 1/_DEGEN_SAMPLE_MOD vec_id-hash sample — map-side
    combinable, 3 longs a row) and a broadcast join against the
    oversized-key set (parameter-bounded, see _DEGEN_BUCKET_ROWS). The
    payload still crosses the wire once; rows of oversized buckets
    cross nb times (the replication IS the parallelism). Routing is
    semantically neutral — both paths emit identical raw doubles — so
    neither the threshold nor the sampled estimate needs precision: a
    mis-routed bucket is slower, never wrong, and an underestimated nb
    only makes blocks proportionally larger.

    FOOTER GATE (r11): when the caller can bound every bucket's size
    from parquet footer counts alone (`max_bucket_rows` — a (band, key)
    bucket never exceeds the vector count, since one vector contributes
    at most one row per key per band), and that bound is at or under
    `_DEGEN_BUCKET_ROWS`, no bucket can route — so the sampled
    detection pass is skipped entirely and the salted branch folds to
    an empty relation at optimization time. This reclaims the detection
    tax on floor-dominated small corpora (measured ~20-24% at sf0.1,
    BASELINE.md r10) where a degenerate bucket is impossible by
    arithmetic, not by luck."""
    normal, salted = _route_degenerate_buckets(
        bands, n_band_rows, max_bucket_rows=max_bucket_rows)
    out = normal.groupBy("g").applyInPandas(
        V.bucket_allpairs_cosine_pandas(tau=tau),
        "vec_a long, vec_b long, cos double",
    )
    if salted is None:
        return out
    return out.unionByName(
        salted.groupBy("band", "key", "lo", "hi")
        .applyInPandas(
            V.block_pair_cosine_pandas(tau=tau),
            "vec_a long, vec_b long, cos double",
        )
    )


def _route_degenerate_buckets(bands, n_band_rows, extra_cols=(),
                              max_bucket_rows=None):
    """Shared degenerate-bucket routing (see _bucket_pairs_block_salted
    for the cost model and the sampling soundness argument). Returns
    (normal, salted): `normal` carries the coarse-group column `g` for
    the whole-bucket kernels; `salted` carries the oversized buckets
    exploded into (band, key, lo, hi) block-pair rows with each row's
    own block id `blk` — group it by (band, key, lo, hi) and hand each
    task to a block-aware kernel. `extra_cols` names payload columns
    beyond (vec_id, embedding) the salted rows must keep (multiprobe's
    is_probe). `max_bucket_rows` is the caller's footer-derived upper
    bound on any single bucket's size (the vector count for every LSH
    consumer); when it proves no bucket can exceed the threshold, the
    detection pass is skipped and `salted` is None — the caller omits
    the block-path branch from the plan entirely."""
    if (max_bucket_rows is not None
            and max_bucket_rows <= _DEGEN_BUCKET_ROWS):
        normal = bands.withColumn(
            "g",
            F.pmod(F.hash("band", "key"), F.lit(_coarse_groups(n_band_rows))),
        )
        return normal, None
    mod = _DEGEN_SAMPLE_MOD
    sample = bands if mod == 1 else bands.filter(
        F.pmod(F.xxhash64("vec_id"), F.lit(mod)) == 0
    )
    counts = sample.groupBy("band", "key").agg(
        (F.count(F.lit(1)) * mod).alias("__m")
    )
    trigger = _DEGEN_BUCKET_ROWS if mod == 1 else _DEGEN_BUCKET_ROWS // 2
    big = counts.filter(F.col("__m") > trigger)
    tagged = bands.join(F.broadcast(big), ["band", "key"], "left")
    normal = (
        tagged.filter(F.col("__m").isNull())
        .drop("__m")
        .withColumn(
            "g",
            F.pmod(F.hash("band", "key"), F.lit(_coarse_groups(n_band_rows))),
        )
    )
    nb = F.ceil(F.col("__m") / F.lit(_DEGEN_BLOCK_ROWS)).cast("int")
    blk = F.pmod(F.hash("vec_id"), nb).cast("int")
    salted = (
        tagged.filter(F.col("__m").isNotNull())
        .withColumn("nb", nb)
        .withColumn("blk", blk)
        .withColumn(
            "bp",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("nb") - 1),
                    lambda o: F.struct(
                        F.least(F.col("blk"), o).alias("lo"),
                        F.greatest(F.col("blk"), o).alias("hi"),
                    ),
                )
            ),
        )
        .select(
            "band", "key", "vec_id", "embedding", *extra_cols, "blk",
            F.col("bp.lo").alias("lo"), F.col("bp.hi").alias("hi"),
        )
    )
    return normal, salted


# NOTE (r8): the hydrate-skinny-pairs scorer `_score_pairs_exact` that
# lived here (per-vector norms on the hydration side + SHUFFLE_HASH
# hints, the r7 fix that took the sf10 candidate scoring 209 -> 89 s)
# was REMOVED: every band-LSH consumer — dedup_embedding, the
# multiprobe twin, knn_graph_lsh — now scores bucket-locally
# (functions/vectors.py bucket_*_pandas kernels) and never materializes
# hydrated pairs at all (sf10: dedup 5.4 s, multiprobe 13 s, knn 6.3 s;
# BASELINE.md r8). Two other r8 alternatives were A/B'd and rejected on
# the way: the 64-term codegen unroll (de-JITs) and
# the Arrow per-pair dot (~1 KB/pair transfer); neither is kept.


@register(
    "dedup_embedding",
    oracle="""
    WITH p AS (
      SELECT greatest(8, least(21,
               cast(ceil(log2(count(*) / 32.0)) AS INT))) AS bits,
             (64 // greatest(8, least(21,
               cast(ceil(log2(count(*) / 32.0)) AS INT)))) AS nbands
      FROM embeddings
    ), bands AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, b.band,
             list_sum(list_transform(generate_series(1, p.bits),
               j -> CASE WHEN embedding[b.band * p.bits + j] >= 0
                         THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END))
               AS key
      FROM embeddings, p, (SELECT unnest(generate_series(0, 15)) AS band) b
      WHERE b.band < p.nbands
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.key = b.key
                  AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                        eb.embedding::DOUBLE[]), 6) AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = vec_a
    JOIN embeddings eb ON eb.vec_id = vec_b
    WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                                 eb.embedding::DOUBLE[]) >= 0.3
    """,
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs over the FULL corpus via banded
    sign-LSH — the scale path of ``sim_pairs_threshold`` (the bounded-id
    all-pairs baseline). Each vector gets one key per band (the sign
    pattern of a `bits`-wide dim slice); a pair is a candidate iff it
    shares ≥1 (band, key); exact cosine ≥ τ filters candidates. The join
    shuffles on (band, key) only — never all-pairs.

    Band WIDTH IS ADAPTIVE (round-4 fix for the fourth-decade blowup):
    with fixed 8-bit bands the bucket count is constant, so density —
    and the within-bucket pair expansion — grows linearly with n and
    candidates grow QUADRATICALLY (measured 5.0x/decade at sf1). Setting
    bits = clamp(8..16, ceil(log2(n/32))) holds expected bucket density
    at ~32 vectors, so candidate volume grows ~linearly with n; at sf1
    this is 10 bits x 6 bands (measured back under 2x/decade). The n
    lookup is a 1-row count (metadata-cheap), mirrored exactly by the
    oracle's count(*) CTE so DuckDB derives the identical config.

    Banding math (random-hyperplane LSH): P[bit agrees] = 1 − θ/π. At a
    production near-dup threshold τ=0.9 (θ≈26°, p≈0.856) an 8-bit band
    matches with p⁸≈0.29 and 8 bands give recall 1−(1−0.29)⁸ ≈ 0.93;
    at 10 bits x 6 bands recall is 1−(1−p¹⁰)⁶ ≈ 0.76 — the honest
    density/recall tradeoff of coordinate sign-LSH on 64 dims (more
    tables of random projections would buy recall back at shuffle cost).
    The registered τ=0.3 exists because this synthetic corpus has no
    higher-similarity pairs at all — at that θ the same config is a weak
    filter (measured recall ~0.14, asserted ≥0.1 in pytest), which is
    the honest LSH tradeoff, not a bug: LSH prunes pairs far below τ,
    and cos 0.3 pairs are barely closer than random.

    The band keys are sign-deterministic, so DuckDB replicates the
    candidate set exactly and the oracle value-checks the whole pipeline,
    approximation included.

    r8 plan: bucket-local scoring, the same two-exchange shape as
    knn_graph_lsh — coarse hash-groups of whole (band, key) buckets feed
    ``V.bucket_allpairs_cosine_pandas`` (raw doubles bit-identical to
    the JVM fold; tau filter runs IN-KERNEL on the raw values, so only
    surviving pairs cross Arrow and the dedup shuffle), then one
    dropDuplicates on the skinny (ids, cos) rows removes cross-band
    repeats (bit-identical cos on every repeat). The r7 plan's band
    self-join + pair dedup + two vector-hydration joins are gone; at
    the sf10 candidate volume the hydration stage alone was 89 s."""
    import math

    from ..sources.catalog import parquet_num_rows

    e = Catalog(spark, sf_dir).table("embeddings")
    n = parquet_num_rows(sf_dir, "embeddings")  # footer read, no job
    # same bits-vs-n schedule as the multiprobe twin (cap 21 = one tier
    # past 16; derivation at q_dedup_embedding_multiprobe)
    bits = min(21, max(8, math.ceil(math.log2(max(n, 2) / 32.0))))
    nbands = 64 // bits
    # band keys in ONE Arrow kernel per batch (r15 — supersedes the r14
    # cast-once fix, which still left bits*nbands sign expressions per
    # row in codegen; the multiprobe twin measured -51% from the same
    # change, see V.band_keys_pandas for the IEEE-identity argument)
    bands = e.select("vec_id", "embedding").mapInPandas(
        V.band_keys_pandas(bits, nbands),
        schema="vec_id long, embedding array<float>, keys array<long>",
    ).select(
        "vec_id", "embedding",
        F.posexplode("keys").alias("band", "key"),
    )
    # r10: degenerate-bucket guard — oversized (band, key) buckets split
    # into block-pair tasks instead of stalling one applyInPandas task
    # (_bucket_pairs_block_salted; routing is value-neutral)
    return (
        _bucket_pairs_block_salted(bands, n * nbands, tau=0.3,
                                   max_bucket_rows=n)
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b", F.round(F.col("cos"), 6).alias("cos_sim"))
    )


@register(
    "knn_graph_brute",
    oracle="""
    WITH s AS (
      SELECT a.vec_id, b.vec_id AS nbr_id,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 200 AND b.vec_id < 200
    )
    SELECT vec_id, nbr_id, rnk, cos_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id ASC) AS rnk
      FROM s
    ) WHERE rnk <= 5
    """,
)
def q_knn_graph_brute(spark, sf_dir):
    """Exact k-nearest-neighbor GRAPH (k=5, cosine) over a bounded id
    range — every vector gets edges to its 5 most-similar others. The
    kNN graph is the substrate ops like graph-based dedup, diversity
    sampling, and cluster refinement consume; this is the all-pairs
    exact baseline (bounded like ``sim_pairs_threshold``), and
    ``knn_graph_lsh`` is the full-corpus scale path recall-checked
    against it. Ranking uses the ROUNDED score (+ nbr_id tie) so order
    is stable across engines' float accumulation, same contract as
    sim_topk_brute."""
    from pyspark.sql import Window

    e = Catalog(spark, sf_dir).table("embeddings").filter(F.col("vec_id") < 200)
    a = e.select(F.col("vec_id"), V.as_double(F.col("embedding")).alias("va"))
    b = e.select(F.col("vec_id").alias("nbr_id"),
                 V.as_double(F.col("embedding")).alias("vb"))
    scored = (
        a.join(F.broadcast(b), F.col("vec_id") != F.col("nbr_id"))
        .select(
            "vec_id", "nbr_id",
            F.round(V.cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("vec_id", "nbr_id", "rnk", "cos_sim")
    )


@register(
    "knn_graph_lsh",
    oracle="""
    WITH p AS (
      SELECT greatest(8, least(21,
               cast(ceil(log2(count(*) / 32.0)) AS INT))) AS bits,
             (64 // greatest(8, least(21,
               cast(ceil(log2(count(*) / 32.0)) AS INT)))) AS nbands
      FROM embeddings
    ), bands AS (
      SELECT vec_id, b.band,
             list_sum(list_transform(generate_series(1, p.bits),
               j -> CASE WHEN embedding[b.band * p.bits + j] >= 0
                         THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END))
               AS key
      FROM embeddings, p, (SELECT unnest(generate_series(0, 15)) AS band) b
      WHERE b.band < p.nbands
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.key = b.key
                  AND a.vec_id < b.vec_id
    ), dirs AS (
      SELECT vec_a, vec_b FROM cand
      UNION ALL SELECT vec_b, vec_a FROM cand
    ), scored AS (
      SELECT vec_a AS vec_id, vec_b AS nbr_id,
             round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[]), 6) AS cos_sim
      FROM dirs
      JOIN embeddings ea ON ea.vec_id = vec_a
      JOIN embeddings eb ON eb.vec_id = vec_b
    )
    SELECT vec_id, nbr_id, rnk, cos_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def q_knn_graph_lsh(spark, sf_dir):
    """Approximate kNN graph (k=5) over the FULL corpus — the scale path
    of ``knn_graph_brute``. Candidates come from the same adaptive-width
    banded sign-LSH as ``dedup_embedding`` (bits = clamp(8..21,
    ceil(log2(n/32))) holds bucket density ~32, so candidate volume
    grows ~linearly with n — never all-pairs). A vector with fewer than
    5 candidates emits fewer edges — the honest LSH recall tradeoff,
    pinned by a recall-vs-brute pytest at sf0.001. Every stage is
    sign/hash-deterministic, so DuckDB replays the whole pipeline —
    approximation included — and the oracle value-checks it.

    r8 plan (closed VERDICT r7 #1, the last >2x compute-bound ratio):
    TWO exchanges end-to-end instead of five —

    1. bucket-local scoring AND selection: band rows group by a coarse
       hash of the bucket key (whole buckets per group — amortizes
       applyInPandas per-group overhead ~15x) and one numpy kernel
       scores each ~32-row bucket and emits, per vector, only the
       DIRECTED candidates within 2e-6 of its bucket-local 5th-best
       raw cosine (``V.bucket_knn_candidates_pandas`` — the eps margin
       makes bucket-local selection a guaranteed superset of the
       rounded-order global top-5; proof in its docstring). The r7
       plan's band self-join, pair dropDuplicates, and two vector-
       hydration SHUFFLE_HASH joins all disappear: vectors cross the
       wire once per band (~300 B each), pairs never carry vectors,
       and the downstream shuffle carries ~5/density of the pair rows;
    2. dedup + top-k in ONE aggregation: groupBy(vec_id) with
       array_distinct (cross-band duplicate pairs carry bit-identical
       cos, so distinct-on-struct removes them) → array_sort on
       struct(-cos_sim, nbr_id) (= ROUNDED cos desc, id asc — the
       cross-engine ranking contract) → slice 5. The separate dedup
       exchange, the mirror explode, and the window's partition-wide
       sort all fold into the map-combinable agg shuffle.

    Interleaved A/B at sf1 in BASELINE.md (r7: ≈4.8x vs oracle; bar 2x)."""
    import math

    from ..sources.catalog import parquet_num_rows

    e = Catalog(spark, sf_dir).table("embeddings")
    n = parquet_num_rows(sf_dir, "embeddings")  # footer read, no job
    bits = min(21, max(8, math.ceil(math.log2(max(n, 2) / 32.0))))
    nbands = 64 // bits
    # band keys in ONE Arrow kernel per batch (r15 — see
    # q_dedup_embedding / V.band_keys_pandas); coarse groups of whole
    # buckets: same (band, key) -> same group, so bucket-local pair
    # semantics are intact; sizing in _coarse_groups
    bands = e.select("vec_id", "embedding").mapInPandas(
        V.band_keys_pandas(bits, nbands),
        schema="vec_id long, embedding array<float>, keys array<long>",
    ).select(
        "vec_id", "embedding",
        F.posexplode("keys").alias("band", "key"),
    )
    # r10: degenerate-bucket guard — block-pair local top-(k+eps) is a
    # superset of the whole-bucket emission (subset k-th best only
    # loosens the threshold; proof in block_knn_candidates_pandas), and
    # the dedup+sort+slice agg below already merges across groups, so
    # routing is value-neutral here exactly as in dedup_embedding
    normal, salted = _route_degenerate_buckets(
        bands, n * nbands, max_bucket_rows=n)
    raw = normal.groupBy("g").applyInPandas(
        V.bucket_knn_candidates_pandas(k=5),
        "vec_id long, nbr_id long, cos double")
    if salted is not None:
        raw = raw.unionByName(
            salted.groupBy("band", "key", "lo", "hi")
            .applyInPandas(V.block_knn_candidates_pandas(k=5),
                           "vec_id long, nbr_id long, cos double")
        )
    cands = (
        raw
        .select(
            "vec_id",
            F.struct((-F.round(F.col("cos"), 6)).alias("negcos"),
                     F.col("nbr_id"),
                     F.round(F.col("cos"), 6).alias("cos_sim")).alias("c"),
        )
    )
    return (
        cands.groupBy("vec_id")
        .agg(F.slice(F.array_sort(F.array_distinct(F.collect_list("c"))),
                     1, 5).alias("top"))
        .select("vec_id", F.posexplode("top").alias("pos", "c"))
        .select(
            "vec_id",
            F.col("c.nbr_id").alias("nbr_id"),
            (F.col("pos") + 1).alias("rnk"),
            F.col("c.cos_sim").alias("cos_sim"),
        )
    )


@register(
    "dedup_embedding_multiprobe",
    oracle="""
    WITH p AS (
      SELECT greatest(8, least(21,
               cast(ceil(log2(count(*) / 32.0)) AS INT))) AS bits,
             (64 // greatest(8, least(21,
               cast(ceil(log2(count(*) / 32.0)) AS INT)))) AS nbands
      FROM embeddings
    ), bands AS (
      SELECT vec_id, b.band,
             list_sum(list_transform(generate_series(1, p.bits),
               j -> CASE WHEN embedding[b.band * p.bits + j] >= 0
                         THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END))
               AS key,
             list_transform(
               (list_sort(list_transform(generate_series(1, p.bits),
                  j -> CAST(floor(CAST(abs(embedding[b.band * p.bits + j]) AS DOUBLE)
                                  * 1000000000.0) AS BIGINT) * 64 + (j - 1))))[1:5],
               k -> k % 64) AS fl
      FROM embeddings, p, (SELECT unnest(generate_series(0, 15)) AS band) b
      WHERE b.band < p.nbands
    ), probes AS (
      SELECT vec_id, band, key FROM bands
      UNION ALL
      SELECT vec_id, band, xor(key, 1::BIGINT << f) AS key
      FROM (SELECT vec_id, band, key, unnest(fl) AS f FROM bands)
    ), cand AS (
      SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
                      greatest(a.vec_id, b.vec_id) AS vec_b
      FROM probes a
      JOIN bands b ON a.band = b.band AND a.key = b.key
                  AND a.vec_id <> b.vec_id
    )
    SELECT vec_a, vec_b,
           round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                        eb.embedding::DOUBLE[]), 6) AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = vec_a
    JOIN embeddings eb ON eb.vec_id = vec_b
    WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                                 eb.embedding::DOUBLE[]) >= 0.3
    """,
)
def q_dedup_embedding_multiprobe(spark, sf_dir):
    """dedup_embedding with QUERY-DIRECTED MULTI-PROBING — the recall-
    recovery dial for the adaptive band narrowing: as bits grow with n
    (density control), per-band match probability falls (p^bits) and
    recall slides (0.93 -> ~0.76 at τ=0.9 for 10x6). Each vector probes
    its band key plus the keys with ONE flipped bit — but only the
    ``_MULTIPROBE_FLIPS`` = 5 LEAST-CONFIDENT bits (smallest |x_j| in the
    band: the coordinates nearest the hyperplane, where a near-neighbor
    most probably lands on the other side — Lv et al.'s multi-probe LSH
    insight). That keeps the probe expansion a CONSTANT (P+1)x instead of
    the old all-bits (bits+1)x whose multiplier grew with log n (the
    measured 2.41x/decade fourth-decade slope), while concentrating the
    probes where flip probability mass actually is. One-sided probing
    with vec_a < vec_b finds each pair exactly once via the smaller id's
    probe set. Bit selection uses an integer sort key
    floor(abs(x)*1e9)*64 + j — float→double widening, double multiply and
    floor are bit-identical in Spark and DuckDB, so the oracle rebuilds
    the same flip set and the whole approximate pipeline stays
    value-checked. Recall retained vs full hamming-1 probing is
    pytest-asserted ≥ 0.95."""
    import math

    from ..sources.catalog import parquet_num_rows

    e = Catalog(spark, sf_dir).table("embeddings")
    n = parquet_num_rows(sf_dir, "embeddings")  # footer read, no job
    # bits-vs-n schedule (VERDICT r6 #5): the 32-vector density ceiling
    # gives bits = ceil(log2(n/32)) — buckets track corpus growth so
    # per-bucket pair work stays bounded within every tier. Cap 21 (3
    # disjoint 21-bit bands of the 64 dims) extends the schedule one
    # tier past the old 16 (4 bands), which saturated at n ~ 2M and let
    # density grow 10x/decade from there (sf10 would sit at 91/bucket).
    # Past n ~ 2^21*32 = 67M vectors per partition-of-interest the
    # next dial is the flip budget, not bits — 2 bands can't afford the
    # lost band diversity.
    bits = min(21, max(8, math.ceil(math.log2(max(n, 2) / 32.0))))
    return _multiprobe_pairs(spark, e, bits, capped=True, n_rows=n)


# Probe only the P least-confident bits (constant probe expansion P+1;
# see q_dedup_embedding_multiprobe). The full hamming-1 form (capped=False)
# exists for the pytest recall comparison only.
_MULTIPROBE_FLIPS = 5


def _multiprobe_pairs(spark, e, bits: int, capped: bool,
                      n_rows: int | None = None):
    nbands = 64 // bits
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(22)])
    p_flips = min(_MULTIPROBE_FLIPS, bits)

    if capped:
        # keys + flip schedule in ONE Arrow kernel (r15, VERDICT #5):
        # the expression form evaluated bits*nbands sign terms plus
        # bits*nbands integer sort keys per row even after the r14
        # cast-once fix; the vectorized batch kernel replaced the whole
        # chain — interleaved A/B 2.00 -> 0.99 s (-51%), identical rows
        # (the sort key and sign test are IEEE-identical, see
        # V.band_keys_pandas).
        entries = e.select("vec_id", "embedding").mapInPandas(
            V.band_keys_pandas(bits, nbands, flips=p_flips),
            schema="vec_id long, embedding array<float>, "
                   "keys array<long>, fl array<int>",
        ).select(
            "vec_id", "embedding", "fl",
            F.posexplode("keys").alias("band", "key"),
        ).select(
            "vec_id", "embedding", "band", "key",
            F.slice(F.col("fl"), F.col("band") * p_flips + 1,
                    p_flips).alias("fl"),
        )
    else:
        # full hamming-1 probing — pytest recall baseline only; keeps
        # the expression form (one shape to maintain per variant)
        ev = e.select("vec_id", "embedding",
                      V.as_double(F.col("embedding")).alias("vd"))
        v = F.col("vd")

        def band_entry(b):
            key = H.sign_bucket(F.slice(v, b * bits + 1, bits), bits=bits)
            flips = F.array(*[F.lit(j) for j in range(bits)])
            return F.struct(
                F.lit(b).alias("band"), key.alias("key"), flips.alias("fl")
            )

        entries = ev.select(
            "vec_id", "embedding",
            F.explode(
                F.array(*[band_entry(b) for b in range(nbands)])).alias("e"),
        ).select(
            "vec_id", "embedding",
            F.col("e.band").alias("band"),
            F.col("e.key").alias("key"),
            F.col("e.fl").alias("fl"),
        )
    # SYMMETRIC probing (a.vec_id != b.vec_id + least/greatest
    # normalization, not one-sided a < b): a pair is a candidate if the
    # disagreeing bit is in EITHER endpoint's flip set — union coverage
    # roughly squares the miss probability of one-sided capped probing
    # (measured 0.73 -> 0.97 retention vs full hamming-1 at sf0.001) at
    # the same probe-side volume.
    #
    # r8 plan: bucket-local scoring (same two-exchange shape as
    # dedup_embedding / knn_graph_lsh) — base rows carry the vector's
    # own band key, probe rows its flipped keys; the kernel pairs
    # (bases ∪ probes) x bases inside each bucket, so the old skinny-
    # pair dedup + 2 vector-hydration joins (scoring stage alone 185 s
    # at the sf10 candidate volume, BASELINE r7) disappear. Probe rows
    # ship the vector once per flip (~300 B) — the same bytes the old
    # plan hydrated per CANDIDATE, of which there are ~32x more.
    # base + probe rows from ONE explode (a base ∪ flips union would
    # plant the interpreted band_entry subtree twice — the same lesson
    # as knn's mirror explode)
    rows = entries.select(
        "vec_id", "embedding", "band",
        F.explode(F.concat(
            F.array(F.struct(F.col("key").alias("key"),
                             F.lit(False).alias("is_probe"))),
            F.transform(
                F.col("fl"),
                lambda f: F.struct(
                    F.col("key").bitwiseXOR(
                        F.element_at(pow2, f + 1)).alias("key"),
                    F.lit(True).alias("is_probe"),
                ),
            ),
        )).alias("k"),
    ).select(
        "vec_id", "embedding", "band",
        F.col("k.key").alias("key"), F.col("k.is_probe").alias("is_probe"),
    )
    flips = min(_MULTIPROBE_FLIPS, bits) if capped else bits
    n_vec = n_rows if n_rows is not None else e.count()
    total_rows = n_vec * nbands * (1 + flips)
    # r10: degenerate-bucket guard, third consumer shape — the blocked
    # kernel keeps the probe/base asymmetry (every (row, base)
    # combination lands in exactly one block-pair group; normalized
    # pairs die in the same dropDuplicates)
    # max_bucket_rows = n even with probes: one vector's rows within a
    # band carry pairwise-distinct keys (base key + single-bit flips),
    # so a bucket receives at most one row per vector
    normal, salted = _route_degenerate_buckets(
        rows, total_rows, extra_cols=("is_probe",), max_bucket_rows=n_vec)
    raw = normal.groupBy("g").applyInPandas(
        V.bucket_probe_pairs_cosine_pandas(tau=0.3),
        "vec_a long, vec_b long, cos double")
    if salted is not None:
        raw = raw.unionByName(
            salted.groupBy("band", "key", "lo", "hi")
            .applyInPandas(V.block_probe_pairs_cosine_pandas(tau=0.3),
                           "vec_a long, vec_b long, cos double")
        )
    return (
        raw.dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b", F.round(F.col("cos"), 6).alias("cos_sim"))
    )


# Ingest-path broadcast gate for exact_incr_new — same discipline and
# threshold as the minhash twin: a daily batch far smaller than the
# corpus broadcasts, anything bigger falls back to the shuffle plan.
EXACT_INCR_BCAST_DOCS = 250_000


def exact_incr_new(spark, art, batch_path):
    """The INGEST side of incremental EXACT dedup, O(batch) by design —
    the family member a 100 TB pipeline runs most often (r12 VERDICT
    #2: the previous form re-hashed and anti-joined the whole corpus
    per call; this applies the r12 minhash discipline to it). The base
    corpus's sha256 index persists at ``art``/hashes (built once, only
    appended to in production); per call the only O(corpus) touch is a
    COLUMNAR SCAN of that one hash column. Under the measured gate
    (batch footer count <= EXACT_INCR_BCAST_DOCS) the batch's distinct
    hashes broadcast and the index streams MAP-SIDE through a semi-join
    — zero base shuffle; the surviving "hits" set (base hashes that
    occur in the batch, bounded by |batch|) broadcasts back into the
    anti-join, so every shuffle in the plan is batch-sized. Above the
    gate every join falls back to the plain shuffle anti-join — same
    rows either way. Within-batch dedup keeps min doc_id per hash."""
    import os

    base = spark.read.parquet(os.path.join(art, "hashes"))
    batch = spark.read.parquet(batch_path)
    if _parquet_dir_rows(batch_path) <= EXACT_INCR_BCAST_DOCS:
        hits = (
            base.join(F.broadcast(batch.select("h").distinct()),
                      "h", "left_semi")
            .select("h").distinct()
        )
        fresh = batch.join(F.broadcast(hits), "h", "left_anti")
    else:
        fresh = batch.join(base.select("h"), "h", "left_anti")
    return (
        fresh.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.col("h").alias("text_hash"))
    )


@register(
    "dedup_incremental",
    oracle=f"""
    WITH batch AS (
      SELECT doc_id, sha256(text) AS h
      FROM documents
      WHERE {_md5_hex64_sql('split:')} % 100 >= 90
    ), base AS (
      SELECT h
      FROM read_parquet('{cache.ROOT}/exact-incr-current/hashes/*.parquet')
    )
    SELECT min(b.doc_id) AS doc_id, b.h AS text_hash
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM base e WHERE e.h = b.h)
    GROUP BY b.h
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """INCREMENTAL exact dedup — the shape a 100 TB ingestion actually
    runs: a new batch (the 10% md5-bucket split) dedups against the
    EXISTING corpus (the other 90%) without re-hashing the corpus at
    ingest time. The base corpus's sha256 content hashes persist as an
    index artifact (built once here, APPENDED to in production — the
    mhlsh-incr sig-table discipline at the exact layer); the ingest is
    ``exact_incr_new`` above: batch hashes anti-join the persisted
    index under measured broadcast gates, then one representative per
    within-batch duplicate group survives (min doc_id). Output: the
    new docs that survive.

    VALUE-GATED: the oracle recomputes BATCH hashes in SQL but reads
    BASE hashes from the engine's persisted artifact — the production
    shape (the corpus is never re-hashed) and the PQ-replay
    gate-honesty rule (artifact rows are inputs; every survival
    decision re-derives)."""
    import os

    from ..ann import index as ann_index

    d = Catalog(spark, sf_dir).table("documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 100
    )
    tagged = d.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h"),
        (bucket < 90).alias("is_existing"),
    )

    def build(b):
        (tagged.filter(F.col("is_existing")).select("doc_id", "h")
         .write.parquet(os.path.join(b, "hashes")))
        # batch hashes are scratch, not index (the oracle recomputes
        # them in SQL) — staged to parquet so the ingest path is the
        # same code a production batch-from-disk runs and the footer
        # count gates it
        (tagged.filter(~F.col("is_existing")).select("doc_id", "h")
         .write.parquet(os.path.join(b, "batch")))

    art, _ = cache.build(
        "exact-incr", "v3", cache.fingerprint(sf_dir, ("documents",)), build)
    ann_index.point_current("exact-incr", art)
    return exact_incr_new(spark, art, os.path.join(art, "batch"))


@register(
    "vocab_top_terms",
    oracle="""
    SELECT word, n FROM (
      SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
            FROM documents)
      GROUP BY word
    )
    ORDER BY n DESC, word ASC
    LIMIT 50
    """,
)
def q_vocab_top_terms(spark, sf_dir):
    """Vocabulary building: corpus-wide term frequencies, top-50 — the
    tokenizer-training precursor. explode → partial-aggregating groupBy on
    the term (one shuffle row per distinct term) → TakeOrdered; at 100 TB
    the same plan holds because the distinct-term set, not the corpus, is
    what shuffles."""
    d = Catalog(spark, sf_dir).table("documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    )
    return (
        words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(50)
    )


def min_label_components(edges, max_rounds: int = 50):
    """Connected components over a DIRECTED-BOTH-WAYS edge frame
    (columns s, d; caller supplies both orientations) by min-label
    propagation WITH POINTER-JUMPING (r6, VERDICT r5 task 5):

    round = (1) neighbor-min — each node takes the min of its own label
    and its in-neighbors' labels (one equi-join + groupBy, a bounded
    shuffle on the node key); (2) shortcut — each node then jumps to its
    LABEL'S label (labels are always node ids, so lbl(lbl) is defined).
    Plain neighbor-min alone needs O(diameter) rounds — a planted
    100-node chain would blow any practical cap; the shortcut roughly
    halves every root-distance each round, giving the classic
    O(log diameter) bound (the same effect the large-star/small-star
    alternation of Kiveris et al. achieves; one fused round here costs
    two keyed joins instead of their two passes over the edge list).
    max_rounds=50 therefore covers diameters up to ~2^50 — the loud
    non-convergence guard remains as an invariant check, not a real
    ceiling.

    Checkpoint discipline: every round localCheckpoints ONCE — each
    round's frame is consumed twice (the convergence count and the next
    round's joins) and the checkpoint keeps round r's plan from nesting r
    joins of lineage; the PREVIOUS round's blocks are released as soon as
    the new round is materialized, so executor storage stays O(1) rounds
    regardless of depth. Returns (labels df [n, lbl], converged) with the
    final frame still checkpointed — callers that loop should release it
    (operators/windows.release_plan_checkpoints) after consuming."""
    from ..operators.windows import release_plan_checkpoints

    labels = edges.select(F.col("s").alias("n")).distinct().select(
        "n", F.col("n").alias("lbl")
    )
    prev = None
    for _ in range(max_rounds):
        prop = (
            edges.join(labels, edges["s"] == labels["n"])
            .groupBy(F.col("d").alias("n2"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        merged = labels.join(prop, labels["n"] == prop["n2"], "left").select(
            "n", "lbl",
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("mid"),
        )
        # pointer jump: lbl <- lbl(lbl). Every label is a node id, so the
        # self-join resolves; min() keeps monotone decrease.
        hop = merged.select(F.col("n").alias("pn"), F.col("mid").alias("plbl"))
        jumped = (
            merged.join(hop, merged["mid"] == hop["pn"], "left")
            .select(
                "n", "lbl",
                F.least(F.col("mid"), F.coalesce("plbl", F.col("mid"))).alias("new_lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = jumped.filter(F.col("new_lbl") != F.col("lbl")).count()
        if prev is not None:
            release_plan_checkpoints(prev)
        prev = jumped
        labels = jumped.select("n", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            return labels, True
    return labels, False


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
                              i -> array_to_string(words[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents)
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {_JACCARD_DF_CAP}
    ), shf AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), nodes AS (SELECT DISTINCT s AS n FROM edges),
    reach(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.n
    )
    SELECT n AS doc_id, min(lbl) AS cluster_id,
           n = min(lbl) AS is_keeper
    FROM reach GROUP BY n
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING — the step after pair generation that every
    production dedup needs: connected components over the Jaccard ≥ 0.5
    pair graph, cluster id = min doc_id in the component, keeper = the min
    itself. Components come from ``min_label_components`` (min-label
    propagation + pointer jumping: O(log diameter) keyed-shuffle rounds,
    per-round checkpoints with O(1)-rounds executor storage — see its
    docstring). The DuckDB oracle computes the same components with a
    recursive CTE."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # checkpoint the (expensive) pair pipeline ONCE — every propagation
    # round re-references edges, and without this each round would re-run
    # the whole shingle/pair computation
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .withColumnsRenamed({"doc_a": "s", "doc_b": "d"})
        .localCheckpoint(eager=True)
    )
    labels, converged = min_label_components(edges)
    from ..operators.windows import release_plan_checkpoints

    release_plan_checkpoints(edges)
    if not converged:
        # silent non-convergence would emit wrong cluster ids AND multiple
        # keepers per cluster — fail loudly instead
        raise RuntimeError(
            "dedup_clusters: label propagation did not converge in 50 "
            "rounds — with pointer jumping that is diameter ~2^50, i.e. "
            "an algorithmic invariant broke, not a deep component"
        )
    return labels.select(
        F.col("n").alias("doc_id"), F.col("lbl").alias("cluster_id"),
        (F.col("n") == F.col("lbl")).alias("is_keeper"),
    )


def _clinc_bucket(col):
    """The 'clinc:' md5 split bucket — ONE definition shared by the
    base/batch tag, the ingest's kind column, and tests."""
    return (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("clinc:"), col.cast("string"))),
            1, 8), 16, 10).cast("long") % 100
    )


_CLINC_PRED = f"{_md5_hex64_sql('clinc:')} % 100 >= 90"


def clusters_incr_update(spark, art, batch_sig_path=None):
    """The INGEST side of incremental connected components, O(batch) by
    design — the CLUSTER-level member of the incremental family (r12
    VERDICT #5), which is what dedup actually serves downstream: a new
    batch's near-dup pairs update PERSISTED cluster ids without
    re-converging the full pair graph. Three steps:

    (1) batch pairs against the persisted band index —
        ``minhash_incr_pairs``, the O(batch) machinery shared with
        dedup_minhash_incremental (base never re-shingles);
    (2) CONTRACT base endpoints to their persisted labels: the touched
        label rows are semi-joined down by the batch pairs' ids
        (broadcast, bounded by |batch pairs|) so the labels artifact is
        only ever SCANNED map-side, then each pair endpoint maps to its
        cluster id (batch docs and base singletons to themselves);
    (3) min-label propagation over the CONTRACTED graph — at most
        2x|batch pairs| nodes, so the pointer-jumping loop runs over a
        batch-sized frame regardless of corpus size; base components
        enter as single contracted nodes, which is exactly why no
        full-graph re-convergence is needed.

    Output: (id, kind, cluster_id) — one row per batch doc with its
    merged cluster id, plus one row per TOUCHED base cluster whose id
    participates in a merged component (kind='base_cluster'; its
    cluster_id is the new merged label, which every downstream consumer
    applies as a remap old->new)."""
    import os

    from ..operators.windows import release_plan_checkpoints

    if batch_sig_path is None:
        batch_sig_path = minhash_batch_sig_path(art)
    # checkpoint the pair pipeline ONCE: the edge plan references it
    # three times (both union orientations + the touched-labels
    # broadcast build), and without this the band join + estimate
    # verify would re-run per reference — on exactly the hot ingest
    # path this operator exists to keep O(batch) (r13 second review)
    raw_pairs = minhash_incr_pairs(
        spark, art, batch_sig_path).select("doc_new", "doc_match")
    pairs = raw_pairs.localCheckpoint(eager=True)
    # the ingest's own candidate checkpoint (r15) is consumed now that
    # pairs materialized — release it here, not at ContextCleaner GC
    release_plan_checkpoints(raw_pairs)
    labels = spark.read.parquet(os.path.join(art, "labels"))
    touched = pairs.select(F.col("doc_match").alias("doc_id")).distinct()
    lbl_t = labels.join(F.broadcast(touched), "doc_id", "left_semi")
    ce = (
        pairs.join(F.broadcast(lbl_t),
                   pairs["doc_match"] == lbl_t["doc_id"], "left")
        .select(F.col("doc_new").alias("a"),
                F.coalesce("cluster_id", "doc_match").alias("b"))
    )
    # checkpoint ONCE: every propagation round re-references the edge
    # frame, and without this each round would re-run the band join
    edges = (
        ce.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .union(ce.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    release_plan_checkpoints(pairs)
    comp, converged = min_label_components(edges)
    release_plan_checkpoints(edges)
    if not converged:
        raise RuntimeError(
            "dedup_clusters_incremental: contracted-graph propagation "
            "did not converge in 50 rounds — an invariant broke")
    batch_docs = _read_sig(spark, batch_sig_path).select("doc_id")
    # comp is the contracted-graph labels — bounded by 2x|batch pairs|,
    # so it broadcasts and the batch-docs hydration join stays map-side
    out_batch = (
        batch_docs.join(F.broadcast(comp),
                        batch_docs["doc_id"] == comp["n"], "left")
        .select(F.col("doc_id").alias("id"),
                F.lit("batch_doc").alias("kind"),
                F.coalesce("lbl", "doc_id").alias("cluster_id"))
    )
    out_base = comp.filter(_clinc_bucket(F.col("n")) < 90).select(
        F.col("n").alias("id"), F.lit("base_cluster").alias("kind"),
        F.col("lbl").alias("cluster_id"))
    # comp's checkpoint blocks stay live — the returned plan reads them;
    # the consumer releases them via release_plan_checkpoints
    return out_batch.unionByName(out_base)


@register(
    "dedup_clusters_incremental",
    oracle=f"""
    WITH RECURSIVE {H.minhash_incr_pairs_ctes(
        _CLINC_PRED, 0.5,
        f"{cache.ROOT}/clinc-incr-current/sig/is_base=true/*.parquet")},
    base_lbl AS (
      SELECT doc_id, cluster_id
      FROM read_parquet('{cache.ROOT}/clinc-incr-current/labels/*.parquet')
    ),
    ce AS (
      SELECT p.doc_new AS a, coalesce(bl.cluster_id, p.doc_match) AS b
      FROM pairs p LEFT JOIN base_lbl bl ON bl.doc_id = p.doc_match
    ),
    cedges AS (SELECT a AS s, b AS d FROM ce UNION SELECT b, a FROM ce),
    cnodes AS (SELECT DISTINCT s AS n FROM cedges),
    reach(n, lbl) AS (
      SELECT n, n FROM cnodes
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN cedges e ON e.s = r.n
    ),
    comp AS (SELECT n, min(lbl) AS lbl FROM reach GROUP BY n),
    batch_docs AS (SELECT doc_id FROM documents WHERE {_CLINC_PRED})
    SELECT d.doc_id AS id, 'batch_doc' AS kind,
           coalesce(c.lbl, d.doc_id) AS cluster_id
    FROM batch_docs d LEFT JOIN comp c ON c.n = d.doc_id
    UNION ALL
    SELECT c.n AS id, 'base_cluster' AS kind, c.lbl AS cluster_id
    FROM comp c
    WHERE NOT EXISTS (SELECT 1 FROM batch_docs bd WHERE bd.doc_id = c.n)
    """,
)
def q_dedup_clusters_incremental(spark, sf_dir):
    """INCREMENTAL near-dup clustering — connected components maintained
    under ingest, completing the incremental family at the CLUSTER
    level: a new batch (the 10% md5 'clinc:' bucket) updates the
    persisted cluster labels without re-converging the full pair graph.

    Base build (once per corpus, the artifact): minhash signature +
    pre-exploded band index (the mhlsh-incr layout under its own
    'clinc:' split), base-vs-base near-dup pairs at est Jaccard >= 0.5,
    min-label components over them, labels persisted as
    (doc_id, cluster_id). Ingest (the O(batch) path — shared helper
    ``clusters_incr_update`` above): batch pairs from the persisted
    band index, base endpoints CONTRACT to their persisted labels, and
    the pointer-jumping loop runs over the contracted batch-sized graph
    only. A batch doc bridging two base clusters merges them (the
    planted pytest case); the merged id is min over all member ids
    because each base cluster id is already the min of its members.

    VALUE-GATED: the oracle recomputes batch signatures and pairs in
    SQL (base sigs from the persisted artifact — the
    minhash_incr_oracle_sql machinery via its shared CTE chain), reads
    base labels from the persisted labels artifact, and replays the
    contraction + label merge with a recursive CTE."""
    import os

    from ..ann import index as ann_index
    from ..operators.windows import release_plan_checkpoints

    d = Catalog(spark, sf_dir).table("documents")
    sig_all = d.select(
        "doc_id", (_clinc_bucket(F.col("doc_id")) < 90).alias("is_base"),
        H.minhash_sig_py(3)(F.col("text")).alias("sig"),
    )

    def build(b):
        _write_sig_bands(spark, b, sig_all)
        # base-vs-base pairs from the just-persisted band index (band
        # equi-join, est verify — the dedup_minhash_lsh shape over the
        # artifact), then min-label components -> the labels artifact
        base_rb = spark.read.parquet(minhash_base_sig_path(b))
        bands_b = spark.read.parquet(os.path.join(b, "bands"))
        cand = (
            bands_b.alias("a")
            .join(bands_b.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.k1") == F.col("b.k1"))
                  & (F.col("a.k2") == F.col("b.k2"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sa = base_rb.select(F.col("doc_id").alias("__da"),
                            F.col("sig").alias("sig_a"))
        sb = base_rb.select(F.col("doc_id").alias("__db"),
                            F.col("sig").alias("sig_b"))
        est = H.minhash_est_jaccard(F.col("sig_a"), F.col("sig_b"))
        # checkpoint the verified pair frame ONCE — the symmetric-edge
        # union references it twice, and the band self-join + estimate
        # verify is the expensive half of the base build (r13 second
        # review; same discipline as the ingest side)
        base_pairs = (
            cand.join(sa, F.col("doc_a") == F.col("__da"))
            .join(sb, F.col("doc_b") == F.col("__db"))
            .filter(est >= 0.5)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        base_edges = (
            base_pairs.select(F.col("doc_a").alias("s"),
                              F.col("doc_b").alias("d"))
            .union(base_pairs.select(F.col("doc_b").alias("s"),
                                     F.col("doc_a").alias("d")))
            .localCheckpoint(eager=True)
        )
        release_plan_checkpoints(base_pairs)
        base_lbl, converged = min_label_components(base_edges)
        release_plan_checkpoints(base_edges)
        if not converged:
            raise RuntimeError(
                "dedup_clusters_incremental: base label propagation did "
                "not converge in 50 rounds — an invariant broke")
        (base_lbl.select(F.col("n").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))
         .write.parquet(os.path.join(b, "labels")))
        release_plan_checkpoints(base_lbl)

    art, _ = cache.build(
        "clinc-incr", "v3", cache.fingerprint(sf_dir, ("documents",)), build)
    ann_index.point_current("clinc-incr", art)
    return clusters_incr_update(spark, art)


@register(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
                              i -> array_to_string(words[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents)
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {_JACCARD_DF_CAP}
    ), shf AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), prs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM prs
      UNION ALL SELECT doc_b, doc_a FROM prs
    ), nodes AS (SELECT DISTINCT s AS n FROM edges),
    reach(n, lbl) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.n
    ), comp AS (
      SELECT n AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY n
    ), rep AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, cluster_id,
             list_sum(list_transform(generate_series(1, 8),
               i -> (strpos('0123456789abcdef',
                            substr(md5('lsplit:' || CAST(cluster_id AS VARCHAR)),
                                   i, 1)) - 1)
                    * (1::BIGINT << (4 * (8 - i)))))::BIGINT % 100 AS b
      FROM rep
    )
    """,
)
def q_split_leakage_safe(spark, sf_dir):
    """LEAKAGE-SAFE train/val/test split — the composition every serious
    training pipeline runs but naive hash splitting breaks: assigning
    splits by md5(doc_id) (split_assign) puts two near-duplicate documents
    on opposite sides of the train/eval fence, leaking eval content into
    training. Here the split key is the near-dup CLUSTER representative
    (connected components over the Jaccard ≥ 0.5 pair graph, min doc_id
    label — the dedup_clusters computation), so an entire duplicate
    cluster always lands in ONE split; singleton docs hash their own id.
    90/5/5 buckets via the same md5-bucket recipe as split_assign, keyed
    'lsplit:<cluster_id>'. Scale shape: the cluster labels are the
    iterative-propagation output (bounded rounds, keyed shuffles), the
    rest is one broadcast-class left join + pure expressions — no new
    shuffle beyond dedup_clusters itself."""
    d = Catalog(spark, sf_dir).table("documents")
    clusters = q_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    rep = (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lsplit:"), F.col("cluster_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 100
    )
    return rep.select(
        "doc_id", "cluster_id",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "semantic_search",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.q_id
    ), topk AS (
      SELECT q_id, vec_id, cos_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos_sim DESC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    )
    SELECT t.q_id, t.vec_id, t.cos_sim, d.source,
           substr(d.text, 1, 40) AS snippet
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    """,
)
def q_semantic_search(spark, sf_dir):
    """End-to-end retrieval: ANN top-5 per query over the embedding column,
    joined back to the documents table for the payload (source + snippet) —
    the RAG-retrieval shape. The scorer is the exact brute baseline (swap
    in sim_topk_lsh/ivf for the bucketed path at scale); the doc join is an
    equi-join on the id, so at 100 TB only the k x |queries| hit rows fetch
    text."""
    e = Catalog(spark, sf_dir).table("embeddings")
    d = Catalog(spark, sf_dir).table("documents")
    corpus = e.select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    queries = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), V.as_double(F.col("embedding")).alias("qv"))
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            F.round(V.cosine(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    topk = top_per_query(scored, "cos_sim", 5).select(
        "q_id", "vec_id", "cos_sim")
    return topk.join(d, topk["vec_id"] == d["doc_id"]).select(
        "q_id", "vec_id", "cos_sim", "source",
        F.substring("text", 1, 40).alias("snippet"),
    )


@register(
    "hybrid_search_rrf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), dl AS (
      SELECT doc_id, len(w) AS dl FROM tok
    ), stats AS (
      SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, t.term, len(list_filter(w, x -> x = t.term)) AS tf
      FROM tok, (SELECT unnest(['spark', 'merge']) AS term) t
      WHERE len(list_filter(w, x -> x = t.term)) > 0
    ), dfx AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), bm AS (
      SELECT tf.doc_id,
             round(sum(
               ln((stats.n - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
             ), 4) AS bm25
      FROM tf, stats
      JOIN dfx ON tf.term = dfx.term
      JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id
    ), rt AS (
      SELECT doc_id, r_t FROM (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_t
        FROM bm
      ) WHERE r_t <= 100
    ), q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), vs AS (
      SELECT e.vec_id AS doc_id,
             round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6)
               AS cos
      FROM embeddings e, q WHERE e.vec_id <> 0
    ), rv AS (
      SELECT doc_id, r_v FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r_v
        FROM vs
      ) WHERE r_v <= 50
    ), fused AS (
      SELECT coalesce(rt.doc_id, rv.doc_id) AS doc_id,
             coalesce(1.0 / (60.0 + rt.r_t), 0.0)
               + coalesce(1.0 / (60.0 + rv.r_v), 0.0) AS rrf
      FROM rt FULL JOIN rv ON rt.doc_id = rv.doc_id
    )
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_search_rrf(spark, sf_dir):
    """HYBRID retrieval — reciprocal-rank fusion (Cormack et al. 2009,
    k=60; the Vespa/Elasticsearch/pgvector hybrid default) of the two
    ranking families the engine already serves: Okapi BM25 over the
    pruned inverted index (text arm, reusing q_bm25_search_indexed's
    index-time artifacts) and exact-cosine vector top-50 (vector arm,
    the sim_topk scorer with the query = embedding 0). Docs missing
    from one arm contribute 0 from it — the standard full-outer RRF.

    Cross-engine float contract: each arm's rank is an exact integer
    under a deterministic total order (rounded score desc, id asc), so
    1.0/(60.0 + r) is one IEEE division of identical doubles and the
    fused score is a TWO-term sum in fixed order (text + vector) —
    bit-identical on both engines, no rounding needed; top-10 ties
    break on doc_id.

    Scale notes: BOTH arms cap at an explicit k (text 100, vector 50 —
    real RRF deployments cap both) and the cap is enforced by a
    distributed TakeOrderedAndProject (orderBy + limit — the per-
    partition-heap top-k operator), NEVER by collecting scores into one
    aggregate row: an uncapped single-row collect_list of the vector
    arm would materialize the whole corpus in one reduce task (~24 GB
    at 1e9 vectors — caught in the r8 code review). Rank assignment
    then runs the array-sort agg pattern over the <=k surviving rows
    (bounded by construction, no single-partition window); the fusion
    join is candidate-set-sized. Swap in the IVF-PQ index for the
    vector scan at corpus scale. This is instance #2 of the
    bounded-candidate contract (SCALE.md "Bounded-candidate
    contracts"): the distributed plan's last operator enforces the
    K bound, so the k-sized agg row is a parameter, not a function of
    the corpus."""
    from .pipeline import q_bm25_search_indexed

    def ranked(df, score_col, rank_name, k):
        top = df.orderBy(F.col(score_col).desc(), "doc_id").limit(k)
        arr = F.array_sort(F.collect_list(F.struct(
            (-F.col(score_col)).alias("neg"), F.col("doc_id"))))
        return (
            top.agg(arr.alias("arr"))
            .select(F.posexplode("arr").alias("pos", "s"))
            .select(F.col("s.doc_id").alias("doc_id"),
                    (F.col("pos") + 1).alias(rank_name))
        )

    bm = q_bm25_search_indexed(spark, sf_dir)
    rt = ranked(bm, "bm25", "r_t", k=100)

    e = Catalog(spark, sf_dir).table("embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        V.as_double(F.col("embedding")).alias("qv"))
    vs = (
        e.filter(F.col("vec_id") != 0)
        # one materialized cast per row (r14): cosine's three folds each
        # re-evaluate an INLINE as_double transform — see
        # q_dedup_embedding
        .select("vec_id", V.as_double(F.col("embedding")).alias("vd"))
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(V.cosine(F.col("qv"), F.col("vd")), 6).alias("cos"),
        )
    )
    rv = ranked(vs, "cos", "r_v", k=50)
    fused = (
        rt.join(rv, "doc_id", "full_outer")
        .select(
            "doc_id",
            (F.coalesce(1.0 / (F.lit(60.0) + F.col("r_t")), F.lit(0.0))
             + F.coalesce(1.0 / (F.lit(60.0) + F.col("r_v")), F.lit(0.0))
             ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


def _mmr_oracle() -> str:
    """Build the statically-unrolled MMR oracle: 5 greedy selections,
    each one a (remaining x selected) max-similarity aggregate + an
    argmax under (score desc, vec_id). Generated, not hand-written —
    the per-stage SQL is mechanical."""
    head = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6)
               AS cosq
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY cosq DESC, vec_id LIMIT 20
    ),
    pc AS (
      SELECT a.vec_id AS da, b.vec_id AS db,
             round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[]), 6) AS c
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    s1 AS (SELECT vec_id, cosq, cosq AS mmr FROM cand
           ORDER BY cosq DESC, vec_id LIMIT 1)"""
    stages = [head]
    for i in range(2, 6):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, i))
        stages.append(f"""
    s{i} AS (
      SELECT c.vec_id, c.cosq,
             0.5 * c.cosq - 0.5 * max(pc.c) AS mmr
      FROM cand c
      JOIN pc ON pc.da = c.vec_id AND pc.db IN ({prev})
      WHERE c.vec_id NOT IN ({prev})
      GROUP BY c.vec_id, c.cosq
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    )""")
        head = ""
    selects = " UNION ALL ".join(
        f"SELECT {i} AS rnk, vec_id, cosq, mmr FROM s{i}"
        for i in range(1, 6))
    return ",".join(stages) + f"\n    {selects}"


def _mmr_greedy_pandas(pdf):
    """applyInPandas kernel: the FULL MMR greedy over one bounded
    candidate frame (<= 20 rows: vec_id, cosq, embedding). Runs in one
    task, so the query stays a LAZY single DataFrame plan (r9 ADVICE
    fix — the r8 version collected the candidates and ran the greedy
    eagerly at builder time, so explain/audit tooling paid two full
    Spark jobs just to see the plan).

    Exactness contract unchanged from the driver version: pairwise
    cosines use the sequential-over-dims Python-float fold (the
    identical left-assoc IEEE chain as the bucket kernels, the JVM
    ``aggregate`` fold, and the DuckDB oracle), math.sqrt is IEEE sqrt
    (x**0.5 is libm pow, 1 ulp off for some doubles), both scores
    round to 6 before selection, and lambda = 0.5 is a power of two so
    0.5*a - 0.5*b is exact dyadic arithmetic; argmax ties break on
    vec_id. array<float> values arrive as float32 and widen exactly to
    float64 — the same doubles the collect() path produced."""
    import math

    import pandas as pd

    ids = [int(v) for v in pdf["vec_id"]]
    cosq = {int(v): float(c) for v, c in zip(pdf["vec_id"], pdf["cosq"])}
    emb = {int(v): [float(x) for x in e]
           for v, e in zip(pdf["vec_id"], pdf["embedding"])}

    def pair(a, b):  # sequential-over-dims fold = the oracle's chain
        va, vb = emb[a], emb[b]
        dot = na = nb = 0.0
        for j in range(len(va)):
            dot = dot + va[j] * vb[j]
            na = na + va[j] * va[j]
            nb = nb + vb[j] * vb[j]
        # 1e-300 divisor guard (the V.cosine discipline): a zero-norm
        # row reaching the bounded MMR frame raised ZeroDivisionError
        # (r11 second review). Degenerate-corpus cosine contract is
        # documented on functions/vectors.cosine.
        return round(dot / max(math.sqrt(na) * math.sqrt(nb), 1e-300), 6)

    sel = [max(ids, key=lambda v: (cosq[v], -v))]
    out = [(1, sel[0], cosq[sel[0]], cosq[sel[0]])]
    for rnk in range(2, 6):
        rem = [v for v in ids if v not in sel]
        if not rem:
            break
        scores = {v: 0.5 * cosq[v] - 0.5 * max(pair(v, s) for s in sel)
                  for v in rem}
        pick = max(rem, key=lambda v: (scores[v], -v))
        out.append((rnk, pick, cosq[pick], scores[pick]))
        sel.append(pick)
    return pd.DataFrame(out, columns=["rnk", "vec_id", "cosq", "mmr"])


@register("search_rerank_mmr", oracle=_mmr_oracle())
def q_search_rerank_mmr(spark, sf_dir):
    """MMR diversity re-rank (Carbonell & Goldstein 1998, lambda=0.5):
    greedily select 5 of the vector top-20 so each pick balances query
    relevance against redundancy with what is already picked —
    mmr(d) = 0.5*cos(q,d) - 0.5*max_{s in S} cos(d,s). The
    diversity-selection shape training-data curation and RAG both use
    on top of a retrieval arm.

    Plan shape: the DISTRIBUTED part is the retrieval arm (top-20 via
    TakeOrdered over the corpus, carrying each candidate's vector with
    it — swap in the IVF-PQ index at corpus scale); the greedy then
    runs INSIDE the same lazy plan as one applyInPandas task over the
    K-bounded candidate frame (`_mmr_greedy_pandas`). The greedy's
    input is K rows by construction — corpus-independent — which is
    what makes a single-task stage legitimate here (SCALE.md
    "Bounded-candidate contracts"; the sampled-ANN-fit precedent). A
    lazy k-stage DataFrame unroll was measured first and REJECTED:
    each stage's argmax re-executes every prior stage's subtree, 2^k
    jobs, 11 s at sf1 for what is O(K^2 k) arithmetic. The r8 form ran
    the greedy eagerly on the driver at builder time; r9 moved it into
    the plan so the builder honors the registry's lazy contract
    (ADVICE r8) — values bit-identical, still hash-gated."""
    return (
        _mmr_candidates(spark, sf_dir)
        .withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(_mmr_greedy_pandas,
                       "rnk int, vec_id long, cosq double, mmr double")
    )


def _mmr_candidates(spark, sf_dir):
    """Vector top-20 for query = embedding 0, each with its vector —
    the retrieval arm MMR reranks (TakeOrdered, no window; the 64-float
    payload rides the top-20 rows instead of a second scan+fetch)."""
    e = Catalog(spark, sf_dir).table("embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        V.as_double(F.col("embedding")).alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        # one materialized cast per row (r14) — see q_dedup_embedding
        .select("vec_id", "embedding",
                V.as_double(F.col("embedding")).alias("vd"))
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("qv"), F.col("vd")), 6).alias("cosq"),
            "embedding",
        )
        .orderBy(F.col("cosq").desc(), "vec_id").limit(20)
    )


# DuckDB replay of the persisted ADC scan (VERDICT r9 #5: rows-only ->
# value-hash). The oracle reads the engine's OWN persisted artifacts —
# codes table + per-query ADC weight tables — through the
# cache.ROOT/<kind>-current symlink (the Spark side always runs first in
# the gate and re-points it), and replays the identical arithmetic:
# adc = left-assoc fold of w[q, sub, codes[vec][sub]] from a 0.0 seed
# (list_reduce with a prepended 0.0 == numpy's out = 0; out += w[mi]),
# shortlist = top-64 under (adc DESC, vec_id), exact-cosine rerank from
# the embeddings BASE table, top-10 under (cos_sim DESC, vec_id). The
# fit/encode steps stay pinned by the bit-identical-to-ad-hoc and
# recall pytests; this gate value-checks the whole QUERY path — scan,
# candidate selection, rerank, ordering — the dedup_embedding
# "oracle replays the approximation" precedent applied to artifacts.
# the oracle paths are f-strings over the artifact store's ROOT,
# rendered at import; the store resolves ROOT once at import too, so
# engine writes and oracle reads share one root
_PQ_REPLAY_ORACLE = f"""
    WITH wt AS (
      SELECT q_id, sub, code, w
      FROM read_parquet('{cache.ROOT}/pq-current/adc_w/*.parquet')
    ), scored AS (
      SELECT wt.q_id, c.vec_id,
             list_reduce(list_prepend(0.0, list(wt.w ORDER BY wt.sub)),
                         (a, x) -> a + x) AS adc
      FROM read_parquet('{cache.ROOT}/pq-current/codes/*.parquet') c
      JOIN wt ON wt.code = c.codes[wt.sub + 1]
      WHERE c.vec_id != wt.q_id
      GROUP BY wt.q_id, c.vec_id
    ), cand AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 64
    ), rr AS (
      SELECT c.q_id, c.vec_id,
             round(list_cosine_similarity(eq.embedding::DOUBLE[],
                                          ev.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.q_id
      JOIN embeddings ev ON ev.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM rr) WHERE rn <= 10
    ORDER BY q_id, rn
    """


def _ivfpq_replay_oracle(kind: str) -> str:
    root = f"{cache.ROOT}/{kind}-current"
    return f"""
    WITH wt AS (
      SELECT q_id, sub, code, w
      FROM read_parquet('{root}/adc_w/*.parquet')
    ), pr AS (
      SELECT q_id, cell, qcent
      FROM read_parquet('{root}/probes/*.parquet')
    ), scored AS (
      SELECT wt.q_id, c.vec_id,
             list_reduce(list_prepend(0.0, list(wt.w ORDER BY wt.sub)),
                         (a, x) -> a + x) + any_value(pr.qcent) AS adc
      FROM read_parquet('{root}/codes/*/*.parquet',
                        hive_partitioning = 1) c
      JOIN pr ON pr.cell = c.cell
      JOIN wt ON wt.q_id = pr.q_id AND wt.code = c.codes[wt.sub + 1]
      WHERE c.vec_id != pr.q_id
      GROUP BY wt.q_id, c.vec_id
    ), cand AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 64
    ), rr AS (
      SELECT c.q_id, c.vec_id,
             round(list_cosine_similarity(eq.embedding::DOUBLE[],
                                          ev.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.q_id
      JOIN embeddings ev ON ev.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM rr) WHERE rn <= 10
    ORDER BY q_id, rn
    """


@register("sim_topk_pq_indexed", oracle=_PQ_REPLAY_ORACLE)
def q_sim_topk_pq_indexed(spark, sf_dir):
    """ANN top-k from the PERSISTED PQ index (ann/index.py): the build
    step (distributed encode with the shared ``pq-books`` codebooks ->
    codes parquet + the query set's ``adc_w`` lookup tables) runs ONCE
    per corpus and the query path scans only the ~64x-smaller codes
    table, writing nothing — the FAISS-style build/query split
    sim_topk_pq inlines. Results are bit-identical to the ad-hoc form
    (same codebooks, same total order — pytest-asserted), so this row
    proves the artifact round-trip: encode -> persist -> load -> scan.

    VALUE-GATED since r10: the oracle replays the ADC scan from the
    persisted artifacts (_PQ_REPLAY_ORACLE above) — index dirs are
    deterministic per corpus and the query path re-points the
    `pq-current` symlink the static SQL reads."""
    from ..ann import index as ann_index

    d, _ = cache.build(
        "pq", "v3", cache.fingerprint(sf_dir, ("embeddings",)),
        lambda b: ann_index.build_pq_index(spark, sf_dir, b))
    out = ann_index.query_pq_index(spark, sf_dir, d)
    ann_index.point_current("pq", d)
    return out


@register("sim_topk_ivfpq", oracle=_ivfpq_replay_oracle("ivfpq"))
def q_sim_topk_ivfpq(spark, sf_dir):
    """ANN top-k from the persisted IVF-PQ index (ann/index.py,
    build_ivfpq_index/query_ivfpq_index) — the full FAISS production
    composition the separate sim_topk_ivf (partition pruning) and
    sim_topk_pq (memory compression) halves build up to: coarse cells
    prune the scan via HIVE PARTITIONS (probing nprobe cells is parquet
    directory pruning, plan-asserted in tests), product-quantized
    RESIDUALS compress what remains ~64x, and the ADC decomposition
    q·x = q·cent(cell) + q·residual keeps cross-cell ranking consistent
    with one lookup table per query plus a per-cell scalar. Exact-cosine
    rerank on <= 64 rows per query; recall vs brute pytest-asserted;
    build/query split cached per corpus like sim_topk_pq_indexed.
    VALUE-GATED since r10: the oracle replays the residual-ADC scan
    (fold + q·cent constant) from the persisted codes/adc_w/probes
    artifacts through the `ivfpq-current` symlink — including the
    nprobe cell restriction, which the oracle applies by joining the
    probes artifact exactly where the engine prunes hive partitions."""
    from ..ann import index as ann_index

    d, _ = cache.build(
        "ivfpq", "v3", cache.fingerprint(sf_dir, ("embeddings",)),
        lambda b: ann_index.build_ivfpq_index(spark, sf_dir, b))
    out = ann_index.query_ivfpq_index(spark, sf_dir, d)
    ann_index.point_current("ivfpq", d)
    return out


@register("sim_index_incremental", oracle=_ivfpq_replay_oracle("ivfpq-incr"))
def q_sim_index_incremental(spark, sf_dir):
    """ANN top-k from an INCREMENTALLY MAINTAINED IVF-PQ index — the
    vector-side twin of text_index_incremental, because a vector index
    that needs a full rebuild per ingest batch is equally non-viable at
    100 TB: the base index is built over vec_id % 10 != 0, the remaining
    vectors arrive as a batch encoded with the index's FROZEN coarse
    centroids + PQ codebooks (re-fitting would silently re-key every
    existing code) and their codes APPEND into the cell partitions —
    O(batch) files added, zero base files rewritten (pytest pins both,
    plus codes-table equality with a one-shot frozen-codebook encode of
    the union corpus). Queries run unchanged over the maintained index;
    the nprobe partition pruning sees the appended files exactly like
    the base ones. VALUE-GATED since r10: the same residual-ADC replay
    oracle as sim_topk_ivfpq, over the MAINTAINED index's artifacts
    (base + appended cell files together) via `ivfpq-incr-current` —
    so the gate also proves the appended codes rank identically to
    base ones in the scan."""
    from ..ann import index as ann_index

    def build(b):
        # base build + append in ONE private build: an interrupted
        # sequence publishes nothing, so a retry never double-appends
        ann_index.build_ivfpq_index(
            spark, sf_dir, b, id_filter=F.col("vec_id") % 10 != 0
        )
        ann_index.append_ivfpq_batch(
            spark, sf_dir, b, F.col("vec_id") % 10 == 0
        )

    d, _ = cache.build(
        "ivfpq-incr", "v3", cache.fingerprint(sf_dir, ("embeddings",)), build)
    out = ann_index.query_ivfpq_index(spark, sf_dir, d)
    ann_index.point_current("ivfpq-incr", d)
    return out


_RECALL_METHODS = ("lsh", "ivf", "pq", "ivfpq")


def _recall_report_oracle() -> str:
    """Compose the recall report's oracle FROM the registered per-method
    replay oracles (r13 VERDICT #6): exact top-10 = sim_topk_brute's SQL,
    each approximate method = its own registered oracle verbatim as a CTE
    subquery (nested WITH — DuckDB scopes them), hits = the inner join of
    the two id sets per query. Reusing the registered strings means this
    oracle can never drift from the per-method gates: any change to a
    method's replay automatically flows into its recall row."""
    from . import ORACLES

    bodies = {
        "lsh": ORACLES["sim_topk_lsh"],
        "ivf": ORACLES["sim_topk_ivf"],
        "pq": ORACLES["sim_topk_pq_indexed"],
        "ivfpq": ORACLES["sim_topk_ivfpq"],
    }
    ctes = ",\n".join(
        f"m_{m} AS ({sql})" for m, sql in bodies.items())
    unions = "\nUNION ALL\n".join(
        f"""SELECT '{m}' AS method, q.q_id,
               (SELECT count(*) FROM exact_r e JOIN m_{m} a
                  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
                WHERE e.q_id = q.q_id) AS hits
           FROM qs q""" for m in _RECALL_METHODS)
    return f"""
    WITH exact_r AS ({ORACLES["sim_topk_brute"]}),
    {ctes},
    qs AS (SELECT DISTINCT q_id FROM exact_r),
    hits AS ({unions})
    SELECT method, count(*) AS n_q,
           round(sum(hits) / (10.0 * count(*)), 6) AS mean_recall,
           round(min(hits) / 10.0, 6) AS min_recall
    FROM hits GROUP BY method
    """


@register("sim_recall_report", oracle=_recall_report_oracle())
def q_sim_recall_report(spark, sf_dir):
    """Recall@10 readout for the ANN family (r13 VERDICT #6) — the tuning
    instrument a production index operator reads before turning nprobe/
    band knobs: exact brute-force top-10 on the deterministic query
    sample (vec_id < 5, the family's shared query set) vs each
    approximate path, one row per method with (n_q, mean_recall,
    min_recall). Deterministic end to end — every constituent is one of
    the value-gated registered queries — so the report itself is
    VALUE-GATED via the composed replay oracle above, not a pytest-only
    number at the random-gaussian floor. Recall floors on a
    planted-structure corpus are pytest-pinned
    (tests/test_llm_ops.py::test_sim_recall_report_planted_structure).

    Scale shape: the exact baseline runs on the bounded query sample
    only (|Q| x corpus scored map-side, top-10 per query — the
    sim_topk_brute contract), each approximate path keeps its own
    bucket/partition pruning, and the joins that compute hits are on
    <= 10|Q|-row frames. The exact frame is localCheckpointed once so
    the per-method hit joins reuse it instead of re-scoring the corpus
    per method."""
    from functools import reduce

    exact = (
        q_sim_topk_brute(spark, sf_dir)
        .select("q_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    qids = exact.select("q_id").distinct()
    fns = {"lsh": q_sim_topk_lsh, "ivf": q_sim_topk_ivf,
           "pq": q_sim_topk_pq_indexed, "ivfpq": q_sim_topk_ivfpq}
    frames = []
    for m in _RECALL_METHODS:
        ap = fns[m](spark, sf_dir).select("q_id", "vec_id")
        h = (
            exact.join(ap, ["q_id", "vec_id"], "inner")
            .groupBy("q_id").agg(F.count(F.lit(1)).alias("hits"))
        )
        frames.append(
            qids.join(h, "q_id", "left")
            .select(F.lit(m).alias("method"), "q_id",
                    F.coalesce(F.col("hits"), F.lit(0)).alias("hits"))
        )
    allf = reduce(lambda a, b: a.unionByName(b), frames)
    return (
        allf.groupBy("method")
        .agg(F.count(F.lit(1)).cast("long").alias("n_q"),
             F.round(F.sum("hits") / (F.lit(10.0) * F.count(F.lit(1))), 6)
             .alias("mean_recall"),
             F.round(F.min("hits") / F.lit(10.0), 6).alias("min_recall"))
    )


@register(
    "doc_keywords_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
               AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE len(term) > 2 GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term, CAST(rnk AS INT) AS rnk,
           round(score, 4) AS score
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
)
def q_doc_keywords_tfidf(spark, sf_dir):
    """Per-document keyword extraction by TF-IDF — the classic text-
    pipeline feature (dataset cards, dedup explanations, topic routing):
    term frequencies per doc, smoothed inverse document frequency
    ln((N+1)/(df+1)) joined back (the df table is one row per distinct
    term — broadcast-eligible), top-3 per doc under a total order
    (score desc, term asc — integer tf x shared idf makes the float
    scores bit-identical cross-engine, and the term tie-break settles
    equal scores). Shuffles carry (doc, term) pairs, never text."""
    from pyspark.sql import Window

    d = Catalog(spark, sf_dir).table("documents")
    n_docs = d.count()
    tok = d.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    ).filter(F.length("term") > 2)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy(F.col("term").alias("__t")).agg(
        F.count_distinct("doc_id").alias("df")
    )
    scored = tf.join(F.broadcast(df_t), tf["term"] == F.col("__t")).select(
        "doc_id", "term",
        (F.col("tf")
         * F.log((n_docs + 1.0) / (F.col("df") + 1.0))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.col("rnk").cast("int").alias("rnk"),
                F.round("score", 4).alias("score"))
        .orderBy("doc_id", "rnk")
    )


@register(
    "lang_id_confusion",
    oracle="""
    WITH p AS (SELECT doc_id, lang,
                      ' ' || lower(text) || ' ' AS pt FROM documents),
    h AS (
      SELECT doc_id, lang,
        len(regexp_extract_all(pt, ' the ')) + len(regexp_extract_all(pt, ' and '))
          + len(regexp_extract_all(pt, ' of ')) AS h_en,
        len(regexp_extract_all(pt, ' le ')) + len(regexp_extract_all(pt, ' la '))
          + len(regexp_extract_all(pt, ' et ')) AS h_fr,
        len(regexp_extract_all(pt, ' el ')) + len(regexp_extract_all(pt, ' los '))
          + len(regexp_extract_all(pt, ' y ')) AS h_es,
        len(regexp_extract_all(pt, ' der ')) + len(regexp_extract_all(pt, ' und '))
          + len(regexp_extract_all(pt, ' die ')) AS h_de
      FROM p
    ), pred AS (
      SELECT lang,
        CASE
          WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
          WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
          WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
          WHEN h_es >= h_fr THEN 'es'
          ELSE 'fr'
        END AS lang_pred
      FROM h
    )
    SELECT lang, lang_pred, count(*) AS n
    FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
)
def q_lang_id_confusion(spark, sf_dir):
    """Classifier-vs-label CONFUSION MATRIX — the model-validation shape
    every heuristic filter in a training pipeline needs before it gates
    data: the lang_id prediction crossed with the corpus's labeled lang,
    counted per cell. One grouped pass over the per-doc predictions;
    the matrix is |langs|² rows regardless of corpus size. Reading it at
    sf0.01: the diagonal dominates and 'und' absorbs short docs — the
    audit that tells you a filter's failure mode BEFORE it drops a
    terabyte."""
    d = Catalog(spark, sf_dir).table("documents")
    return (
        d.select("lang", T.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


@register(
    "dedup_graph_triangles",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
                              i -> array_to_string(words[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents)
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {_JACCARD_DF_CAP}
    ), shf AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), e AS (
      SELECT doc_a AS s, doc_b AS d FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ), deg AS (
      SELECT n, count(*) AS dg FROM (
        SELECT s AS n FROM e UNION ALL SELECT d FROM e
      ) GROUP BY n
    )
    SELECT
      CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
      CAST((SELECT count(*) FROM e e1
            JOIN e e2 ON e2.s = e1.d
            JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d) AS BIGINT)
        AS n_triangles,
      CAST((SELECT coalesce(sum(dg * (dg - 1) / 2), 0) FROM deg) AS BIGINT)
        AS n_wedges
    """,
)
def q_dedup_graph_triangles(spark, sf_dir):
    """TRIANGLE COUNT over the near-dup pair graph — the clique-structure
    diagnostic a dedup pipeline runs on its own output: true duplicate
    groups are (near-)cliques, so triangle density ≈ wedge count x
    closure; a pair graph whose components are long triangle-free chains
    is the signature of hash collisions or a threshold set too low.
    Spark shape is the classic ordered wedge-join (edges kept as s < d;
    wedge = e1(s,d) ⋈ e2(d,t); closure checked against the edge set by a
    second equi-join — never an all-pairs product), plus degrees for the
    wedge total. All three outputs are integers; the oracle replays the
    same graph and joins in DuckDB."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    e = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
    e = e.localCheckpoint(eager=True)  # 3 self-joins reuse one materialization
    e1 = e.select(F.col("s").alias("a"), F.col("d").alias("b"))
    e2 = e.select(F.col("s").alias("b2"), F.col("d").alias("c"))
    wedges = e1.join(e2, F.col("b") == F.col("b2"))
    closed = wedges.join(
        e.select(F.col("s").alias("a2"), F.col("d").alias("c2")),
        (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        "left_semi",
    )
    deg = (
        e.select(F.col("s").alias("n"))
        .union(e.select(F.col("d").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("dg"))
    )
    out = (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_triangles")))
        .crossJoin(deg.agg(
            F.coalesce(
                F.sum((F.col("dg") * (F.col("dg") - 1) / 2).cast("long")),
                F.lit(0),
            ).alias("n_wedges")
        ))
    )
    # the checkpoint is a leaf of `out`'s plan — gate/perfbench consumers free
    # it via release_plan_checkpoints(result) after the action
    return out


def _pagerank_edges(spark, sf_dir):
    """Normalized edge list (s, d, frac) of the co-purchase graph.

    Edge generation is the quadratic-per-key fan-out (customers² per
    part), bounded by the jaccard DF-cap argument: parts shared by > 64
    customers are ubiquity, not signal, and are dropped before the pair
    expansion — at 100 TB the cap is what keeps the edge build linear —
    and edges need weight >= 2 (one shared part between uniform shoppers
    is noise; the threshold is what keeps the GRAPH sparse: measured
    17.1M -> 0.8M directed edges at sf0.1, growing sublinearly across
    decades where the unthresholded graph grows ~quadratically in
    density).

    Returns an EAGERLY MATERIALIZED (localCheckpoint) DataFrame, built
    stagewise: the undirected edge list appears FOUR times in the final
    plan (mirror union × out-weight normalization), and in one action
    ReusedExchange dedups only the shuffle WRITE — every consumer
    re-runs the post-shuffle aggregation over the ~10^8-row candidate
    stream (measured 39 vs 27 s at sf1). Stage checkpoints (candidate
    set, DF-capped set, undirected weights) are released before return;
    the returned checkpoint is the caller's to release."""
    from ..operators.windows import release_plan_checkpoints

    cat = Catalog(spark, sf_dir)
    o = cat.table("orders").select("o_orderkey", "o_custkey")
    li = cat.table("lineitem").select("l_orderkey", "l_partkey")
    co = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    small = (
        co.groupBy("p").agg(F.count(F.lit(1)).alias("nc"))
        .filter(F.col("nc") <= 64).select("p")
    )
    cop = co.join(small, "p", "left_semi").localCheckpoint(eager=True)
    a = cop.select(F.col("p"), F.col("c").alias("s"))
    b = cop.select(F.col("p"), F.col("c").alias("d"))
    # generate each co-purchase pair ONCE (s < d) and mirror after the
    # weight aggregation: the graph is symmetric by construction, so the
    # both-orientations fan-out would shuffle 2x the candidate pairs
    # through the (s,d) groupBy for no information
    e_und = (
        a.join(b, "p")
        .filter(F.col("s") < F.col("d"))
        .groupBy("s", "d").agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .localCheckpoint(eager=True)
    )
    release_plan_checkpoints(co)
    release_plan_checkpoints(cop)
    e = e_und.union(e_und.select(F.col("d"), F.col("s"), F.col("w")))
    outw = e.groupBy("s").agg(F.sum("w").alias("ow"))
    en = e.join(outw, "s").select(
        "s", "d", (F.col("w") / F.col("ow")).alias("frac")
    ).localCheckpoint(eager=True)
    release_plan_checkpoints(e_und)
    return en


def pagerank_ranks(spark, sf_dir, rounds: int = 15):
    """CO-PARTITIONED damped power iteration: full rank vector (n, r).

    Scale shape (the r6->r7 swap VERDICT asked for): no rank broadcast
    anywhere — the previous form collected the |V|-row rank vector to
    the driver and re-broadcast it every round, which OOMs driver and
    executors once |V| outgrows the broadcast range. Instead both loop
    operands hold a fixed hash partitioning on the join key:

      * ``ranks`` broadcast is gated on a MEASURED size (|V| counted
        off the materialized checkpoint, × schema width, vs the
        session's autoBroadcastJoinThreshold) — the same decision the
        planner would make if checkpoint leaves carried real stats
        (they carry the pre-checkpoint join's fantasy 1e23-B estimate,
        which disables auto-broadcast; and py4j cannot inject a real
        Statistics — see ``localcheckpoint_declared``). Small |V|:
        executor-broadcast hash join, en read in place, zero per-round
        exchange outside the groupBy. Past the threshold: en is
        re-materialized ONCE hash-partitioned AND sorted on ``s``
        (partitions sized ~64 MB, both facts declared on the
        LogicalRDD leaf), and each round's SortMergeJoin reads it in
        place — the ONE inserted exchange+sort is on the rank side
        only, |V| rows, never |E|, never a driver collect
        (plan-verified with the threshold forced to -1);
      * the teleport term is folded in by unioning a zero-contribution
        row per node before the groupBy — there is no separate
        node-spine join, so the per-round plan is at most TWO
        exchanges: the |V|-row rank realign (large-|V| mode only) and
        the contribution groupBy (map-side partial-agged, so the wire
        carries at most min(|E|, P·|V|) rows).

    At 100 TB this is one rank-sized shuffle per round against an
    in-place edge relation — the standard Pregel/GraphX layout — and
    nothing ever funnels through the driver (the r6 form collected and
    re-broadcast the |V|-row rank vector every round, which OOMs past
    broadcast range). Ranks localCheckpoint per round with the previous
    round's blocks released, so executor storage is O(1) rounds — the
    same discipline as label propagation.
    """
    from ..operators.windows import (
        _estimated_row_bytes,
        localcheckpoint_declared,
        release_plan_checkpoints,
    )

    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    en = _pagerank_edges(spark, sf_dir)  # already materialized
    ranks = (
        en.select(F.col("s").alias("n")).distinct()
        .select("n", F.lit(1.0).alias("r"))
        .localCheckpoint(eager=True)
    )
    # measured broadcast gate: node set (and so this decision) is fixed
    # across rounds; the count is on an already-materialized checkpoint
    try:
        thr = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except ValueError:
        thr = -1  # unit-suffixed conf string — take the conservative path
    small_v = thr > 0 and ranks.count() * _estimated_row_bytes(ranks) < thr
    if not small_v:
        # large-|V| layout: re-materialize the edges hash-partitioned and
        # sorted on s, partitions sized ~64 MB (capped at the session's
        # parallelism), both facts declared — the per-round merge join
        # then touches the edge relation in place. Small |V| skips this:
        # the broadcast loop never shuffles en, and the plain checkpoint
        # keeps AQE's coalesced (task-overhead-right) partitioning.
        p_en = max(1, min(
            p, en.count() * _estimated_row_bytes(en) // (64 << 20) + 1
        ))
        en2 = localcheckpoint_declared(en, ["s"], int(p_en), sort=True)
        release_plan_checkpoints(en)
        en = en2
    prev = None
    for _ in range(rounds):
        rside = F.broadcast(ranks) if small_v else ranks
        contrib = en.join(rside, en["s"] == rside["n"]).select(
            F.col("d").alias("n2"), (F.col("frac") * F.col("r")).alias("c")
        )
        # zero row per node = the spine: every node survives the groupBy
        # (sinks of the contribution pass included) without a second join
        zeros = ranks.select(F.col("n").alias("n2"), F.lit(0.0).alias("c"))
        ranks = (
            contrib.union(zeros)
            .groupBy(F.col("n2").alias("n"))
            .agg((F.lit(0.15) + F.lit(0.85) * F.sum("c")).alias("r"))
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            release_plan_checkpoints(prev)
        prev = ranks
    release_plan_checkpoints(en)
    return ranks


# Rank-artifact replay oracle (r11, VERDICT r10 #3 — the
# _PQ_REPLAY_ORACLE precedent): the engine persists the CONVERGED full
# rank vector (n, r — unrounded doubles) as a parquet artifact and
# computes its top-20 from that artifact; DuckDB replays the identical
# selection (order by unrounded r desc, n asc, limit 20, round 6) over
# the same bits. This value-gates the scoring/selection path end to end;
# the 15-round damped iteration itself stays pinned by the pure-Python
# reference pytest (full vector at 1e-9-scaled-integer exactness at two
# decades, tests/test_llm_ops.py) — float summation ORDER inside a
# distributed agg is engine-specific, so the iteration is replayed in
# Python, not SQL.
_PAGERANK_REPLAY_ORACLE = f"""
    SELECT custkey, rank FROM (
      SELECT n AS custkey, round(r, 6) AS rank,
             row_number() OVER (ORDER BY r DESC, n ASC) AS rn
      FROM read_parquet('{cache.ROOT}/pagerank-current/ranks/*.parquet')
    ) WHERE rn <= 20
    ORDER BY rank DESC, custkey ASC
    """


@register("graph_pagerank", oracle=_PAGERANK_REPLAY_ORACLE)
def q_graph_pagerank(spark, sf_dir):
    """Weighted PageRank over the co-purchase graph — the second
    iterative-graph member next to min_label_components: customers are
    linked when they bought the same part (weight = number of shared
    parts), and 15 damped power-iteration rounds (d=0.85) rank
    centrality. See ``pagerank_ranks`` for the co-partitioned loop
    (one shuffle per round, no rank broadcast — the form that survives
    |V| past broadcast range) and ``_pagerank_edges`` for the DF-capped
    sparse edge build. Output: the top-20 customers by rank (rounded
    1e-6 for display; the pytest compares unrounded).

    VALUE-GATED since r11: the converged rank vector persists as a
    parquet artifact (the production shape — downstream consumers read
    ranks, they don't re-iterate) and both the engine's top-20 and the
    DuckDB oracle select from that artifact (_PAGERANK_REPLAY_ORACLE
    above)."""
    import os

    from ..ann import index as ann_index
    from ..operators.windows import release_plan_checkpoints

    def build(b):
        ranks = pagerank_ranks(spark, sf_dir)
        ranks.write.parquet(os.path.join(b, "ranks"))
        release_plan_checkpoints(ranks)

    d, _ = cache.build(
        "pagerank", "v3", cache.fingerprint(sf_dir, ("orders", "lineitem")),
        build)
    ann_index.point_current("pagerank", d)
    persisted = spark.read.parquet(os.path.join(d, "ranks"))
    return (
        persisted.orderBy(F.col("r").desc(), F.col("n").asc())
        .limit(20)
        .select(F.col("n").alias("custkey"), F.round("r", 6).alias("rank"))
    )


@register(
    "graph_reachability",
    oracle="""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
      SELECT a.pk AS s, b.pk AS d
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      GROUP BY a.pk, b.pk
    ),
    seeds AS (SELECT s AS seed FROM edges GROUP BY s ORDER BY seed ASC LIMIT 4),
    reach(seed, pk, depth) AS (
      SELECT seed, seed, 0 FROM seeds
      UNION ALL
      SELECT DISTINCT r.seed, e.d, r.depth + 1
      FROM reach r JOIN edges e ON e.s = r.pk
      WHERE r.depth < 3
    )
    SELECT seed, pk AS partkey, CAST(min(depth) AS BIGINT) AS hops
    FROM reach GROUP BY seed, pk
    """,
)
def q_graph_reachability(spark, sf_dir):
    """Multi-source BFS (3-hop reachability with exact hop distance) over
    the part co-purchase graph, via Spark 4.1's recursive CTE — the
    third iterative-graph member next to min-label components and
    PageRank, and the declarative twin of their hand-rolled loops. The
    recursion is integer-exact, so the FULL (seed, node, min-depth)
    surface value-hashes against DuckDB running the IDENTICAL recursive
    SQL — iterative graph traversal with a cross-engine hash gate, which
    the float-valued PageRank can never have.

    Scale shape: the edge list materializes ONCE, hash-partitioned AND
    sorted on ``s`` with the layout DECLARED to the planner
    (localcheckpoint_declared — the PageRank discipline), and the
    recursion runs over that table: inlining it into the CTE would
    re-evaluate the whole distinct+self-join+groupBy per BFS level
    (measured 13.4 s vs ~2 s warm at sf0.1, engine-agnostic
    CTE-inlining semantics), and an undeclared checkpoint re-shuffles
    |E| rows every level — declared, each level exchanges only the
    frontier (≤ |V| per seed, vs |E| = 10x|V| here; measured 9.25 →
    8.12 s median at sf1, BASELINE.md r7). Each level is then ONE keyed
    equi-join frontier⋈edges plus a per-level DISTINCT that caps the
    working set (UNION ALL sees only the previous iteration — standard
    working-table semantics on both engines), and the closing
    min(depth) groupBy collapses revisits. Per-order pair fan-out is
    bounded by order width squared (TPC-H-ish width ≤ 7), so the edge
    build never explodes (the collect_set+local-explode alternative
    loses: 4.73 vs 3.00 s at sf1 — no map-side combine on sets, and the
    k² explode inflates the exchange into the pair-distinct); at 100 TB
    every step is a bounded shuffle — no broadcast of anything
    |V|-sized, no driver loop, and the 4-seed anchor is the only LIMIT."""
    # no (ok,pk) pre-distinct: in-order duplicate parts only duplicate
    # pairs the (s,d) dedup below removes anyway — the pre-distinct is a
    # full extra exchange whose hash(ok,pk) layout the join on ok cannot
    # reuse (superset keys don't satisfy the join's distribution)
    li = Catalog(spark, sf_dir).table("lineitem")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("s"))
    b = li.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("d"))
    from ..operators.windows import localcheckpoint_declared

    # partition count scales with the PAIR estimate (~3 pairs per
    # lineitem row at TPC-H-ish order width), target ~2M pairs/task:
    # a fixed session count OOMed the ride-along dedup hash-agg at sf10
    # (240M pairs / 32 tasks competing with the checkpoint blocks —
    # AGGREGATE_OUT_OF_MEMORY, sweep-caught; BASELINE.md r7). The row
    # count comes straight from the parquet footers — li is a bare scan
    # of the lineitem parquet, so footer rows == count() and the r13
    # form's one-job count() action disappears (r14 optimization).
    from ..sources.catalog import parquet_num_rows

    n_li = parquet_num_rows(sf_dir, "lineitem")
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs_est = 3 * n_li
    p_edges = max(p, pairs_est // 2_000_000 + 1)
    # SHUFFLE_HASH on the pair self-join (r14, guide §3.1): sort-merge
    # sorted both 2-long-column sides for a join whose output is
    # immediately re-hashed by s anyway — the sorts buy nothing
    # downstream. Build side per partition is n_li/p rows of two longs
    # (~30 MB at sf10/32 parts), and l_orderkey is uniform, so the
    # hash build is bounded; interleaved A/B at sf0.1: 5.05 -> 3.70 s
    # median (-27%).
    raw = (
        a.join(b.hint("SHUFFLE_HASH"),
               (F.col("k") == F.col("k2")) & (F.col("s") != F.col("d")))
        .select("s", "d")
    )
    # the (s,d) dedup rides the s-repartition — hash(s) co-locates equal
    # (s,d) pairs, so the dropDuplicates agg inserts NO exchange of its
    # own, and the sorted layout is declared to the planner as-is.
    # Checkpoint storage is SCALE-GATED (r14): the recursion decodes the
    # whole edge table once per BFS level, and serialized blocks charge
    # that decode 4x per query — deserialized blocks measured 3.57 ->
    # 3.15 s (-12%) at sf0.1. Serialized stays the big-corpus choice
    # (240M-row deserialized blocks ate a 24g heap at sf10, BASELINE.md
    # r7); the flip at 16M estimated pairs (~1.6 GB deserialized) puts
    # sf1 (pairs_est ~18M) and up on the memory-safe path — the prior
    # 24M flip left sf1 deserialized, contradicting its own intent
    # (r14 ADVICE).
    edges = localcheckpoint_declared(
        raw.repartition(p_edges, "s").dropDuplicates(["s", "d"])
        .sortWithinPartitions("s"),
        ["s"], p_edges, sort=True, assume_layout=True,
        serialized=pairs_est > 16_000_000,
    )
    import hashlib

    view = "graph_edges_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    edges.createOrReplaceTempView(view)
    # consumers release the checkpoint via release_plan_checkpoints(result);
    # the view indirection is why that helper walks the ANALYZED plan too
    return spark.sql(f"""
        WITH RECURSIVE
        seeds AS (SELECT s AS seed FROM {view} GROUP BY s
                  ORDER BY seed ASC LIMIT 4),
        reach(seed, pk, depth) AS (
          SELECT seed, seed, 0 FROM seeds
          UNION ALL
          SELECT DISTINCT r.seed, e.d, r.depth + 1
          FROM reach r JOIN {view} e ON e.s = r.pk
          WHERE r.depth < 3
        )
        SELECT seed, pk AS partkey, CAST(min(depth) AS BIGINT) AS hops
        FROM reach GROUP BY seed, pk
    """)


# Assignment-artifact replay oracle (r11, the _PAGERANK_REPLAY_ORACLE
# precedent applied to a DECISION PROCEDURE): the engine persists the
# per-vector assignment record (vec_id, cell, sub, prio) — cell/sub from
# the seeded k-means (BLAS floats, pytest-pinned, taken as GIVEN bits
# here) and prio = the centroid-cosine the greedy visit order used — and
# DuckDB re-runs the greedy prune itself from that record: a recursive
# CTE steps through each (cell, sub) group in (prio ASC, vec_id ASC)
# order carrying the kept set, scores each candidate against every kept
# vector with the SAME left-associated fold the engine's kernel uses
# (functions/semdedup.greedy_prune — acc = acc + k_d * v_d over dims,
# seeded 0.0), and marks a duplicate of the first-most-similar kept
# vector above 1 - eps. Vectors are re-normalized IN SQL with the exact
# l2_normalize chain (x / sqrt(fold(acc + x*x))), so every float the
# greedy compares is bit-identical cross-engine and the full
# (vec_id, cell, keep, dup_of) surface hash-gates — the first
# iterative/greedy operator with a value gate since graph_reachability's
# recursive BFS. The engine reads its own output back from the artifact
# (single execution, pagerank-style); the oracle reads ONLY the four
# assignment columns and re-derives keep/dup_of, so the gate is a true
# replay, not a round-trip.
_SEMDEDUP_REPLAY_ORACLE = f"""
    WITH RECURSIVE
    a AS (
      SELECT vec_id, cell, sub, prio
      FROM read_parquet('{cache.ROOT}/semdedup-current/assign/*.parquet')
    ), nv AS (
      SELECT vec_id, list_transform(vd, x -> x / nrm) AS nv
      FROM (
        SELECT vec_id, vd,
               greatest(sqrt(list_reduce(list_prepend(0.0,
                    list_transform(vd, x -> x * x)), (s, t) -> s + t)),
                 1e-300) AS nrm
        FROM (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings)
      )
    ), g AS (
      SELECT a.vec_id, a.cell, a.sub, nv.nv,
             row_number() OVER (PARTITION BY a.cell, a.sub
                                ORDER BY a.prio ASC, a.vec_id ASC) AS rn,
             count(*) OVER (PARTITION BY a.cell, a.sub) AS ng
      FROM a JOIN nv USING (vec_id)
    ),
    walk(cell, sub, i, kept, dec) AS (
      SELECT cell, sub, 0::BIGINT,
             CAST([] AS STRUCT(id BIGINT, v DOUBLE[])[]),
             CAST([] AS STRUCT(vec_id BIGINT, keep BOOLEAN,
                               dup_of BIGINT)[])
      FROM (SELECT DISTINCT cell, sub FROM g)
      UNION ALL
      SELECT w.cell, w.sub, w.i + 1,
             CASE WHEN dv.hit THEN w.kept
                  ELSE list_append(w.kept, {{'id': c.vec_id, 'v': c.nv}})
             END,
             list_append(w.dec, {{'vec_id': c.vec_id,
                                  'keep': NOT dv.hit,
                                  'dup_of': CASE WHEN dv.hit
                                    THEN w.kept[dv.bi].id END}})
      FROM walk w
      JOIN g c ON c.cell = w.cell AND c.sub = w.sub AND c.rn = w.i + 1
      CROSS JOIN LATERAL (
        -- NaN (zero-norm) cosines mask to -inf, mirroring the kernel's
        -- np.where(isnan, -inf) guard — DuckDB would otherwise sort
        -- NaN ABOVE the threshold while numpy compares it False
        SELECT list_transform(
                 list_transform(w.kept, kv ->
                   list_reduce(list_prepend(0.0,
                     list_transform(generate_series(1, len(c.nv)),
                                    ii -> kv.v[ii] * c.nv[ii])),
                     (s, t) -> s + t)),
                 s -> CASE WHEN isnan(s)
                           THEN CAST('-infinity' AS DOUBLE)
                           ELSE s END) AS sims
      ) sv
      CROSS JOIN LATERAL (
        SELECT coalesce(list_aggregate(sv.sims, 'max')
                          > {1.0 - _SEMDEDUP_EPS!r}, FALSE) AS hit,
               list_position(sv.sims, list_aggregate(sv.sims, 'max'))
                 AS bi
      ) dv
    ),
    last AS (
      SELECT w.cell, w.dec
      FROM walk w
      JOIN (SELECT DISTINCT cell, sub, ng FROM g) gg
        ON gg.cell = w.cell AND gg.sub = w.sub AND w.i = gg.ng
    )
    SELECT d.vec_id, last.cell, d.keep, d.dup_of
    FROM last, unnest(last.dec) AS t(d)
    """


@register("semdedup_kmeans", oracle=_SEMDEDUP_REPLAY_ORACLE)
def q_semdedup_kmeans(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    k-means clustering + within-cluster cosine pruning, the published
    web-scale (LAION) recipe — see functions/semdedup.py for the scale
    contract. Spark shape: bounded seeded centroid fit (<= 32k sample,
    K tracks n so E[cluster] stays ~64), ONE Arrow map pass tags every
    vector with its nearest cell (centroid matrix <= 2 MB in the
    closure, no shuffle), ONE shuffle on the cell id, then each cluster
    prunes locally in numpy — farthest-from-centroid kept first, a
    vector is a duplicate of the most-similar kept vector above
    cos > 1 - eps. Hot clusters locally re-cluster (seeded by cell id)
    so pairwise work is O(n * 64) at any corpus size — never all-pairs.

    Output: every vector labeled (cell, keep, dup_of) — dup_of is the
    kept vector that shadows it, null for keeps.

    VALUE-GATED since r11: the assignment record persists as a parquet
    artifact and the DuckDB oracle re-runs the greedy prune from it
    bit-exactly (_SEMDEDUP_REPLAY_ORACLE above); the seeded centroid
    fit stays pinned by the independent-greedy-twin, planted-duplicate,
    and layout-independence pytests."""
    import os

    import numpy as np
    import pandas as pd

    from ..ann import index as ann_index
    from ..functions import semdedup as sd

    e = Catalog(spark, sf_dir).table("embeddings")
    n = parquet_num_rows(sf_dir, "embeddings")  # footer read, no Spark job
    k = sd.k_schedule(n)

    def prune(pdf):
        # group row order is layout-dependent — sort before anything
        # order-sensitive so output is partition-independent
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["nv"].to_numpy())
        keep, dup_of, sub, prio = sd.prune_cluster(
            ids, mat, pdf["cdot"].to_numpy(), int(pdf["cell"].iloc[0])
        )
        return pd.DataFrame({
            "vec_id": ids, "cell": pdf["cell"], "sub": sub, "prio": prio,
            "keep": keep, "dup_of": pd.array(dup_of, dtype="Int64"),
        }).assign(dup_of=lambda d: d["dup_of"].mask(d["dup_of"] < 0))

    def build(b):
        fit_df = e.select("embedding")
        cap = min(n, max(8 * k, 4096), sd.FIT_CAP)
        if n > cap:
            fit_df = fit_df.sample(fraction=min(1.0, 1.1 * cap / n),
                                   seed=11).limit(cap)
        # Arrow toPandas, not collect(): same rows in the same driver
        # order, minus the pickled-Row tax (16.8 s for 22k vectors at
        # sf10 — r12 profile of the incremental sibling)
        sample = V.l2_normalize_np_seq(
            np.stack(fit_df.toPandas()["embedding"].to_numpy()))
        cents = sd.fit_centroids(sample, k=min(k, len(sample)), seed=11)

        def tag(batches):
            for pdf in batches:
                mat = V.l2_normalize_np_seq(
                    np.stack(pdf["embedding"].to_numpy()))
                cell, cdot = sd.assign_cells(mat, cents)
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"], "cell": cell, "cdot": cdot,
                    "nv": list(mat),
                })

        # RAW float32 embeddings reach the Arrow tag pass; normalization
        # happens IN-KERNEL with the sequential fold (r15 — the
        # semdedup_incremental discipline applied to the batch variant:
        # the JVM higher-order normalize per corpus row disappears and
        # the Arrow transfer width halves; bit-identical doubles, see
        # vectors.l2_normalize_np_seq). The assignment record + decisions
        # persist ONCE and the result is read back (a single execution
        # of the prune pass feeds both the gate artifact and the
        # returned frame). The replay oracle reads ONLY (vec_id, cell,
        # sub, prio) and re-derives keep/dup_of with its own recursive
        # greedy — the decision columns in the artifact are the
        # engine's output, never the oracle's input.
        (
            e.select("vec_id", "embedding")
            .mapInPandas(tag, schema="vec_id long, cell int, cdot double, "
                                     "nv array<double>")
            .groupBy("cell")
            .applyInPandas(prune,
                           schema="vec_id long, cell int, sub int, "
                                  "prio double, keep boolean, dup_of long")
            .write.parquet(os.path.join(b, "assign"))
        )

    d, _ = cache.build(
        "semdedup", "v3", cache.fingerprint(sf_dir, ("embeddings",)), build)
    ann_index.point_current("semdedup", d)
    return (
        spark.read.parquet(os.path.join(d, "assign"))
        .select("vec_id", "cell", "keep", "dup_of")
    )


# Incremental-semdedup replay oracle (late r11): the INGESTION shape of
# SemDeDup — a new batch (the 10% md5 'sdinc:' bucket) dedups against
# the already-pruned base kept set with FROZEN centroids (no
# re-clustering, no base re-decisions; the frozen-codebook
# sim_index_incremental precedent applied to the greedy family). The
# engine persists TWO records: base/ (vec_id, cell, sub, prio, keep —
# the batch-path assignment record plus its decisions, which are
# INPUTS here: the base is given) and batch/ (vec_id, cell, prio).
# DuckDB seeds each cell's walk with the base kept vectors in their
# canonical (sub, prio, vec_id) order and re-runs the SAME fold-order
# greedy over the batch visit order — so dup_of attribution (base rep
# vs earlier-accepted new vector, earliest-kept tie-break) is replayed
# bit-exactly, not read back.
def semdedup_incr_batch_rec(spark, d: str, batch, kept_src=None):
    """The INGEST side of incremental SemDeDup, O(batch) by design:
    cogroup a tagged batch (vec_id, cell, prio, nv) with the kept
    vectors PERSISTED in the base artifact at ``d`` and run the
    frozen-kept greedy per cell. The only O(base) touch is the columnar
    scan of the index parquet (record + nv payload) — no corpus read,
    no base greedy recompute; the kept side is semi-joined down to the
    CELLS THE BATCH TOUCHES (broadcast of the batch's distinct cell
    ids, bounded by |batch|) before the cogroup, so the cell shuffle
    moves O(touched kept), not O(base kept) — measured: without the
    prune a fixed batch against a 10x base cost 2.4x; with it, flat
    (receipt in BASELINE.md r12). Shared by q_semdedup_incremental.

    ``kept_src`` (r15): optional in-memory base record (same schema as
    the persisted artifact) — the registered query passes the
    checkpointed base frame it is about to persist, so the batch
    decisions do not re-read the parquet it just wrote and the two
    artifact writes can overlap. A production ingest (and the O(batch)
    receipt) keeps the default: read the persisted index."""
    import os

    import numpy as np
    import pandas as pd

    from ..functions import semdedup as sd

    base_p = (kept_src if kept_src is not None
              else spark.read.parquet(os.path.join(d, "base")))
    kept = (
        base_p.filter(F.col("keep"))
        .select("vec_id", "cell", "sub", "prio", "nv")
        .join(F.broadcast(batch.select("cell").distinct()),
              "cell", "left_semi")
    )

    def inc(left, right):
        # left = the cell's batch rows, right = the cell's base kept
        if left.empty:
            return pd.DataFrame({
                "vec_id": pd.Series(dtype="int64"),
                "cell": pd.Series(dtype="int32"),
                "prio": pd.Series(dtype="float64"),
                "keep": pd.Series(dtype="bool"),
                "dup_of": pd.Series(dtype="Int64"),
            })
        left = left.sort_values("vec_id").reset_index(drop=True)
        right = right.sort_values(["sub", "prio", "vec_id"],
                                  na_position="last").reset_index(drop=True)
        ids = left["vec_id"].to_numpy()
        mat = np.stack(left["nv"].to_numpy())
        kept_ids = right["vec_id"].to_numpy()
        kept_mat = (np.stack(right["nv"].to_numpy())
                    if len(right) else np.empty((0, mat.shape[1])))
        keep, dup_of = sd.greedy_prune_incremental(
            ids, mat, left["prio"].to_numpy(), kept_ids, kept_mat)
        return pd.DataFrame({
            "vec_id": ids, "cell": left["cell"], "prio": left["prio"],
            "keep": keep, "dup_of": pd.array(dup_of, dtype="Int64"),
        }).assign(dup_of=lambda x: x["dup_of"].mask(x["dup_of"] < 0))

    return batch.groupBy("cell").cogroup(kept.groupBy("cell")).applyInPandas(
        inc, schema="vec_id long, cell int, prio double, "
                    "keep boolean, dup_of long",
    )


_SEMDEDUP_INCR_REPLAY_ORACLE = f"""
    WITH RECURSIVE
    b AS (
      SELECT vec_id, cell, sub, prio, keep
      FROM read_parquet('{cache.ROOT}/semdedup-incr-current/base/*.parquet')
    ), q AS (
      SELECT vec_id, cell, prio
      FROM read_parquet('{cache.ROOT}/semdedup-incr-current/batch/*.parquet')
    ), nv AS (
      SELECT vec_id, list_transform(vd, x -> x / nrm) AS nv
      FROM (
        SELECT vec_id, vd,
               greatest(sqrt(list_reduce(list_prepend(0.0,
                    list_transform(vd, x -> x * x)), (s, t) -> s + t)),
                 1e-300) AS nrm
        FROM (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings)
      )
    ), k0 AS (
      SELECT b.cell,
             list({{'id': b.vec_id, 'v': nv.nv}}
                  ORDER BY b.sub ASC, b.prio ASC, b.vec_id ASC) AS kept0
      FROM b JOIN nv USING (vec_id) WHERE b.keep
      GROUP BY b.cell
    ), g AS (
      SELECT q.vec_id, q.cell, nv.nv,
             row_number() OVER (PARTITION BY q.cell
                                ORDER BY q.prio ASC, q.vec_id ASC) AS rn,
             count(*) OVER (PARTITION BY q.cell) AS ng
      FROM q JOIN nv USING (vec_id)
    ),
    walk(cell, i, kept, dec) AS (
      SELECT c.cell, 0::BIGINT,
             coalesce(k0.kept0,
                      CAST([] AS STRUCT(id BIGINT, v DOUBLE[])[])),
             CAST([] AS STRUCT(vec_id BIGINT, keep BOOLEAN,
                               dup_of BIGINT)[])
      FROM (SELECT DISTINCT cell FROM g) c
      LEFT JOIN k0 ON k0.cell = c.cell
      UNION ALL
      SELECT w.cell, w.i + 1,
             CASE WHEN dv.hit THEN w.kept
                  ELSE list_append(w.kept, {{'id': c.vec_id, 'v': c.nv}})
             END,
             list_append(w.dec, {{'vec_id': c.vec_id,
                                  'keep': NOT dv.hit,
                                  'dup_of': CASE WHEN dv.hit
                                    THEN w.kept[dv.bi].id END}})
      FROM walk w
      JOIN g c ON c.cell = w.cell AND c.rn = w.i + 1
      CROSS JOIN LATERAL (
        SELECT list_transform(
                 list_transform(w.kept, kv ->
                   list_reduce(list_prepend(0.0,
                     list_transform(generate_series(1, len(c.nv)),
                                    ii -> kv.v[ii] * c.nv[ii])),
                     (s, t) -> s + t)),
                 s -> CASE WHEN isnan(s)
                           THEN CAST('-infinity' AS DOUBLE)
                           ELSE s END) AS sims
      ) sv
      CROSS JOIN LATERAL (
        SELECT coalesce(list_aggregate(sv.sims, 'max')
                          > {1.0 - _SEMDEDUP_EPS!r}, FALSE) AS hit,
               list_position(sv.sims, list_aggregate(sv.sims, 'max'))
                 AS bi
      ) dv
    ),
    last AS (
      SELECT w.cell, w.dec
      FROM walk w
      JOIN (SELECT DISTINCT cell, ng FROM g) gg
        ON gg.cell = w.cell AND w.i = gg.ng
    )
    SELECT d.vec_id, last.cell, d.keep, d.dup_of
    FROM last, unnest(last.dec) AS t(d)
    """


@register("semdedup_incremental", oracle=_SEMDEDUP_INCR_REPLAY_ORACLE)
def q_semdedup_incremental(spark, sf_dir):
    """INCREMENTAL SemDeDup — the daily-ingest shape: a new batch (the
    10% md5 'sdinc:' bucket of ``embeddings``) semantically dedups
    against the EXISTING corpus without re-clustering or re-deciding
    it. Centroids fit once on the base (frozen — the
    sim_index_incremental discipline), ONE map pass assigns both sides,
    the base prunes exactly like ``semdedup_kmeans``, and each cell's
    new vectors run the greedy against the base's kept set (canonical
    (sub, prio, vec_id) order, so base representatives win argmax
    ties) plus earlier-accepted arrivals — a cogrouped per-cell pass,
    O(new x kept_cell) with E[kept_cell] ~ TARGET_CLUSTER/dup-rate.
    A batch vector near a base DUPLICATE (not its kept representative)
    is only collapsed if it is also within eps of the representative —
    the paper's boundary-miss tradeoff, inherited.

    Output: the batch vectors labeled (cell, keep, dup_of); dup_of may
    name a base kept vector or an earlier batch arrival.

    VALUE-GATED: base and batch assignment records persist as parquet
    artifacts and the DuckDB oracle (_SEMDEDUP_INCR_REPLAY_ORACLE
    above) re-runs the incremental greedy from them bit-exactly."""
    import os

    import numpy as np
    import pandas as pd

    from ..ann import index as ann_index
    from ..functions import semdedup as sd

    e = Catalog(spark, sf_dir).table("embeddings")
    bucket = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("sdinc:"), F.col("vec_id").cast("string"))),
            1, 8), 16, 10).cast("long") % 100
    )
    # RAW float32 embeddings reach the Arrow tag pass; normalization
    # happens IN-KERNEL with the sequential fold (bit-identical to the
    # JVM l2_normalize chain the replay oracle mirrors — see
    # vectors.l2_normalize_np_seq). The previous JVM higher-order
    # normalize cost 8.6 s of a 43 s sf10 run and doubled the Arrow
    # transfer width (r12 profile).
    raw = e.select("vec_id", "embedding").withColumn("is_base", bucket < 90)
    n = parquet_num_rows(sf_dir, "embeddings")  # footer read, no Spark job
    n_base = max(1, (n * 9) // 10)  # deterministic k-schedule estimate

    def prune(pdf):
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["nv"].to_numpy())
        keep, dup_of, sub, prio = sd.prune_cluster(
            ids, mat, pdf["cdot"].to_numpy(), int(pdf["cell"].iloc[0])
        )
        return pd.DataFrame({
            "vec_id": ids, "cell": pdf["cell"], "sub": sub, "prio": prio,
            "keep": keep, "nv": pdf["nv"],
        })

    def build(b):
        from concurrent.futures import ThreadPoolExecutor

        from ..operators.windows import release_plan_checkpoints

        k = sd.k_schedule(n_base)
        fit_df = raw.filter(F.col("is_base")).select("embedding")
        cap = min(n_base, max(8 * k, 4096), sd.FIT_CAP)
        if n_base > cap:
            fit_df = fit_df.sample(fraction=min(1.0, 1.1 * cap / n_base),
                                   seed=11).limit(cap)
        # Arrow toPandas, not collect(): the pickled-Row path through
        # the limit's single partition cost 16.8 s for 22k vectors at
        # sf10 (r12 profile); same rows, same driver order
        sample = V.l2_normalize_np_seq(
            np.stack(fit_df.toPandas()["embedding"].to_numpy()))
        cents = sd.fit_centroids(sample, k=min(k, len(sample)), seed=11)

        def tag(batches):
            for pdf in batches:
                mat = V.l2_normalize_np_seq(
                    np.stack(pdf["embedding"].to_numpy()))
                cell, cdot = sd.assign_cells(mat, cents)
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"], "cell": cell, "cdot": cdot,
                    "nv": list(mat), "is_base": pdf["is_base"],
                })

        # persisted: the centroid-tag pass feeds BOTH the base-record
        # write job and the batch cogroup job — without the cache it
        # re-runs per job (r11 second review)
        tagged = raw.mapInPandas(
            tag, schema="vec_id long, cell int, cdot double, "
                        "nv array<double>, is_base boolean"
        ).persist()
        # the base artifact IS the dedup index: per row it carries the
        # greedy record (cell, sub, prio, keep) AND the normalized
        # vector, so a later ingest never touches a base corpus row
        # (r12 — the previous layout re-derived kept nv by joining the
        # corpus per ingest, an O(corpus) join on the batch path). The
        # oracle replay reads only the named record columns; nv is
        # index payload.
        #
        # The base record materializes ONCE as a checkpoint shared by
        # BOTH artifact writes — the batch cogroup keys off the
        # checkpointed rows instead of re-reading the parquet the base
        # write just committed, so the two writes overlap in a 2-thread
        # pool (the second job's tasks back-fill the first's commit
        # tail). Rows are identical by construction: the checkpoint IS
        # the bits the base artifact persists.
        base_cp = (
            tagged.filter(F.col("is_base"))
            .groupBy("cell")
            .applyInPandas(prune, schema="vec_id long, cell int, sub int, "
                                         "prio double, keep boolean, "
                                         "nv array<double>")
            .localCheckpoint(eager=True)
        )
        batch = (
            tagged.filter(~F.col("is_base"))
            .select("vec_id", "cell", F.col("cdot").alias("prio"), "nv")
        )
        batch_rec = semdedup_incr_batch_rec(spark, b, batch, kept_src=base_cp)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(base_cp.write.parquet, os.path.join(b, "base")),
                pool.submit(batch_rec.write.parquet,
                            os.path.join(b, "batch")),
            ]
            for f in futs:
                f.result()
        tagged.unpersist()
        release_plan_checkpoints(base_cp)

    d, _ = cache.build(
        "semdedup-incr", "v3", cache.fingerprint(sf_dir, ("embeddings",)),
        build)
    ann_index.point_current("semdedup-incr", d)
    return (
        spark.read.parquet(os.path.join(d, "batch"))
        .select("vec_id", "cell", "keep", "dup_of")
    )


# Component-artifact replay oracle (r11, VERDICT r10 #5): the engine
# persists the fitted (mean, components) matrix — 8 x 64 rows of
# (c, dim, mean, w) — and projects with a LEFT-ASSOCIATED per-dimension
# accumulation; DuckDB replays proj[c] = fold over dims of
# (v[dim] - mean[dim]) * w[c][dim] with a 0.0 seed, the same chain, so
# the projection doubles are bit-identical across engines (the adc_w
# fold precedent applied to PCA). Only the eigendecomposition stays
# pytest-pinned (LAPACK floats are not SQL-replicable).
_PCA_REPLAY_ORACLE = f"""
    WITH comp AS (
      SELECT c, dim, mean, w
      FROM read_parquet('{cache.ROOT}/pca-current/components/*.parquet')
    ), terms AS (
      SELECT e.vec_id, comp.c,
             list_reduce(
               list_prepend(0.0,
                 list((e.embedding[comp.dim + 1]::DOUBLE - comp.mean)
                      * comp.w ORDER BY comp.dim)),
               (a, x) -> a + x) AS p
      FROM embeddings e CROSS JOIN comp
      GROUP BY e.vec_id, comp.c
    )
    SELECT vec_id, list(p ORDER BY c) AS proj
    FROM terms GROUP BY vec_id
    ORDER BY vec_id
    """


@register("embedding_pca", oracle=_PCA_REPLAY_ORACLE)
def q_embedding_pca(spark, sf_dir):
    """Distributed PCA over the embedding column — the projection/
    whitening substrate embedding pipelines need (OPQ rotations, SemDeDup
    pre-reduction, drift monitoring). One Arrow map pass emits PER-BATCH
    partial moments (count, sum, X^T X — d=64, so 4 KB + 32 KB per batch);
    the driver combines the bounded partials (sorted by partition id so
    float combine order is layout-stable), eigendecomposes the 64x64
    covariance, sign-fixes each component (largest-|coordinate| positive,
    ties lowest index — eigenvectors are unique only up to sign), and ONE
    distributed map pass projects every vector onto the top-8 components.
    Corpus rows never reach the driver; the collect is
    O(partitions * d^2) doubles regardless of corpus size.

    VALUE-GATED since r11: the fitted (mean, components) persist as a
    parameter-bounded artifact, the projection accumulates per-dimension
    LEFT-ASSOCIATED (bit-identical to the oracle's list_reduce fold —
    _PCA_REPLAY_ORACLE above), and repeat invocations skip the moments
    pass by reading the artifact (fingerprint-keyed per corpus)."""
    import os

    import numpy as np
    import pandas as pd

    from ..ann import index as ann_index
    from ..ann.index import _write_small_parquet

    e = Catalog(spark, sf_dir).table("embeddings")
    corpus = e.select("vec_id", V.as_double(F.col("embedding")).alias("v"))
    d, q = 64, 8

    def build(out):
        def moments(batches):
            from pyspark import TaskContext
            pid = TaskContext.get().partitionId()
            for pdf in batches:
                mat = np.stack(pdf["v"].to_numpy())
                yield pd.DataFrame({
                    "pid": [pid], "n": [len(mat)],
                    "s": [mat.sum(axis=0).tolist()],
                    "xtx": [(mat.T @ mat).ravel().tolist()],
                })

        parts = sorted(
            corpus.select("v").mapInPandas(
                moments,
                schema="pid int, n long, s array<double>, xtx array<double>"
            ).collect(),
            key=lambda r: r.pid,
        )
        n = sum(r.n for r in parts)
        s = np.sum([np.array(r.s) for r in parts], axis=0)
        xtx = np.sum([np.array(r.xtx).reshape(d, d) for r in parts], axis=0)
        mean = s / n
        cov = (xtx - n * np.outer(mean, mean)) / (n - 1)
        evals, evecs = np.linalg.eigh(cov)          # ascending
        comp = evecs[:, ::-1][:, :q].T              # (q, d), desc variance
        flip = np.sign(comp[np.arange(q), np.abs(comp).argmax(axis=1)])
        comp = comp * flip[:, None]
        _write_small_parquet(os.path.join(out, "components"), pd.DataFrame({
            "c": np.repeat(np.arange(q, dtype=np.int32), d),
            "dim": np.tile(np.arange(d, dtype=np.int32), q),
            "mean": np.tile(mean, q),
            "w": comp.reshape(-1),
        }))

    idx, _ = cache.build(
        "pca", "v2", cache.fingerprint(sf_dir, ("embeddings",)), build)
    # the fitted components are read back from the artifact on every
    # call (an exact float64 parquet round-trip), built or reused
    pdf = pd.read_parquet(os.path.join(idx, "components"))
    pdf = pdf.sort_values(["c", "dim"])
    mean = pdf[pdf["c"] == 0]["mean"].to_numpy(dtype=np.float64)
    comp = pdf["w"].to_numpy(dtype=np.float64).reshape(q, d)
    ann_index.point_current("pca", idx)

    def project(batches):
        for pdf in batches:
            mat = np.stack(pdf["v"].to_numpy())
            # LEFT-ASSOCIATED per-dimension accumulation (0.0 seed), the
            # oracle's exact fold — not a BLAS matmul, whose pairwise /
            # blocked summation reassociates and drifts at 1e-16. The
            # centering is hoisted out of the component loop (identical
            # IEEE subtract, computed once instead of q times)
            centered = mat - mean
            out = np.zeros((len(mat), q))
            for i in range(q):
                acc = np.zeros(len(mat))
                for j in range(d):
                    acc = acc + centered[:, j] * comp[i, j]
                out[:, i] = acc
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "proj": [row.tolist() for row in out],
            })

    return corpus.mapInPandas(project, schema="vec_id long, proj array<double>")
