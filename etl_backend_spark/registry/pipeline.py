"""Registry: training-data pipeline operators over ``documents`` — chunking,
scrubbing, split assignment, shuffle ordering, sequence packing (driver north
star; these are the stages between raw corpus and training batches).

All deterministic and oracle-checked: sampling/splitting uses md5 hash
buckets (reproducible at any scale and across engines — the correct way to
split 100 TB anyway, since seeded RNG sampling is not stable across
partitionings), and packing uses running-total windows.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..sources import cache
from ..sources.catalog import Catalog
from . import _md5_hex64_sql, register


@register(
    "doc_chunk",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ), c AS (
      SELECT doc_id, words,
             unnest(generate_series(0,
               CAST(floor(greatest(len(words) - 1, 0) / 48.0) AS BIGINT))) AS chunk_idx
      FROM w
    )
    SELECT doc_id, chunk_idx,
           array_to_string(words[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
             AS chunk_text,
           least(len(words) - chunk_idx * 48, 64) AS n_tokens
    FROM c
    """,
)
def q_doc_chunk(spark, sf_dir):
    """Overlapping-window document chunking: 64-token windows with stride 48
    (16-token overlap) — the context-window slicing stage of a pretraining
    pipeline. Chunk starts are stride multiples below len (last index =
    floor((len-1)/stride)); all array-slice built-ins, one explode, no
    shuffle. ``words`` is projected BEFORE the explode, so each document
    is split once: in one select with the explode, the plan evaluated
    the regex split in the Generate and again for every chunk row
    (781 -> 463 ms at sf1 on a noop sink, 4 cores, same rows)."""
    d = Catalog(spark, sf_dir).table("documents")
    words = F.col("words")
    window, stride = 64, 48  # 16-token overlap = window - stride
    # chunks start at multiples of stride while start < len:
    # last chunk index = floor((len-1)/stride)
    last_idx = F.floor(
        F.greatest(F.size(words) - 1, F.lit(0)) / F.lit(float(stride))
    ).cast("long")
    return (
        d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words"))
        .select(
            "doc_id", "words",
            F.explode(F.sequence(F.lit(0), last_idx)).alias("chunk_idx"),
        )
        .select(
            "doc_id", "chunk_idx",
            F.array_join(
                F.slice(F.col("words"), F.col("chunk_idx") * stride + 1, window), " "
            ).alias("chunk_text"),
            F.least(
                F.size("words") - F.col("chunk_idx") * stride, F.lit(window)
            ).cast("long").alias("n_tokens"),
        )
    )


@register(
    "pii_scrub",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g'),
             '[0-9]{4,}', '<NUM>', 'g') AS scrubbed
    FROM documents
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII-pattern scrubbing (emails, phone-shaped numbers, long digit runs
    → placeholder tokens) — the redaction stage before training; pure
    regexp_replace, patterns kept to the Java/RE2-common subset."""
    d = Catalog(spark, sf_dir).table("documents")
    out = F.regexp_replace(
        F.col("text"),
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>",
    )
    out = F.regexp_replace(out, r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>")
    out = F.regexp_replace(out, r"[0-9]{4,}", "<NUM>")
    return d.select("doc_id", out.alias("scrubbed"))


@register(
    "split_assign",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {_md5_hex64_sql('split:')} % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5) by md5 hash bucket
    of the key — reproducible across runs, partitionings, and engines, which
    seeded RNG sampling is NOT; the only correct way to hold out data at
    100 TB (membership is a pure function of the key)."""
    d = Catalog(spark, sf_dir).table("documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 100
    )
    return d.select(
        "doc_id", bucket.alias("bucket"),
        F.when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test").alias("split"),
    )


@register(
    "shuffle_order",
    oracle="""
    SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key, doc_id
    LIMIT 100
    """,
)
def q_shuffle_order(spark, sf_dir):
    """Deterministic global shuffle for training-order randomization:
    ORDER BY md5(key) — reproducible, resumable (the order is a property of
    the data, not of a run), and at scale it is a range-partitioned sort,
    not a driver-side permutation."""
    d = Catalog(spark, sf_dir).table("documents")
    key = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(100)
    )


@register(
    "seq_pack",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             md5('shuf:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens, substr(k, 1, 1) AS pack_range,
             sum(n_tokens) OVER (PARTITION BY substr(k, 1, 1)
                                 ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM t
    )
    SELECT doc_id, n_tokens, pack_range,
           CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id
    FROM c
    """,
)
def q_seq_pack(spark, sf_dir):
    """Sequence packing, scale-safe form: documents greedily packed into
    512-token training sequences along the deterministic shuffle order,
    WITHIN key ranges. The md5 shuffle key's first hex digit partitions the
    corpus into 16 contiguous ranges of the global shuffle order; each range
    packs independently with a keyed running-total window (a hash-exchange +
    per-partition sort — never a single-partition global window), so at
    100 TB every executor packs its own ranges and the only cross-range
    effect is one possibly-underfull sequence per range boundary. A sequence
    is identified by (pack_range, seq_id). ``seq_pack_exact`` keeps the
    single-cursor global form for oracle-exact comparisons on small data."""
    d = Catalog(spark, sf_dir).table("documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    k = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    t = d.select(
        "doc_id", n_tokens.alias("n_tokens"), k.alias("k"),
        F.substring(k, 1, 1).alias("pack_range"),
    )
    w = (
        Window.partitionBy("pack_range")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id", "n_tokens", "pack_range",
        F.floor((cum - F.col("n_tokens")) / 512.0).cast("long").alias("seq_id"),
    )


@register(
    "seq_pack_exact",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             md5('shuf:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM t
    )
    SELECT doc_id, n_tokens, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT)
             AS seq_id
    FROM c
    """,
)
def q_seq_pack_exact(spark, sf_dir):
    """Sequence packing with EXACT global running totals as a DISTRIBUTED
    prefix sum — the classic two-phase scan that replaces the old
    Exchange-SinglePartition window (one task walking the whole corpus):

    1. range-partition by the global (k, doc_id) order — a parallel
       shuffle, every partition holds a contiguous slice of the order;
    2. per-partition running sums under a partition-local window (the
       sort each partition needs anyway);
    3. per-partition TOTALS (tiny — one row per partition) broadcast
       back as starting offsets via a driver-computed prefix sum.

    Identical output to a single global cursor (the oracle), but the
    only single-point work is the |partitions|-row offset scan. This is
    the at-scale form of every exact-global-position problem (token
    offsets, byte offsets in concatenated shards, exact row numbers)."""
    from ..operators.windows import distributed_global_prefix_sum

    d = Catalog(spark, sf_dir).table("documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    k = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    t = d.select("doc_id", n_tokens.alias("n_tokens"), k.alias("k"))
    summed, _ = distributed_global_prefix_sum(
        t, ["k", "doc_id"], "n_tokens"
    )
    cum = F.col("__cum")
    return summed.select(
        "doc_id", "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 512.0).cast("long").alias("seq_id"),
    )


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(lower(trim(text)), '[^a-z0-9\\s]', ' ', 'g'),
             '\\s+', ' ', 'g') AS norm_text
    FROM documents
    """,
)
def q_text_normalize(spark, sf_dir):
    """Canonical text normalization (lowercase, strip punctuation to spaces,
    collapse whitespace) — the cleanup pass before tokenization/dedup; all
    regexp built-ins."""
    d = Catalog(spark, sf_dir).table("documents")
    out = F.lower(F.trim(F.col("text")))
    out = F.regexp_replace(out, r"[^a-z0-9\s]", " ")
    out = F.regexp_replace(out, r"\s+", " ")
    return d.select("doc_id", out.alias("norm_text"))


#: shared oracle: sentence split on '. ' with per-doc position, empties
#: dropped AFTER position assignment (so indices are stable across the
#: JVM and UDTF forms).
_SENTENCES_ORACLE = """
    WITH s AS (
      SELECT doc_id, string_split(text, '. ') AS parts FROM documents
    ), e AS (
      SELECT doc_id, unnest(generate_series(1, len(parts))) AS i, parts
      FROM s
    )
    SELECT doc_id, i - 1 AS sent_idx, trim(parts[i]) AS sentence,
           length(trim(parts[i])) AS n_chars
    FROM e WHERE length(trim(parts[i])) > 0
"""


@register("sentences", oracle=_SENTENCES_ORACLE)
def q_sentences(spark, sf_dir):
    """Sentence split — the CANONICAL, all-JVM form (r6, VERDICT r5 task
    2): split + posexplode + filter reproduce ``udtf_sentences``'s exact
    output inside whole-stage codegen, no Python in the plan. The UDTF
    twin below stays registered as the documented row-generating API demo;
    this key is what a pipeline should actually call."""
    d = Catalog(spark, sf_dir).table("documents")
    parts = F.split(F.col("text"), r"\. ")
    sent = F.trim(F.col("__part"))
    return (
        d.select(
            "doc_id",
            F.posexplode(parts).alias("sent_idx", "__part"),
        )
        .select(
            "doc_id",
            F.col("sent_idx").cast("int").alias("sent_idx"),
            sent.alias("sentence"),
            F.length(sent).cast("long").alias("n_chars"),
        )
        .filter(F.col("n_chars") > 0)
    )


@register("udtf_sentences", oracle=_SENTENCES_ORACLE)
def q_udtf_sentences(spark, sf_dir):
    """Python UDTF (PySpark 4 table function): one input doc → N sentence
    rows with position and length. Deterministic, so fully oracle-checked.

    API DEMO ONLY — the UDTF is the row-generating escape hatch for
    parse-like operators whose logic a JVM expression cannot express. This
    one's logic CAN be expressed (split + posexplode + filter): the
    canonical registered form is ``sentences`` above, which produces the
    identical output with zero Python in the plan. Kept registered (out of
    the driver window) so the registry demonstrates the API against an
    oracle-checked twin."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string, n_chars int")
    class SentenceSplit:
        def eval(self, text: str):
            idx = 0
            for part in text.split(". "):
                part = part.strip()
                if part:
                    yield idx, part, len(part)
                idx += 1

    spark.udtf.register("sentence_split", SentenceSplit)
    Catalog(spark, sf_dir).register_views()
    return spark.sql("""
        SELECT d.doc_id, s.sent_idx, s.sentence, CAST(s.n_chars AS BIGINT) AS n_chars
        FROM documents d, LATERAL sentence_split(d.text) s
    """)


@register(
    "contamination_check",
    oracle=f"""
    WITH sp AS (
      SELECT doc_id,
             CASE WHEN {_md5_hex64_sql('split:')} % 100 < 90
             THEN 'train' ELSE 'heldout' END AS split
      FROM documents
    ), sh AS (
      SELECT doc_id,
        unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(words) - 4, 1)),
          i -> array_to_string(words[i:i+4], ' ')))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents)
    )
    SELECT h.doc_id AS heldout_doc,
           count(DISTINCT t.doc_id) AS n_train_sources,
           count(*) AS n_shared_shingles
    FROM sh h
    JOIN sp hs ON hs.doc_id = h.doc_id AND hs.split = 'heldout'
    JOIN sh t ON t.shingle = h.shingle AND t.doc_id <> h.doc_id
    JOIN sp ts ON ts.doc_id = t.doc_id AND ts.split = 'train'
    GROUP BY h.doc_id
    """,
)
def q_contamination_check(spark, sf_dir):
    """Eval-set contamination detection: held-out documents sharing exact
    word-5-grams with any train document (the leakage audit every training
    pipeline needs). Candidate generation is the same shingle equi-join as
    the dedup family — shuffle on the shingle, never train x heldout
    all-pairs."""
    d = Catalog(spark, sf_dir).table("documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 100
    )
    sp = d.select(
        "doc_id",
        F.when(bucket < 90, "train").otherwise("heldout").alias("split"),
    )
    # generator shingler + one (reused) dedup exchange; the old pandas-UDF
    # form was evaluated once per consuming branch (2x Arrow eval here)
    sh = T.shingle_rows(d, "doc_id", "text", k=5, distinct=True)
    heldout_sh = sh.join(
        sp.filter(F.col("split") == "heldout"), on="doc_id", how="left_semi"
    ).select(F.col("doc_id").alias("heldout_doc"), "shingle")
    train_sh = sh.join(
        sp.filter(F.col("split") == "train"), on="doc_id", how="left_semi"
    ).select(F.col("doc_id").alias("train_doc"), "shingle")
    hits = heldout_sh.join(
        train_sh,
        (heldout_sh["shingle"] == train_sh["shingle"])
        & (F.col("heldout_doc") != F.col("train_doc")),
    )
    return hits.groupBy("heldout_doc").agg(
        F.count_distinct("train_doc").alias("n_train_sources"),
        F.count(F.lit(1)).alias("n_shared_shingles"),
    )


@register(
    "sample_hash_fraction",
    oracle=f"""
    SELECT doc_id FROM (
      SELECT doc_id,
             {_md5_hex64_sql('sample:')} % 10000 AS bucket
      FROM documents
    ) WHERE bucket < 1500
    """,
)
def q_sample_hash_fraction(spark, sf_dir):
    """Deterministic 15% sample by hash threshold (basis-point buckets) —
    reproducible across runs/partitionings/engines, stable under appends
    (membership is a pure key function), unlike df.sample(seed=...) whose
    output depends on partitioning. The sampling primitive for eval subsets
    and ablations at 100 TB."""
    d = Catalog(spark, sf_dir).table("documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 10000
    )
    return d.filter(bucket < 1500).select("doc_id")


@register(
    "source_mix_temperature",
    oracle=f"""
    WITH c AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), packed AS (
      SELECT list(n ORDER BY source) AS ns,
             list(source ORDER BY source) AS ss
      FROM c
    ), s AS (
      -- deterministic LEFT folds in source order: summation order is
      -- part of the cross-engine contract (a hash-agg's order is not)
      SELECT list_reduce(list_transform(ns, x -> sqrt(CAST(x AS DOUBLE))),
                         (a, x) -> a + x) AS ssum,
             list_reduce(ns, (a, x) -> a + x) AS total,
             ns, ss
      FROM packed
    ), thr AS (
      SELECT unnest(ss) AS source, unnest(ns) AS n, ssum, total FROM s
    ), t2 AS (
      SELECT source,
             CAST(floor(least(1.0,
                 0.5 * CAST(total AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
                     / ssum / CAST(n AS DOUBLE)) * 4294967296.0)
               AS BIGINT) AS mix_threshold
      FROM thr
    )
    SELECT d.doc_id, d.source, t2.mix_threshold
    FROM documents d JOIN t2 USING (source)
    WHERE {_md5_hex64_sql('mix:', 'd.doc_id')} < t2.mix_threshold
    """,
)
def q_source_mix_temperature(spark, sf_dir):
    """Temperature-scaled source mixing — the multinomial alpha-sampling
    of multilingual/multi-source LM training (sampling weight p_s
    proportional to n_s^alpha with alpha = 1/2, so rare sources are
    upweighted relative to their share): the engine computes each
    source's keep-fraction f_s = min(1, B * p_s / n_s) for a budget of
    half the corpus, quantizes it to an integer md5-space threshold
    floor(f_s * 2^32), and keeps documents whose deterministic md5 value
    falls under their source's threshold — reproducible across runs,
    partitionings, and appends, like sample_hash_fraction. Exactness
    discipline: f_s blends sqrt/divide, so the per-source sqrt-sum is a
    deterministic LEFT fold in source order on BOTH engines (a hash
    aggregate's summation order is implementation-defined) and every op
    is correctly-rounded IEEE in the same association — the quantized
    thresholds then agree bit-for-bit and ride the hash check. Scale
    shape: per-source stats are a tiny bounded aggregate (|sources|
    rows) collected once; membership is a pure key function, one scan,
    no shuffle beyond the stats agg."""
    import math

    d = Catalog(spark, sf_dir).table("documents")
    counts = sorted(
        ((r["source"], r["count"])
         for r in d.groupBy("source").count().collect()),
        key=lambda t: t[0],
    )
    total = sum(n for _, n in counts)
    ssum = sum(math.sqrt(n) for _, n in counts)
    thr = {
        src: int(math.floor(
            min(1.0, 0.5 * total * math.sqrt(n) / ssum / n) * 4294967296.0
        ))
        for src, n in counts
    }
    thr_col = F.lit(None).cast("long")
    for src, t in thr.items():
        thr_col = F.when(F.col("source") == src, F.lit(t)).otherwise(thr_col)
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return (
        d.withColumn("mix_threshold", thr_col)
        .filter(v < F.col("mix_threshold"))
        .select("doc_id", "source", "mix_threshold")
    )


@register(
    "curriculum_order",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             round((least(length(text) / 500.0, 1.0)
               + CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) > 0
                      THEN least(4.0 *
                        CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            w -> w IN ('the','a','and','of','to','in'))) AS DOUBLE)
                        / len(string_split_regex(lower(trim(text)), '\\s+')), 1.0)
                      ELSE 0.0 END
               + 1.0 - least(5.0 * CASE WHEN length(text) > 0
                      THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                           AS DOUBLE) / length(text) ELSE 0.0 END, 1.0)) / 3.0, 4)
               AS quality
      FROM documents
    ), b AS (
      SELECT doc_id,
             CASE WHEN quality >= 0.75 THEN 0
                  WHEN quality >= 0.5 THEN 1
                  WHEN quality >= 0.25 THEN 2
                  ELSE 3 END AS band,
             md5('cur:' || CAST(doc_id AS VARCHAR)) AS k
      FROM t
    )
    SELECT doc_id, band,
           row_number() OVER (ORDER BY band, k, doc_id) AS curriculum_pos
    FROM b
    """,
)
def q_curriculum_order(spark, sf_dir):
    """Curriculum ordering for training: highest-quality band first,
    deterministically shuffled WITHIN each band (band asc, md5 key) — the
    easy-to-hard schedule of curriculum learning as a data-layout
    property rather than a loader behavior, so it is reproducible and
    resumable like shuffle_order. Banding uses FIXED quality thresholds
    on the round(4) scores the quality_score gate already proves
    engine-identical (data-dependent quantile cuts would put band edges
    on unagreed floats); the global position comes from the distributed
    prefix-sum rank (range partition + local windows + broadcast
    offsets) — no SinglePartition window anywhere."""
    from ..operators.windows import distributed_global_rank

    d = Catalog(spark, sf_dir).table("documents")
    q = F.round(T.quality_score(F.col("text")), 4)
    band = (
        F.when(q >= 0.75, F.lit(0))
        .when(q >= 0.5, F.lit(1))
        .when(q >= 0.25, F.lit(2))
        .otherwise(F.lit(3))
    )
    key = F.md5(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")))
    df = d.select("doc_id", band.alias("band"), key.alias("k"))
    ranked, _total = distributed_global_rank(df, ["band", "k", "doc_id"])
    return ranked.select(
        "doc_id", "band", F.col("__rank").alias("curriculum_pos")
    )


@register(
    "repetition_stats",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
      FROM documents
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word
    ), wstats AS (
      SELECT doc_id,
             max(c)::DOUBLE / sum(c) AS top_word_frac
      FROM wc GROUP BY doc_id
    ), g AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(words) - 1, 1)),
                              i -> array_to_string(words[i:i+1], ' '))) AS gram
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents)
    ), gc AS (
      SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
    ), gstats AS (
      SELECT doc_id,
             1.0 - count(*)::DOUBLE / sum(c) AS dup_2gram_frac
      FROM gc GROUP BY doc_id
    )
    SELECT w.doc_id, round(w.top_word_frac, 4) AS top_word_frac,
           round(g.dup_2gram_frac, 4) AS dup_2gram_frac
    FROM wstats w JOIN gstats g ON g.doc_id = w.doc_id
    """,
)
def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters: most-common-word fraction and
    duplicate word-2-gram fraction per document — the standard signals for
    degenerate/boilerplate text in a pretraining cleanup pass. Two two-level
    keyed aggregations (per (doc, token) count → per doc); everything
    partial-aggregates and shuffles on doc-scoped keys, so the op is
    embarrassingly scalable."""
    d = Catalog(spark, sf_dir).table("documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
    )
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    wstats = wc.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_word_frac")
    )
    grams = T.shingle_rows(d, "doc_id", "text", k=2, distinct=False)
    gc = grams.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    gstats = gc.groupBy("doc_id").agg(
        (F.lit(1.0) - F.count(F.lit(1)).cast("double") / F.sum("c")).alias(
            "dup_2gram_frac"
        )
    )
    return (
        wstats.join(gstats, on="doc_id")
        .select(
            "doc_id",
            F.round("top_word_frac", 4).alias("top_word_frac"),
            F.round("dup_2gram_frac", 4).alias("dup_2gram_frac"),
        )
    )


@register(
    "source_quota_sample",
    oracle="""
    SELECT doc_id, source, src_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS src_rank
      FROM documents
    ) WHERE src_rank <= 10
    """,
)
def q_source_quota_sample(spark, sf_dir):
    """Corpus-mix quota sampling: deterministically keep at most N documents
    per source (md5-ranked, so the sample is stable under reruns, appends,
    and repartitioning — the same property split_assign relies on). This is
    the `max_docs_per_domain` knob of a pretraining mix; the window is
    PARTITIONED by source (hash exchange + per-key sort over only each
    source's rows), never a global sort."""
    from pyspark.sql import Window

    d = Catalog(spark, sf_dir).table("documents")
    k = F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(k, F.col("doc_id"))
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("src_rank"))
        .filter(F.col("src_rank") <= 10)
    )


@register(
    "gopher_rules",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words,
             text
      FROM documents
    ), s AS (
      SELECT doc_id,
             len(words) AS n_words,
             CASE WHEN len(words) > 0
                  THEN list_sum(list_transform(words, w -> len(w)))::DOUBLE
                       / len(words)
                  ELSE 0.0 END AS mean_word_len,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / length(text)
                  ELSE 0.0 END AS symbol_ratio,
             len(list_filter(words,
                 w -> list_contains(['the','a','of','and','to','in','is'], w)))
               > 0 AS has_stopword
      FROM t
    )
    SELECT doc_id,
           n_words BETWEEN 10 AND 100000 AS len_ok,
           mean_word_len BETWEEN 2.0 AND 12.0 AS wordlen_ok,
           symbol_ratio <= 0.2 AS symbols_ok,
           has_stopword AS stopword_ok,
           (n_words BETWEEN 10 AND 100000)
             AND (mean_word_len BETWEEN 2.0 AND 12.0)
             AND symbol_ratio <= 0.2 AND has_stopword AS keep
    FROM s
    """,
)
def q_gopher_rules(spark, sf_dir):
    """Gopher-style composite quality gate: per-document boolean rules
    (word-count bounds, mean word length bounds, symbol-to-char ratio cap,
    stopword presence) and the AND-combined keep decision — the standard
    rule battery of a pretraining cleanup pass, complementing the scalar
    ``quality_score`` and the ``repetition_stats`` signals. Pure built-in
    expressions over one scan; no shuffle at all."""
    d = Catalog(spark, sf_dir).table("documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_words = F.size(words)
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(
            words, F.lit(0.0), lambda a, w: a + F.length(w).cast("double")
        ) / n_words,
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
        .cast("double") / F.length("text"),
    ).otherwise(F.lit(0.0))
    stop = F.array([F.lit(w) for w in
                    ["the", "a", "of", "and", "to", "in", "is"]])
    has_stopword = F.arrays_overlap(words, stop)
    len_ok = n_words.between(10, 100000)
    wordlen_ok = mean_word_len.between(2.0, 12.0)
    symbols_ok = symbol_ratio <= 0.2
    return d.select(
        "doc_id",
        len_ok.alias("len_ok"),
        wordlen_ok.alias("wordlen_ok"),
        symbols_ok.alias("symbols_ok"),
        has_stopword.alias("stopword_ok"),
        (len_ok & wordlen_ok & symbols_ok & has_stopword).alias("keep"),
    )


@register(
    "corpus_pipeline",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               string_split_regex(lower(trim(text)), '\\s+') AS words
        FROM documents
      )
      WHERE len(words) BETWEEN 10 AND 100000
        AND list_sum(list_transform(words, w -> len(w)))::DOUBLE / len(words)
              BETWEEN 2.0 AND 12.0
        AND CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                      / length(text) ELSE 0.0 END <= 0.2
        AND len(list_filter(words,
              w -> list_contains(['the','a','of','and','to','in','is'], w))) > 0
    ), uniq AS (
      SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)
    ), train AS (
      SELECT u.doc_id, k.text FROM uniq u JOIN kept k ON k.doc_id = u.doc_id
      WHERE {_md5_hex64_sql('split:', 'u.doc_id')} % 100 < 90
    ), t AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             md5('shuf:' || CAST(doc_id AS VARCHAR)) AS k
      FROM train
    ), c AS (
      SELECT doc_id, n_tokens, substr(k, 1, 1) AS pack_range,
             sum(n_tokens) OVER (PARTITION BY substr(k, 1, 1)
                                 ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM t
    )
    SELECT doc_id, n_tokens, pack_range,
           CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id
    FROM c
    """,
)
def q_corpus_pipeline(spark, sf_dir):
    """END-TO-END training-corpus pipeline, value-checked as a WHOLE:
    Gopher quality gate → exact dedup (keep min doc per content hash) →
    deterministic train split (md5 bucket < 90) → shuffle-ordered sequence
    packing within key ranges. Four stages, each individually registered
    (gopher_rules, dedup_exact, split_assign, seq_pack); this composition
    is the flagship of the §2.11 family — the whole flow a pretraining
    data job runs, as ONE declarative plan Catalyst optimizes jointly
    (filter pushdown through the dedup join, one scan of documents reused).
    Every stage is hash-deterministic, so one DuckDB SQL chain replicates
    the entire pipeline."""
    d = Catalog(spark, sf_dir).table("documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_words = F.size(words)
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0.0), lambda a, w: a + F.length(w).cast("double"))
        / n_words,
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
        .cast("double") / F.length("text"),
    ).otherwise(F.lit(0.0))
    stop = F.array([F.lit(w) for w in
                    ["the", "a", "of", "and", "to", "in", "is"]])
    kept = d.filter(
        n_words.between(10, 100000)
        & mean_word_len.between(2.0, 12.0)
        & (symbol_ratio <= 0.2)
        & F.arrays_overlap(words, stop)
    ).select("doc_id", "text")
    uniq = kept.groupBy(F.sha2(F.col("text"), 256).alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 100
    )
    train = uniq.join(kept, on="doc_id").filter(bucket < 90)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    k = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    t = train.select(
        "doc_id", n_tokens.alias("n_tokens"), k.alias("k"),
        F.substring(k, 1, 1).alias("pack_range"),
    )
    w = (
        Window.partitionBy("pack_range")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id", "n_tokens", "pack_range",
        F.floor((cum - F.col("n_tokens")) / 512.0).cast("long").alias("seq_id"),
    )


@register(
    "sample_stratified",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {_md5_hex64_sql('strat:')} % 100 AS bucket
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
    FROM t
    WHERE bucket <
          CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 80 ELSE 100 END
    GROUP BY lang ORDER BY lang
    """,
)
def q_sample_stratified(spark, sf_dir):
    """Stratified (per-class) sampling with DETERMINISTIC hash gates —
    class rebalancing for training mixes: each stratum gets its own keep
    fraction (downsample dominant 'en' to 50%, 'de' to 80%, keep the
    tail). Spark's ``sampleBy`` draws from an RNG whose result depends on
    partitioning; the md5-bucket threshold form is partition-count-
    independent and reproducible — the property that makes a 100 TB
    sample auditable and resumable (same contract as split_assign /
    sample_hash_fraction). One scan, no shuffle before the tiny count."""
    from ..functions.hashing import md5_prefix_long

    d = Catalog(spark, sf_dir).table("documents")
    bucket = md5_prefix_long(
        F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
    ) % 100
    frac = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "de", 80)
        .otherwise(100)
    )
    return (
        d.filter(bucket < frac)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


@register(
    "corpus_report",
    oracle="""
    WITH h AS (
      SELECT source, lang, n_chars, sha256(text) AS th FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(avg(n_chars), 2) AS avg_chars,
           CAST(count(*) - count(DISTINCT th) AS BIGINT) AS n_dup_docs,
           round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS en_share
    FROM h GROUP BY source ORDER BY source
    """,
)
def q_corpus_report(spark, sf_dir):
    """The dataset-card report: per-source doc counts, language
    diversity, length profile, exact-duplicate volume (docs minus
    distinct content hashes), and dominant-language share — the one-page
    summary every training-data drop ships with. ONE grouped pass; the
    two distinct-counts expand map-side to (source, lang) and
    (source, hash) partials, so the shuffle carries distinct pairs, not
    documents."""
    d = Catalog(spark, sf_dir).table("documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            (F.count(F.lit(1))
             - F.count_distinct(F.sha2(F.col("text"), 256)))
            .alias("n_dup_docs"),
            F.round(
                F.sum((F.col("lang") == "en").cast("int")) * 1.0
                / F.count(F.lit(1)), 4,
            ).alias("en_share"),
        )
        .orderBy("source")
    )


@register(
    "lm_quality_trigram",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), tg AS (
      SELECT doc_id,
             array_to_string(w[i:i+2], ' ') AS tg
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      )
    ), freq AS (
      SELECT tg, count(*) AS c FROM tg GROUP BY tg HAVING count(*) >= 2
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tg,
           CAST(coalesce(sum(f.c), 0) AS BIGINT) AS sum_freq,
           CAST(sum(CASE WHEN f.tg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen
    FROM tg t LEFT JOIN freq f ON t.tg = f.tg
    GROUP BY t.doc_id
    """,
)
def q_lm_quality_trigram(spark, sf_dir):
    """Corpus-trained trigram LANGUAGE-MODEL quality signal — the
    CCNet-style filter (Wenzek et al.: score documents by an LM trained
    on the corpus/reference, drop the tail): pass 1 builds the trigram
    frequency table (one groupBy, min-count 2 so singleton noise gets the
    unseen floor AND the model table stays bounded for broadcast); pass 2
    scores every document by joining its trigram instances against the
    model and aggregating. Outputs are INTEGER-EXACT on purpose —
    (n_tg, sum_freq, n_unseen) carry the full signal (mean corpus
    frequency and unseen ratio are derivable), while a float mean-logprob
    would be a continuous blend whose rounding can differ cross-engine
    (measurement rules); a production deployment broadcasts KenLM
    log-weights through exactly this join shape. Scale: trigram explode
    is codegen'd (shingle_rows), the model groupBy is one keyed shuffle,
    the min-count/top-K cap bounds the broadcast, and the score join +
    per-doc aggregate ride one exchange."""
    d = Catalog(spark, sf_dir).table("documents")
    tg = T.shingle_rows(d, "doc_id", "text", k=3, distinct=False).select(
        "doc_id", F.col("shingle").alias("tg")
    )
    freq = (
        tg.groupBy("tg").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
    )
    # no broadcast HINT: the model table grows with the corpus, so
    # forcing broadcast is a 100-TB OOM — AQE broadcasts while it fits
    # (it does at test SFs) and falls back to a keyed join beyond;
    # production caps the model at top-K rows first
    joined = tg.join(freq, "tg", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tg"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("sum_freq"),
        F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
        .cast("long").alias("n_unseen"),
    )


@register(
    "dedup_substring_spans",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), sp AS (
      SELECT doc_id, array_to_string(w[i:i+7], ' ') AS span
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(w) - 7, 1))) AS i
      )
    ), shared AS (
      SELECT span FROM sp GROUP BY span
      HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_spans
    FROM sp s LEFT JOIN shared sh ON s.span = sh.span
    GROUP BY s.doc_id
    """,
)
def q_dedup_substring_spans(spark, sf_dir):
    """Repeated-SUBSTRING flagging (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): document-level dedup misses the
    boilerplate duplicated INSIDE otherwise-distinct documents (headers,
    licenses, templates); the fix is span-level. Every 8-word span is
    keyed; spans occurring in >= 2 DISTINCT documents are "shared", and
    each doc reports how many of its span instances are shared — the
    removal mask a substring-dedup pass consumes. Spark shape: codegen'd
    span explode, one count-distinct groupBy on the span key (the only
    corpus-sized shuffle), shared-set broadcast back, per-doc aggregate.
    The full suffix-array construction of the paper is the exact variant;
    the fixed-width span key is the bounded-shuffle approximation that
    scales linearly and catches any duplication >= 8 words."""
    d = Catalog(spark, sf_dir).table("documents")
    sp = T.shingle_rows(d, "doc_id", "text", k=8, distinct=False).select(
        "doc_id", F.col("shingle").alias("span")
    )
    shared = (
        sp.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span")
    )
    # same no-hint rationale as lm_quality_trigram: shared-span set size
    # tracks corpus duplication, AQE decides broadcast vs keyed join
    joined = sp.join(shared.withColumn("__hit", F.lit(1)), "span", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
        .cast("long").alias("n_dup_spans"),
    )


_TEXT_INDEX_BUCKETS = 64


def ensure_text_index(spark, sf_dir):
    """Build-once INVERTED TEXT INDEX over documents: (term, doc_id)
    postings, written PARTITIONED BY an md5 term bucket so a keyword
    lookup prunes to one directory per query term — the third member of
    the index-vs-scan family (bloom point lookup, z-order range,
    inverted-index keyword search). An artifact-store entry keyed on the
    documents fingerprint; at 100 TB each bucket splits into many files
    and the posting scan stays fully parallel. Returns (postings_dir,
    built: bool)."""
    d = Catalog(spark, sf_dir).table("documents")
    return cache.build(
        "txtidx", "v1", cache.fingerprint(sf_dir, ("documents",)),
        lambda out: boolean_postings(d).write.partitionBy("tb").parquet(out))


def _term_bucket_py(term: str) -> int:
    import hashlib as _hl

    return int(_hl.md5(term.encode()).hexdigest()[:8], 16) % _TEXT_INDEX_BUCKETS


@register(
    "text_search_indexed",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE list_contains(string_split_regex(lower(trim(text)), '\\s+'), 'spark')
      AND list_contains(string_split_regex(lower(trim(text)), '\\s+'), 'merge')
    """,
)
def q_text_search_indexed(spark, sf_dir):
    """Keyword AND-search served from the INVERTED INDEX, value-checked
    against the full-scan semantics: read only the query terms' posting
    partitions (directory pruning — two buckets of 64 open, plan-asserted
    in tests), intersect posting lists with one groupBy (a doc matches
    when it carries ALL terms), then hydrate the matching docs. The scan
    twin is `filter_contains_ci`-style text matching; at 100 TB the
    difference is opening 2/64ths of a postings table ~the size of the
    vocabulary-document incidence vs re-tokenizing every byte of corpus
    text per query."""
    terms = ["spark", "merge"]
    idx_dir, _ = ensure_text_index(spark, sf_dir)
    buckets = sorted({_term_bucket_py(t) for t in terms})
    postings = (
        spark.read.parquet(idx_dir)
        .filter(F.col("tb").isin(buckets) & F.col("term").isin(terms))
    )
    matched = (
        postings.groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("doc_id")
    )
    d = Catalog(spark, sf_dir).table("documents")
    return d.join(matched, "doc_id", "left_semi").select("doc_id", "lang")


def ensure_text_index_incremental(spark, sf_dir):
    """INCREMENTAL index maintenance — the property that makes an index
    viable at 100 TB (a full rebuild per ingest batch is not): the base
    index covers docs with doc_id % 10 != 0; the remaining docs arrive
    as a later batch whose postings are APPENDED with the same
    partitionBy(tb) write. Parquet's append adds files inside touched
    bucket directories without rewriting existing ones (pytest-pinned:
    the base files survive byte-identical), so maintenance cost is
    O(batch postings), not O(corpus). Base build and append run inside
    one private artifact-store build, so the index publishes exactly
    once, with the batch applied exactly once. Returns (postings_dir,
    built)."""
    d = Catalog(spark, sf_dir).table("documents")

    def build(out):
        boolean_postings(d.filter(F.col("doc_id") % 10 != 0)).write \
            .partitionBy("tb").parquet(out)
        boolean_postings(d.filter(F.col("doc_id") % 10 == 0)).write \
            .mode("append").partitionBy("tb").parquet(out)

    return cache.build(
        "txtinc", "v1", cache.fingerprint(sf_dir, ("documents",)), build)


def boolean_postings(docs):
    """Distinct (term, doc_id, tb) postings of a document frame — shared
    by the full build, the incremental build, and their tests."""
    term = F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    ).alias("term")
    return (
        docs.select("doc_id", term)
        .filter(F.length("term") > 0)
        .dropDuplicates(["term", "doc_id"])
        .withColumn(
            "tb",
            (F.conv(F.substring(F.md5("term"), 1, 8), 16, 10)
             .cast("long") % _TEXT_INDEX_BUCKETS).cast("int"),
        )
    )


@register(
    "text_index_incremental",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE list_contains(string_split_regex(lower(trim(text)), '\\s+'), 'spark')
      AND list_contains(string_split_regex(lower(trim(text)), '\\s+'), 'merge')
    """,
)
def q_text_index_incremental(spark, sf_dir):
    """Keyword AND-search over the INCREMENTALLY MAINTAINED index: base
    build + appended ingest batch (ensure_text_index_incremental). The
    oracle is the full-corpus scan semantics — identical results to
    text_search_indexed's from-scratch index proves the append-maintained
    postings are complete and duplicate-free, which is the correctness
    contract of incremental index maintenance."""
    terms = ["spark", "merge"]
    idx_dir, _ = ensure_text_index_incremental(spark, sf_dir)
    buckets = sorted({_term_bucket_py(t) for t in terms})
    postings = (
        spark.read.parquet(idx_dir)
        .filter(F.col("tb").isin(buckets) & F.col("term").isin(terms))
    )
    matched = (
        postings.groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("doc_id")
    )
    d = Catalog(spark, sf_dir).table("documents")
    return d.join(matched, "doc_id", "left_semi").select("doc_id", "lang")


@register("text_index_build")  # rows-only: a build artifact, like etl_bloom_build
def q_text_index_build(spark, sf_dir):
    """The build half of the inverted text index: (or reuse) the bucketed
    postings table; one row of geometry so the gate pins artifact
    existence and fingerprint-cache reuse."""
    idx_dir, built = ensure_text_index(spark, sf_dir)
    n = int(spark.read.parquet(idx_dir).count())
    return spark.createDataFrame(
        [(n, _TEXT_INDEX_BUCKETS, not built)],
        "n_postings LONG, n_buckets INT, reused BOOLEAN",
    )


def ensure_text_index_positional(spark, sf_dir):
    """POSITIONAL postings (term, doc_id, pos), partitioned by the same
    md5 term bucket as ``ensure_text_index`` — the Lucene-style superset
    that serves PHRASE and RANKED (BM25) queries: adjacency is a
    (doc_id, pos+1) equi-join between two pruned posting partitions,
    never a text re-scan. Keeping every occurrence (no dropDuplicates)
    costs ~tokens-per-corpus rows vs the boolean index's distinct
    (term, doc) — the standard size/capability tradeoff; at 100 TB each
    bucket still splits into many files and both the build shuffle
    (partitionBy write) and the query join parallelize.

    Like a real IR index, BUILD TIME also materializes what scoring
    needs so no query re-touches corpus text or runs an extra stats
    action: a ``len`` table (doc_id, dl) beside ``postings`` inside the
    artifact, from the same tokenization pass, and ``len/_stats.json``
    holding n_docs and the EXACT integer token sum (avgdl derived in
    python — engine-independent). An artifact-store entry; returns
    (postings_dir, built); ``doc_length_dir()``/``load_index_stats()``
    derive the rest."""
    d = Catalog(spark, sf_dir).table("documents")

    def build(out):
        idx = os.path.join(out, "postings")
        positional_postings(d).write.partitionBy("tb").parquet(idx)
        _write_index_stats(idx, [_append_doc_lengths(idx, d)])

    art, built = cache.build(
        "txtpos", "v3", cache.fingerprint(sf_dir, ("documents",)), build)
    return os.path.join(art, "postings"), built


def positional_postings(docs):
    """(doc_id, pos, term, tb) positional postings of a document frame —
    shared by the full build and the incremental append (the
    boolean_postings discipline for the positional superset)."""
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos", "term"),
        )
        .filter(F.length("term") > 0)
        .withColumn(
            "tb",
            (F.conv(F.substring(F.md5("term"), 1, 8), 16, 10)
             .cast("long") % _TEXT_INDEX_BUCKETS).cast("int"),
        )
    )


def doc_lengths(docs):
    """(doc_id, dl) token counts — shared by build and append."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast("long").alias("dl"),
    )


def ensure_text_index_positional_incremental(spark, sf_dir):
    """INCREMENTAL maintenance for the POSITIONAL index — the last index
    type without an ingest twin (r13), and the one with a build-time
    STATS sidecar that a naive append silently corrupts: BM25's idf and
    length normalization read n_docs/avgdl from `_stats.json`, so
    appending postings without updating the stats leaves every score
    computed against the stale corpus size. Base = doc_id % 10 != 0;
    the batch's postings and (doc_id, dl) rows APPEND into the same
    partitionBy(tb) / plain layouts (zero base files rewritten —
    pytest-pinned like the boolean twin), and the stats update is two
    INTEGER adds (n_docs += batch count, dl_sum += batch sum) — exact
    and order-independent, so the maintained stats equal a full
    rebuild's bit-for-bit and every downstream float (avgdl, idf)
    matches. Build, append and stats run inside one private
    artifact-store build, so concurrent builders never interleave and
    a crash publishes nothing. Returns (postings_dir, built)."""
    d = Catalog(spark, sf_dir).table("documents")
    base = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)

    def build(out):
        idx = os.path.join(out, "postings")
        positional_postings(base).write.partitionBy("tb").parquet(idx)
        base_st = _append_doc_lengths(idx, base)
        # the ingest: O(batch) appended files + two integer adds
        positional_postings(batch).write.mode(
            "append").partitionBy("tb").parquet(idx)
        _write_index_stats(idx, [base_st, _append_doc_lengths(idx, batch)])

    art, built = cache.build(
        "txtposinc", "v2", cache.fingerprint(sf_dir, ("documents",)), build)
    return os.path.join(art, "postings"), built


def doc_length_dir(idx_dir: str) -> str:
    """The (doc_id, dl) table beside a positional index's postings."""
    return os.path.join(os.path.dirname(idx_dir), "len")


def _append_doc_lengths(idx_dir: str, docs) -> tuple[int, int]:
    """Append ``docs``' (doc_id, dl) rows to the index's length table;
    returns their (count, token sum) from one bounded 1-row job."""
    dl = doc_lengths(docs)
    dl.write.mode("append").parquet(doc_length_dir(idx_dir))
    st = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")) \
        .collect()[0]
    return int(st.n), int(st.s or 0)


def _write_index_stats(idx_dir: str, parts) -> None:
    """Sum per-part (count, token sum) into ``len/_stats.json``."""
    import json

    with open(os.path.join(doc_length_dir(idx_dir), "_stats.json"),
              "w") as fh:
        json.dump({"n_docs": sum(n for n, _ in parts),
                   "dl_sum": sum(t for _, t in parts)}, fh)


def load_index_stats(idx_dir: str) -> dict:
    import json
    import os

    with open(os.path.join(doc_length_dir(idx_dir), "_stats.json")) as fh:
        return json.load(fh)


@register(
    "text_phrase_indexed",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(range(1, len(w)),
                    i -> w[i] = 'fast' AND w[i+1] = 'table')) AS BIGINT)
             AS n_hits
    FROM tok
    WHERE len(list_filter(range(1, len(w)),
              i -> w[i] = 'fast' AND w[i+1] = 'table')) > 0
    """,
)
def q_text_phrase_indexed(spark, sf_dir):
    """PHRASE search ("fast table", exact adjacency) served from the
    positional inverted index, value-checked against full-scan token
    semantics: open ONLY the two query terms' posting partitions
    (directory pruning on the md5 bucket, plan-asserted in tests), then
    adjacency = one (doc_id, pos+1)=(doc_id, pos) equi-join between the
    two pruned posting streams, count hits per doc. The boolean index
    (``text_search_indexed``) can only AND terms; phrase order needs
    positions — at 100 TB the query touches 2/64ths of the postings
    table and the join shuffles only those two terms' occurrence lists,
    never corpus text."""
    t1, t2 = "fast", "table"
    idx_dir, _ = ensure_text_index_positional(spark, sf_dir)
    posts = spark.read.parquet(idx_dir)

    def term_posts(t):
        return posts.filter(
            (F.col("tb") == _term_bucket_py(t)) & (F.col("term") == t)
        )

    p1 = term_posts(t1).select("doc_id", (F.col("pos") + 1).alias("adj"))
    p2 = term_posts(t2).select(F.col("doc_id").alias("d2"),
                               F.col("pos").alias("p2"))
    hits = p1.join(
        p2, (F.col("doc_id") == F.col("d2")) & (F.col("adj") == F.col("p2"))
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )


# ONE definition for both the full-build and incrementally-maintained
# BM25 rows (the _md5_hex64_sql no-verbatim-copies rule): the oracle is
# the full-scan semantics, so identical results from the maintained
# index prove append-completeness AND stats-sidecar correctness.
_BM25_FULLSCAN_ORACLE = """
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
    )
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
    """


@register("bm25_search_indexed", oracle=_BM25_FULLSCAN_ORACLE)
def q_bm25_search_indexed(spark, sf_dir):
    """RANKED keyword search: Okapi BM25 (k1=1.2, b=0.75, the +1 idf
    variant that keeps scores positive) over the positional inverted
    index — the third member of the text-retrieval family (boolean AND
    -> phrase adjacency -> ranked OR). Served ENTIRELY from index-time
    artifacts, like a real IR engine: term frequencies from the two
    pruned posting partitions (tf = count of positions per (term,
    doc)), document frequencies from one tiny groupBy over the same
    pruned stream, lengths from the build-time (doc_id, dl) table, and
    N/avgdl from the build-time stats file — a query never re-tokenizes
    corpus text and never runs a stats action. At 100 TB the per-query
    work is 2/64ths of the postings table + a hash-joined length lookup
    — never scoring the full corpus.

    Cross-engine float contract: every literal is written in the same
    decimal form on both sides (2.2, 1.2, 0.25, 0.75, 0.5, 1.0 — all
    parse to identical doubles), the contribution expression has the
    same association order, the per-doc sum folds <= 2 terms (two-value
    float addition is order-insensitive), and the final score rounds to
    4 decimals — same tie-boundary risk class as the cosine round(6)
    contract established by the embedding family."""
    idx_dir, _ = ensure_text_index_positional(spark, sf_dir)
    return _bm25_over_index(spark, idx_dir, ["spark", "merge"])


def _bm25_over_index(spark, idx_dir, terms):
    """The BM25 query path over ANY positional index layout (full build
    or incrementally maintained) — ONE definition so the incremental
    twin proves the maintained index + stats serve the identical ranked
    scores, not a near-copy of the scorer."""
    posts = spark.read.parquet(idx_dir)
    buckets = sorted({_term_bucket_py(t) for t in terms})
    tp = posts.filter(F.col("tb").isin(buckets) & F.col("term").isin(terms))
    tf = tp.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = spark.read.parquet(doc_length_dir(idx_dir))
    st = load_index_stats(idx_dir)
    # exact integer sum/count from build time; the python division is the
    # same IEEE divide both engines' avg() performs (integer partial sums
    # < 2^53 are exact in double on every path)
    avgdl = st["dl_sum"] / st["n_docs"]
    idf = F.log((F.lit(st["n_docs"]) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
    contrib = (
        idf * F.col("tf") * F.lit(2.2)
        / (F.col("tf")
           + F.lit(1.2) * (F.lit(0.25)
                           + F.lit(0.75) * F.col("dl") / F.lit(avgdl)))
    )
    scored = (
        tf.join(F.broadcast(dfx), "term")
        .join(dl.hint("SHUFFLE_HASH"), "doc_id")
        .withColumn("contrib", contrib)
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 4).alias("bm25")
    )


@register("bm25_incremental", oracle=_BM25_FULLSCAN_ORACLE)
def q_bm25_incremental(spark, sf_dir):
    """Okapi BM25 served from the INCREMENTALLY MAINTAINED positional
    index (ensure_text_index_positional_incremental: base build +
    appended batch postings/lengths + integer-add stats update). The
    oracle is the full-corpus scan semantics — identical ranked scores
    to bm25_search_indexed's from-scratch index prove (1) the appended
    positional postings are complete and duplicate-free, and (2) the
    stats sidecar the scores' idf and length normalization read was
    maintained exactly (a stale n_docs/avgdl shifts EVERY score, so
    this gate fails loudly on the classic forgot-to-update-the-stats
    bug). Query path shared verbatim with the full-build row
    (_bm25_over_index)."""
    idx_dir, _ = ensure_text_index_positional_incremental(spark, sf_dir)
    return _bm25_over_index(spark, idx_dir, ["spark", "merge"])


#: symbol separator for the BPE replay oracle's string-encoded
#: segmentations — chr(31) (unit separator), a control character the
#: whitespace-split word stream cannot produce from any realistic text
#: (documented boundary: a corpus whose words CONTAIN chr(31) would
#: need a different separator)
_BPE_SEP = "\x1f"

# Merge-table replay oracle (r12, VERDICT r11 #6): the TRAIN is
# float-free but iterative/data-dependent (not SQL-expressible); the
# APPLY is a deterministic function of the persisted merge table, so
# DuckDB replays it exactly. Key identity: one BPE merge pass over a
# symbol sequence (leftmost, non-overlapping, as both train and
# encode_word apply it) IS one SQL replace() over the segmentation
# encoded as a doubled-separator string — '<s><s>c1<s><s>c2<s><s>...'
# — replacing '<s>a<s><s>b<s>' with '<s>ab<s>': each match consumes
# the INNER separator of each boundary only, so adjacent matches stay
# available and replace()'s leftmost non-overlapping scan reproduces
# the pass order bit-for-bit. The recursive CTE steps the 32 merges in
# trained rank order over DISTINCT words (the oracle's own
# memoization); the final token count per word is the separator count
# of its fixed point. Verified against the engine's pure-Python
# encode_word on every sf0.01 document before registration.
_BPE_REPLAY_ORACLE = f"""
    WITH RECURSIVE
    m AS (
      SELECT rank, a, b
      FROM read_parquet('{cache.ROOT}/bpe-current/merges/*.parquet')
    ),
    nm AS (SELECT coalesce(max(rank), 0) AS n FROM m),
    w0 AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    words AS (SELECT doc_id, unnest(ws) AS w FROM w0),
    dw AS (SELECT DISTINCT w FROM words),
    enc AS (
      SELECT w,
             '{_BPE_SEP}{_BPE_SEP}' || CASE WHEN len(w) = 0 THEN ''
                ELSE regexp_replace(w, '(.)', '\\1{_BPE_SEP}{_BPE_SEP}', 'g')
             END || '</w>{_BPE_SEP}{_BPE_SEP}' AS s0
      FROM dw
    ),
    walk(w, i, s) AS (
      SELECT w, 0, s0 FROM enc
      UNION ALL
      SELECT walk.w, walk.i + 1,
             replace(walk.s,
                     '{_BPE_SEP}' || m.a || '{_BPE_SEP}{_BPE_SEP}'
                       || m.b || '{_BPE_SEP}',
                     '{_BPE_SEP}' || m.a || m.b || '{_BPE_SEP}')
      FROM walk JOIN m ON m.rank = walk.i + 1
    ),
    final AS (
      SELECT w,
             len(string_split(s, '{_BPE_SEP}{_BPE_SEP}')) - 2 AS n_tok
      FROM walk, nm WHERE walk.i = nm.n
    ),
    agg AS (
      SELECT words.doc_id, CAST(sum(f.n_tok) AS BIGINT) AS n_tokens
      FROM words JOIN final f USING (w) GROUP BY words.doc_id
    )
    SELECT w0.doc_id, CAST(len(w0.ws) AS BIGINT) AS n_words, agg.n_tokens
    FROM w0 JOIN agg USING (doc_id)
    ORDER BY doc_id
    """


@register("tokenize_bpe", oracle=_BPE_REPLAY_ORACLE)
def q_tokenize_bpe(spark, sf_dir):
    """REAL BPE tokenization (Sennrich et al. 2016 — the GPT-2 tokenizer
    family): train 32 merges on the corpus word-frequency table (the
    sampled-fit pattern: one groupBy to (word, count), top-4096 rows to
    the driver, greedy pair-merging there; a 100 TB corpus trains from
    the same capped table), then count subword tokens per document with
    an Arrow-batched UDF whose per-batch memoization tokenizes each
    DISTINCT word once. Output (doc_id, n_words, n_tokens) is
    integer-exact; n_tokens < n_chars and > n_words by construction.
    functions/bpe.py; the merge list is a record built once per corpus.

    VALUE-GATED since r12: the merge table persists as a 32-row
    artifact and the DuckDB oracle (_BPE_REPLAY_ORACLE above) replays
    greedy BPE segmentation per distinct word from it — each merge
    pass as one doubled-separator string replace, stepped in rank
    order by a recursive CTE — so per-document token counts are
    integer-exact cross-engine. Only the train (which merges win)
    stays pinned by the pure-Python reference pytest."""
    import os

    import pandas as pd
    import pyarrow.parquet as papq

    from ..ann import index as ann_index
    from ..functions import bpe

    d = Catalog(spark, sf_dir).table("documents")

    def build(out):
        merges = bpe.train_merges(bpe.word_freq_table(d), n_merges=32)
        ann_index._write_small_parquet(
            os.path.join(out, "merges"),
            pd.DataFrame({
                "rank": range(1, len(merges) + 1),
                "a": [a for a, _ in merges],
                "b": [b for _, b in merges],
            }))

    art, _ = cache.build(
        "bpe", "v3", cache.fingerprint(sf_dir, ("documents",)), build)
    ann_index.point_current("bpe", art)
    # tokenize with the published record, the table the oracle replays
    m = papq.read_table(os.path.join(art, "merges")).sort_by("rank")
    merges = list(zip(m.column("a").to_pylist(), m.column("b").to_pylist()))

    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        bpe.token_count_udf(merges)(words).alias("n_tokens"),
    )


# Viterbi replay oracle (r12, the _BPE_REPLAY_ORACLE's probabilistic
# sibling): the hard-EM TRAIN is float/iterative (not SQL-expressible);
# the APPLY — best segmentation under the persisted piece log-probs —
# is a deterministic DP, so DuckDB replays it exactly. The recursive
# CTE steps one character position per iteration carrying a 6-slot DP
# window (MAX_PIECE_LEN=6) of (score, n_pieces) structs; candidate
# scores accumulate prev.score + lp in the same left-associated double
# chain as the engine's viterbi(), so float comparisons are
# bit-identical; the tie rule (max score, then fewer pieces) is the
# ORDER BY. Only the piece COUNT needs carrying — which piece wins a
# (score, np) tie never changes the count, and DP state at a position
# is independent of the tie choice. Out-of-vocab single characters
# score the same min(lp) - 10.0 floor as the engine. Verified against
# the engine's pure-Python viterbi on every sf0.01 document before
# registration.
_UNIGRAM_REPLAY_ORACLE = f"""
    WITH RECURSIVE
    w0 AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    words AS (SELECT doc_id, unnest(ws) AS w FROM w0),
    dw AS (SELECT DISTINCT w FROM words WHERE len(w) > 0),
    wl AS (SELECT w, len(w) AS n FROM dw),
    walk(w, i, s6) AS (
      SELECT w, 0,
             [NULL, NULL, NULL, NULL, NULL,
              {{'score': 0.0, 'np': 0::BIGINT}}
             ]::STRUCT(score DOUBLE, np BIGINT)[]
      FROM dw
      UNION ALL
      SELECT wk.w, wk.i + 1,
             [wk.s6[2], wk.s6[3], wk.s6[4], wk.s6[5], wk.s6[6], best.b]
      FROM walk wk
      JOIN wl ON wl.w = wk.w AND wk.i < wl.n
      CROSS JOIN LATERAL (
        SELECT {{'score': c.sc, 'np': c.np}} AS b
        FROM (
          SELECT wk.s6[7 - g.l].score + c2.lp AS sc,
                 wk.s6[7 - g.l].np + 1 AS np
          FROM (SELECT unnest([1, 2, 3, 4, 5, 6]) AS l) g
          CROSS JOIN LATERAL (
            SELECT coalesce(
              (SELECT v.lp
               FROM read_parquet(
                 '{cache.ROOT}/unigram-current/vocab/*.parquet') v
               WHERE v.piece = substring(wk.w, wk.i + 2 - g.l, g.l)),
              CASE WHEN g.l = 1 THEN
                (SELECT min(lp) - 10.0
                 FROM read_parquet(
                   '{cache.ROOT}/unigram-current/vocab/*.parquet'))
              END) AS lp
          ) c2
          WHERE g.l <= wk.i + 1
            AND wk.s6[7 - g.l] IS NOT NULL AND c2.lp IS NOT NULL
        ) c
        ORDER BY c.sc DESC, c.np ASC
        LIMIT 1
      ) best
    ),
    final AS (
      SELECT walk.w, walk.s6[6].np AS n_pieces
      FROM walk JOIN wl ON wl.w = walk.w AND walk.i = wl.n
    ),
    agg AS (
      SELECT words.doc_id, CAST(sum(f.n_pieces) AS BIGINT) AS n_pieces
      FROM words JOIN final f USING (w) GROUP BY words.doc_id
    )
    SELECT w0.doc_id, CAST(len(w0.ws) AS BIGINT) AS n_words,
           coalesce(agg.n_pieces, 0) AS n_pieces
    FROM w0 LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id
    """


@register("tokenize_unigram", oracle=_UNIGRAM_REPLAY_ORACLE)
def q_tokenize_unigram(spark, sf_dir):
    """Unigram-LM subword tokenization (Kudo 2018 — the SentencePiece
    default), the probabilistic sibling of tokenize_bpe: a hard-EM
    (Viterbi-EM) fit over the SAME capped word-frequency table (seed =
    overcomplete substring inventory, E-step = best segmentation with
    integer count accumulation, M-step = renormalize + prune), then
    per-document piece counting with the memoized Arrow-batched apply.
    Output (doc_id, n_words, n_pieces) is integer-exact; BPE and unigram
    bracket the two families of production subword tokenizers — merges
    built bottom-up vs an inventory pruned top-down.
    functions/unigram.py; the vocab is a record built once per corpus.

    VALUE-GATED since r12: the fitted piece log-probs persist as a
    ~256-row artifact and the DuckDB oracle (_UNIGRAM_REPLAY_ORACLE
    above) replays the Viterbi DP per distinct word from it, so
    per-document piece counts are integer-exact cross-engine. Only the
    EM fit (which pieces survive, their probabilities) stays pinned by
    the hand-computable-corpus + reconstruction + determinism
    pytests."""
    import os

    import pandas as pd
    import pyarrow.parquet as papq

    from ..ann import index as ann_index
    from ..functions import bpe, unigram

    d = Catalog(spark, sf_dir).table("documents")

    def build(out):
        logp = unigram.train_unigram(bpe.word_freq_table(d))
        ann_index._write_small_parquet(
            os.path.join(out, "vocab"),
            pd.DataFrame({"piece": list(logp), "lp": list(logp.values())}))

    art, _ = cache.build(
        "unigram", "v3", cache.fingerprint(sf_dir, ("documents",)), build)
    ann_index.point_current("unigram", art)
    # tokenize with the published record, the vocab the oracle replays
    v = papq.read_table(os.path.join(art, "vocab"))
    logp = dict(zip(v.column("piece").to_pylist(), v.column("lp").to_pylist()))

    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        unigram.token_count_udf(logp)(words).alias("n_pieces"),
    )


def qlr_features(spark, sf_dir):
    """Feature/label/split frame for the learned quality filter — shared
    by ``quality_classifier_lr`` and the frozen-weight prediction pin
    (tests/test_llm_ops.py), so a drift in ANY feature expression flips
    pinned per-doc predictions instead of hiding inside an accuracy
    bar (VERDICT r6 #3). All-JVM expressions; one pass over documents.

    NULL text coalesces to '' up front (both here and in the replay
    oracle): otherwise a NULL row yields NULL features -> NULL label
    but a 0.0 prediction (when/otherwise falls through), landing in an
    agree=NULL group the oracle's CASE arms would count as agree=true
    (r11 code-review finding)."""
    d = Catalog(spark, sf_dir).table("documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit("")))
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_words = F.size(words)
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(
            words, F.lit(0.0), lambda a, w: a + F.length(w).cast("double")
        ) / n_words,
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
        .cast("double") / F.length("text"),
    ).otherwise(F.lit(0.0))
    stop = F.array([F.lit(w) for w in
                    ["the", "a", "of", "and", "to", "in", "is"]])
    keep = (
        n_words.between(10, 100000)
        & mean_word_len.between(2.0, 12.0)
        & (symbol_ratio <= 0.2)
        & F.arrays_overlap(words, stop)
    )
    split = F.when(
        F.conv(F.substring(
            F.md5(F.concat(F.lit("qlr:"), F.col("doc_id").cast("string"))),
            1, 8), 16, 10).cast("long") % 100 < 80,
        "train",
    ).otherwise("heldout")
    return d.select(
        "doc_id",
        split.alias("split"),
        keep.cast("double").alias("label"),
        n_words.cast("double").alias("f_nwords"),
        mean_word_len.alias("f_wordlen"),
        symbol_ratio.alias("f_symbols"),
        F.arrays_overlap(words, stop).cast("double").alias("f_stop"),
    )


# Weight-artifact replay oracle (r11, the _PAGERANK_REPLAY_ORACLE /
# _PCA_REPLAY_ORACLE precedent): the engine persists the fitted
# (w1..w4, b) weight row and scores with an explicit LEFT-ASSOCIATED
# column chain; DuckDB replays the identical chain over the identical
# feature values. All four features are exact-integer ratios
# (counts and count/count divisions — no float summation anywhere), so
# the margin doubles are bit-identical cross-engine and the per-doc
# prediction (margin > 0) and the (split, agree) counts hash-gate.
# Only the LBFGS fit itself stays pytest-pinned (accuracy bar +
# frozen-weight per-doc prediction set) — solver floats are not
# SQL-replicable, but the artifact makes the SCORING path a value gate.
# The split/feature SQL below mirrors the gopher_rules and
# corpus_pipeline oracles (already hash-green) expression for
# expression.
_QLR_REPLAY_ORACLE = f"""
    WITH wt AS (
      SELECT w1, w2, w3, w4, b
      FROM read_parquet('{cache.ROOT}/qlr-current/weights/*.parquet')
    ), t AS (
      SELECT doc_id, coalesce(text, '') AS text,
             string_split_regex(lower(trim(coalesce(text, ''))), '\\s+')
               AS words
      FROM documents
    ), f AS (
      SELECT doc_id,
             CASE WHEN {_md5_hex64_sql('qlr:')} % 100 < 80
                  THEN 'train' ELSE 'heldout' END AS split,
             len(words)::DOUBLE AS f_nwords,
             CASE WHEN len(words) > 0
                  THEN list_sum(list_transform(words, w -> len(w)))::DOUBLE
                       / len(words)
                  ELSE 0.0 END AS f_wordlen,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / length(text)
                  ELSE 0.0 END AS f_symbols,
             CASE WHEN len(list_filter(words,
                    w -> list_contains(['the','a','of','and','to','in','is'], w)))
                    > 0
                  THEN 1.0 ELSE 0.0 END AS f_stop
      FROM t
    ), lbl AS (
      SELECT split,
             CASE WHEN f_nwords BETWEEN 10 AND 100000
                   AND f_wordlen BETWEEN 2.0 AND 12.0
                   AND f_symbols <= 0.2 AND f_stop = 1.0
                  THEN 1.0 ELSE 0.0 END AS label,
             wt.w1 * f_nwords + wt.w2 * f_wordlen + wt.w3 * f_symbols
               + wt.w4 * f_stop + wt.b AS margin
      FROM f, wt
    )
    SELECT split,
           (CASE WHEN margin > 0 THEN 1.0 ELSE 0.0 END) = label AS agree,
           count(*) AS n
    FROM lbl GROUP BY split, agree
    ORDER BY split, agree
    """


@register("quality_classifier_lr", oracle=_QLR_REPLAY_ORACLE)
def q_quality_classifier_lr(spark, sf_dir):
    """LEARNED quality filter — the classifier stage of the CCNet /
    GPT-3-era pipelines (a linear model over cheap doc features scores
    every page; the rule battery bootstraps its labels): features are
    the gopher_rules inputs (word count, mean word length, symbol ratio,
    stopword hit) computed in pure JVM expressions, labels are the
    rule gate's keep decision on a deterministic md5-bucket TRAIN split,
    pyspark.ml LogisticRegression (fixed maxIter/regParam, no sampling)
    fits distributed, and the fitted weights score EVERY document.
    Output: per-(split, label-agreement) counts — at 100 TB the point of
    the learned form is exactly this shape: fit once on the labeled
    slice, broadcast KB-scale weights, score the corpus in one map pass
    with no shuffle. Accuracy vs the rule labels is pytest-bounded (the
    features determine the labels, so a well-fit LR must agree on
    held-out docs).

    VALUE-GATED since r11: the weight row persists as a parquet
    artifact (the production shape — a model registry entry the serving
    pass broadcasts) and BOTH the engine's scoring chain and the DuckDB
    oracle (_QLR_REPLAY_ORACLE above) compute
    ``w1*f1 + w2*f2 + w3*f3 + w4*f4 + b`` left-to-right over the same
    bits, so the (split, agree) counts hash-match; MLlib's prediction
    (probability > 0.5) is exactly (margin > 0), so replacing
    model.transform with the explicit chain preserves semantics while
    making the arithmetic order cross-engine-deterministic."""
    import os

    import pandas as pd

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from ..ann import index as ann_index

    feats = qlr_features(spark, sf_dir)

    def build(b):
        asm = VectorAssembler(
            inputCols=["f_nwords", "f_wordlen", "f_symbols", "f_stop"],
            outputCol="features",
        )
        # 20 LBFGS iterations: rule labels are linearly separable in
        # these features, and held-out agreement is already saturated
        # well before 20 (pytest bar 0.95 holds); 50 bought nothing but
        # fit time
        lr = LogisticRegression(maxIter=20, regParam=0.0,
                                standardization=True)
        model = lr.fit(asm.transform(feats).filter(F.col("split") == "train"))
        w = [float(x) for x in model.coefficients]
        ann_index._write_small_parquet(
            os.path.join(b, "weights"),
            pd.DataFrame({"w1": [w[0]], "w2": [w[1]], "w3": [w[2]],
                          "w4": [w[3]], "b": [float(model.intercept)]}))

    d, _ = cache.build(
        "qlr", "v3", cache.fingerprint(sf_dir, ("documents",)), build)
    ann_index.point_current("qlr", d)
    wt = spark.read.parquet(os.path.join(d, "weights"))
    margin = (
        F.col("w1") * F.col("f_nwords") + F.col("w2") * F.col("f_wordlen")
        + F.col("w3") * F.col("f_symbols") + F.col("w4") * F.col("f_stop")
        + F.col("b")
    )
    pred = F.when(margin > 0, F.lit(1.0)).otherwise(F.lit(0.0))
    return (
        feats.crossJoin(F.broadcast(wt))
        .groupBy("split", (pred == F.col("label")).alias("agree"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "agree")
    )


# DSIR constants — the oracle SQL interpolates the SAME values (f-string),
# and tests assert engine and oracle agree on them. B = 4096 buckets is
# 3 md5 hex nibbles, so the bucket key needs no hex->int conversion on
# either engine; LOG_SCALE makes per-bucket log-ratios integer (1e-6 nat
# units), so per-doc scores are EXACT bigint sums — order-free and
# hash-checkable cross-engine (a raw float sum would differ in combine
# order between engines; see the measurement rules in BASELINE.md).
_DSIR_BUCKETS = 4096
_DSIR_LOG_SCALE = 1_000_000
_DSIR_KEEP_FRAC_DEN = 4   # select top 1/4 of the raw pool per hash range


@register(
    "dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ), ng AS (
      SELECT doc_id, is_t, unnest(w) AS ng FROM toks
      UNION ALL
      SELECT doc_id, is_t,
             unnest(list_transform(generate_series(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1])) AS ng
      FROM toks
    ), cdb AS (
      SELECT doc_id, is_t, substr(md5(ng), 1, 3) AS b, count(*) AS c
      FROM ng GROUP BY 1, 2, 3
    ), model AS (
      SELECT b, sum(CASE WHEN is_t THEN c ELSE 0 END) AS tb,
             sum(CASE WHEN NOT is_t THEN c ELSE 0 END) AS rb
      FROM cdb GROUP BY b
    ), tot AS (
      SELECT sum(tb) AS tt, sum(rb) AS rt FROM model
    ), ratio AS (
      SELECT b, CAST(round({_DSIR_LOG_SCALE} * (
               ln((tb + 0.5) / (tt + {_DSIR_BUCKETS} / 2.0))
             - ln((rb + 0.5) / (rt + {_DSIR_BUCKETS} / 2.0))))
             AS BIGINT) AS lr
      FROM model, tot WHERE rb >= 1
    ), score AS (
      SELECT cdb.doc_id, sum(c * lr) AS score_scaled
      FROM cdb JOIN ratio USING (b) WHERE NOT is_t GROUP BY cdb.doc_id
    ), ranked AS (
      SELECT doc_id, score_scaled,
             substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 1)
               AS sel_range,
             row_number() OVER (
               PARTITION BY substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 1)
               ORDER BY score_scaled DESC, doc_id) AS rn,
             count(*) OVER (
               PARTITION BY substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 1))
               AS nr
      FROM score
    )
    SELECT doc_id, score_scaled, sel_range,
           rn <= CAST(ceil(nr / CAST({_DSIR_KEEP_FRAC_DEN} AS DOUBLE)) AS BIGINT)
             AS selected
    FROM ranked
    """,
)
def q_dsir_importance(spark, sf_dir):
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): pick raw-pool documents whose hashed-n-gram profile
    best matches a target corpus. Target here = the `en` slice of
    `documents`; raw pool = everything else; features = unigram + word-
    bigram counts hashed into 4096 buckets (bucket key = first 3 hex
    nibbles of md5, identical in both engines — no seeded hashing).

    The importance weight is the paper's bag-of-hashed-ngrams log-ratio
    log p_target(x) - log p_raw(x) = sum_b c_b(x) * (log p_b - log q_b)
    with Laplace(0.5) smoothing. Two determinism/scale choices:

    * per-bucket log-ratios are SCALED-INTEGER (round(1e6 * lr) as bigint),
      so every per-doc score is an exact integer dot product — order-free,
      hash-checkable cross-engine; the continuous quantity is rounded ONCE
      per bucket (<= 4096 values), never per row (measurement rules:
      never hash a continuous blend).
    * selection is the paper's deterministic top-k variant, taken WITHIN
      each of 16 md5 hash ranges of doc_id (top 1/4 per range) — each
      range is a uniform sample of the pool, so per-range top-k matches
      global top-k up to range-boundary effects, and the ranking window is
      KEYED (hash exchange + per-partition sort), never a single-partition
      global sort; the same trick seq_pack uses for pack ranges.

    100-TB shape: one shuffle to (doc, bucket) counts (map-side combinable),
    the bucket model is <= 4096 rows (broadcast back), scoring is one keyed
    agg on doc_id, selection one keyed window. Nothing driver-side, no
    Python workers, all whole-stage-codegen expressions.

    TWO-PASS plan (r9, after the first sf10 interleaved A/B read
    2-4x over the oracle): the r8 form hung three consumers off one
    (doc, is_t, bucket) counts subtree — the model, its totals, the
    scorer — and Catalyst's per-branch column pruning makes the
    subtrees non-identical, so ReuseExchange never fires and the
    tokenize+explode+md5 (the dominant stage) executed THREE times.
    Two sharing mechanisms were measured and REJECTED (receipts in
    BASELINE.md r9): Dataset.localCheckpoint is eager under AQE
    (toRdd executes the upstream stages at builder time, ~9 s — the
    anti-pattern the MMR advice closed), and persist() (lazy, shares
    correctly via block locks) LOSES because the counts stream barely
    compresses — word bigrams are mostly unique within a doc, so the
    "aggregate" is 36.9M ~unique rows at sf10 and the cache FILL
    measured 17.7 s vs 8.5 s to simply recompute the pass. The
    optimal Spark plan instead makes each pass minimal:

    * pass 1 (model): explode ALL docs but group DIRECTLY by
      (bucket, side) — no doc_id, so map-side combine collapses to
      <= 8192 rows and the exchange is bytes, not the r8 form's
      36.9M-row shuffle (measured amp 6.3 -> ~0 for this branch);
      the global totals ride a window over the <= 4096-row model
      (parameter-bounded SinglePartition — the bounded-candidate
      contract, SCALE.md), costing zero recomputation.
    * pass 2 (score): the raw-pool filter pushes to the SCAN (target
      docs never tokenize here), each ngram occurrence joins the
      broadcast <= 4096-row ratio map and sums lr per doc — the
      per-(doc, bucket) pre-grouping is dropped because
      sum(c * lr) == sum over occurrences of lr exactly (integer
      lr), and groupBy(doc_id) is map-combinable on its own.

    Net: 2 tokenize passes (all + raw) instead of 3, both other
    stages ~free; sf10 22-28 s -> ~13 s vs oracle 7-13 s — parity-
    band, and the shuffle volume drops from amp 6.3 to near-zero.
    The THIRD sharing mechanism (r10): a lazy-equivalent SERIALIZED
    localCheckpoint of the occurrence stream also loses — 11.6 s
    (raw-only) / 12.9 s (all-docs) vs 10.1 s for this plan,
    interleaved sf10 (BASELINE.md r10) — write+re-read of a ~37M-row
    barely-compressible stream costs more than the tokenize pass it
    saves. All three rejected mechanisms materialized the EXPLODED
    occurrence stream; DuckDB gets its single pass from automatic CTE
    materialization.

    r15 (VERDICT #7): the FOURTH mechanism finally wins — checkpoint
    the PRE-EXPLODE tokenized column (one ngram-array row per doc,
    ~text-sized, not the 7x-wider occurrence stream the three
    rejections materialized). Both passes explode from the checkpoint:
    the regex split + bigram zip runs ONCE over all docs instead of
    all + raw, and the store is O(corpus text), not O(occurrences).
    Interleaved A/Bs at sf0.1: −21.3% / −14.7%, identical rows. The
    raw-side scan-filter pushdown is traded for a filter on the
    checkpoint — strictly less tokenize work, same explode work."""
    d = Catalog(spark, sf_dir).table("documents")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ngrams = F.concat(w, bigrams)
    toks = d.select(
        "doc_id", (F.col("lang") == "en").alias("is_t"),
        ngrams.alias("ngs")).localCheckpoint(eager=True)

    # pass 1: bucket model, no doc_id — combines to <= 8192 rows map-side
    model = (
        toks.select("is_t", F.explode("ngs").alias("ng"))
        .select("is_t", F.substring(F.md5("ng"), 1, 3).alias("b"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tb"),
            F.sum(F.when(~F.col("is_t"), 1).otherwise(0)).alias("rb"),
        )
    )
    # totals via a window over the <= 4096-row model: parameter-bounded
    # SinglePartition (bounded-candidate contract, SCALE.md), and no
    # second evaluation of the model subtree
    wall = Window.partitionBy()
    lr = F.round(
        _DSIR_LOG_SCALE
        * (
            F.log((F.col("tb") + 0.5) / (F.col("tt") + _DSIR_BUCKETS / 2.0))
            - F.log((F.col("rb") + 0.5) / (F.col("rt") + _DSIR_BUCKETS / 2.0))
        )
    ).cast("long")
    ratio = (
        model.select(
            "b", "tb", "rb",
            F.sum("tb").over(wall).alias("tt"),
            F.sum("rb").over(wall).alias("rt"),
        )
        .filter(F.col("rb") >= 1)
        .select("b", lr.alias("lr"))
    )
    # pass 2: raw pool only (filter on the tokenized checkpoint); summing
    # lr per ngram OCCURRENCE equals sum(c * lr) exactly (integer lr), so
    # the (doc, b) pre-group is dropped and groupBy(doc_id) combines
    # map-side
    score = (
        toks.filter(~F.col("is_t"))
        .select("doc_id", F.explode("ngs").alias("ng"))
        .select("doc_id", F.substring(F.md5("ng"), 1, 3).alias("b"))
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.sum("lr").alias("score_scaled"))
    )
    sel_range = F.substring(
        F.md5(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))), 1, 1
    )
    wnd = Window.partitionBy("sel_range").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id").asc()
    )
    ranked = score.select(
        "doc_id", "score_scaled", sel_range.alias("sel_range")
    ).select(
        "*",
        F.row_number().over(wnd).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("sel_range")).alias("nr"),
    )
    return ranked.select(
        "doc_id", "score_scaled", "sel_range",
        (
            F.col("rn")
            <= F.ceil(F.col("nr") / float(_DSIR_KEEP_FRAC_DEN)).cast("long")
        ).alias("selected"),
    )


@register("quality_compression_ratio")  # rows-only: no zlib in DuckDB SQL;
# exact values pinned by pytest against CPython zlib on the same rows
def q_quality_compression_ratio(spark, sf_dir):
    """Compression-ratio quality signal (the Gopher/MassiveText-era
    heuristic: highly compressible text is boilerplate or repetition;
    barely compressible text is noise/binary junk): DEFLATE each document
    at fixed level 6, emit compressed/raw sizes as exact integers and
    their per-mille ratio as an integer — deterministic for a given zlib,
    so the pytest pins byte-exact equality against a direct CPython zlib
    call on the same rows. Arrow-batched mapInPandas (one python worker
    pass, ~KB/doc), never a row-at-a-time UDF; the keep-band [200, 900]
    permille mirrors the published double-sided cut. At 100 TB this is a
    map-only pass — no shuffle, column-pruned scan of (doc_id, text)."""
    import pandas as pd

    d = Catalog(spark, sf_dir).table("documents")

    def comp(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            n_raw = raw.str.len().astype("int64")
            n_comp = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            permille = (n_comp * 1000) // n_raw.clip(lower=1)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_raw": n_raw,
                "n_comp": n_comp,
                "ratio_pm": permille,
                "keep": (permille >= 200) & (permille <= 900),
            })

    return d.select("doc_id", "text").mapInPandas(
        comp,
        "doc_id LONG, n_raw LONG, n_comp LONG, ratio_pm LONG, keep BOOLEAN",
    ).orderBy("doc_id")


@register(
    "pipeline_observed",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS rows_in,
           CAST(sum(CASE WHEN lang = 'en' AND n_chars >= 200
                         THEN 1 ELSE 0 END) AS BIGINT) AS rows_kept,
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_lang,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    """,
)
def q_pipeline_observed(spark, sf_dir):
    """Single-pass pipeline metrics via ``df.observe`` (the Delta Live
    Tables / Deequ 'expectations' pattern): data-quality counters —
    input rows, filter survivors, null rate, value bounds — free-ride on
    the SAME scan that executes the filter stage, instead of a second
    metrics pass over the corpus. The Observation node computes its
    aggregates on rows flowing past the observe point; the downstream
    keep-filter then runs as usual, so at 100 TB the counters cost zero
    extra I/O (vs data_profile, which IS a dedicated profiling pass).
    The oracle recomputes the counters as plain SQL aggregates; exact
    integers, so the 1-row result value-hashes."""
    from pyspark.sql import Observation

    d = Catalog(spark, sf_dir).table("documents")
    obs = Observation("pipeline_quality")
    keep = (F.col("lang") == "en") & (F.col("n_chars") >= 200)
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(keep.cast("long")).alias("rows_kept"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    # the pipeline's real action: materialize the kept slice (noop sink —
    # the metrics are the product here); obs.get blocks until it finishes
    observed.filter(keep).write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["rows_in"], m["rows_kept"], m["null_lang"],
          m["min_chars"], m["max_chars"])],
        "rows_in LONG, rows_kept LONG, null_lang LONG, "
        "min_chars LONG, max_chars LONG",
    )
