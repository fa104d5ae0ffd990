"""Deterministic sketch hashing for near-dup detection at scale: MinHash
signatures, SimHash, and sign-pattern embedding buckets.

Everything is built from ``md5`` + bit arithmetic so the SAME algorithm is
expressible in both Spark (built-in Columns, JVM-side) and the DuckDB oracle
— the sketches are deterministic, not seeded-random, which makes the LSH
paths hash-checkable rather than rows-only.

Scale notes
-----------
- MinHash-LSH (Broder '97 / MMDS ch.3): n=16 components, 8 bands x 2 rows →
  candidate-pair s-curve threshold ~(1/8)^(1/2) ≈ 0.35. Candidates come from
  an equi-join on (band, band_key) — shuffle on the band key, never an
  all-pairs comparison; at 100 TB the band join is the only quadratic-risk
  stage and its fan-out is bounded by bucket sizes.
- SimHash (Charikar '02; Manku et al. WWW'07 chunk trick): 32-bit fingerprint
  split into 4 bands of 8 bits; hamming-≤3 pairs must share ≥1 exact band, so
  candidate generation is again an equi-join.
- Sign-bucket ANN: an IVF-style coarse quantizer — bucket = sign pattern of
  the first 8 embedding dims; a query probes its own bucket plus all
  hamming-1 neighbors (9 equi-join keys). Recall is bounded but deterministic;
  the brute-force scorer (``sim_topk_brute``) is the recall oracle.
"""

from __future__ import annotations

import functools
from functools import reduce

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

MINHASH_N = 16
MINHASH_BANDS = 8
MINHASH_ROWS = 2  # per band
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIGN_BUCKET_BITS = 8


# ------------------------------------------------------------------ MinHash

def minhash_est_jaccard(sig_a: Column, sig_b: Column,
                        n: int = MINHASH_N) -> Column:
    """Estimated Jaccard = fraction of agreeing signature components."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                            lambda v: v))
    return agree / F.lit(float(n))


# ------------------------------------------------------------------ SimHash

def md5_prefix_long(c: Column, hex_chars: int = 8) -> Column:
    """First `hex_chars` hex chars of md5 as a non-negative long."""
    return F.conv(F.substring(F.md5(c), 1, hex_chars), 16, 10).cast("long")


def simhash_votes(h: Column, bits: int = SIMHASH_BITS) -> list[Column]:
    """Per-bit ±1 vote terms of one token hash (to be summed per doc)."""
    return [
        F.shiftright(h, k).bitwiseAND(F.lit(1)) * 2 - 1 for k in range(bits)
    ]


def simhash_from_votes(vote_cols: list[Column]) -> Column:
    """Fold summed per-bit votes into the fingerprint (bit k set iff ≥0)."""
    terms = [
        F.when(v >= 0, F.lit(1 << k)).otherwise(F.lit(0))
        for k, v in enumerate(vote_cols)
    ]
    return reduce(lambda a, b: a + b, terms).cast("long")


def simhash_band_keys(simhash: Column, bands: int = SIMHASH_BANDS,
                      bits: int = SIMHASH_BITS) -> Column:
    """Array of band keys: contiguous (bits/bands)-bit chunks (Manku et al.:
    hamming-≤(bands-1) pairs share at least one exact chunk)."""
    width = bits // bands
    mask = (1 << width) - 1
    return F.array(
        *[F.shiftright(simhash, b * width).bitwiseAND(F.lit(mask)) for b in range(bands)]
    )


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_oracle_sql(words_cte: str, max_hamming: int,
                       bits: int = SIMHASH_BITS,
                       bands: int = SIMHASH_BANDS) -> str:
    """DuckDB SQL for the identical SimHash pipeline. ``words_cte`` must
    define ``words(doc_id, w)`` (distinct rows)."""
    hexpoly = (
        "list_sum(list_transform(generate_series(1, 8), "
        "i -> (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1) "
        "* (1::BIGINT << (4 * (8 - i)))))"
    )
    votes = ",\n        ".join(
        f"sum(2 * ((h >> {k}) & 1) - 1) AS v{k}" for k in range(bits)
    )
    fold = " + ".join(
        f"(CASE WHEN v{k} >= 0 THEN (1::BIGINT << {k}) ELSE 0::BIGINT END)"
        for k in range(bits)
    )
    width = bits // bands
    mask = (1 << width) - 1
    return f"""
    WITH {words_cte},
    h AS (SELECT doc_id, {hexpoly} AS h FROM words),
    votes AS (
      SELECT doc_id, {votes}
      FROM h GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {fold} AS simhash FROM votes),
    bands AS (
      SELECT doc_id, simhash, b AS band,
             (simhash >> ({width} * b)) & {mask} AS key
      FROM sig CROSS JOIN generate_series(0, {bands - 1}) t(b)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS ha, b.simhash AS hb
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
    FROM pairs WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    """


# ------------------------------------------------------- sign-bucket ANN

def sign_bucket(vec: Column, bits: int = SIGN_BUCKET_BITS) -> Column:
    """IVF-style coarse bucket: bit j set iff component j ≥ 0."""
    terms = [
        F.when(F.element_at(vec, j + 1) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(bits)
    ]
    return reduce(lambda a, b: a + b, terms).cast("long")


def probe_buckets(bucket: Column, bits: int = SIGN_BUCKET_BITS) -> Column:
    """Own bucket + every hamming-≤2 neighbor (multi-probe LSH): 37 of 256
    buckets for 8 bits, ~14% of the corpus scored per query. For sign-plane
    LSH with neighbor similarity ~cos 0.6 (bit-agreement p ≈ 0.7), expected
    single-neighbor recall ≈ Σ_{k≤2} C(8,k) p^(8-k) (1-p)^k ≈ 0.56."""
    h1 = [bucket.bitwiseXOR(F.lit(1 << j)) for j in range(bits)]
    h2 = [
        bucket.bitwiseXOR(F.lit((1 << i) | (1 << j)))
        for i in range(bits)
        for j in range(i + 1, bits)
    ]
    return F.array(bucket, *h1, *h2)


# ------------------------------------------- MinHash v2: one hash + k perms

# Deterministic odd multipliers / offsets for the k linear permutations
# h_i(x) = (A[i]*x + B[i]) mod 2^32 (Carter-Wegman style; MMDS ch.3 —
# one base hash per shingle instead of k hash evaluations).
MINHASH_MOD = 1 << 32
MINHASH_A = [((2654435761 * (i + 1)) % (1 << 31)) | 1 for i in range(MINHASH_N)]
MINHASH_B = [(40503 * (i + 7)) % (1 << 31) for i in range(MINHASH_N)]


@functools.cache
def minhash_sig_py(k: int = 3, n: int = MINHASH_N):
    """Arrow-batched text → MinHash signature (array<long>): shingle in
    Python, ONE md5 per shingle (base hash = first 8 hex chars as uint32,
    matching the DuckDB hex polynomial), then the n linear permutations as
    one vectorized numpy (n x n_shingles) min-reduce.

    Replaces the 16x md5-transform expression pipeline: measured 7.0s →
    sub-second at sf0.1 (the expression form re-hashed every shingle n
    times, interpreted).

    MEMOIZED per (k, n) (functools.cache: it holds UDF identity, not
    data): builders that persist the signature DataFrame rely on Spark's
    cache manager matching the analyzed plan — a fresh UDF object per call
    makes every invocation a distinct plan, so repeated builds (query
    reruns) would each leak a new cache entry instead of reusing one."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    a = np.array(MINHASH_A, dtype=np.uint64)[:, None]
    b = np.array(MINHASH_B, dtype=np.uint64)[:, None]

    @pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = re.split(r"\s+", t.strip().lower())
            m = max(len(words) - (k - 1), 1)
            shingles = set(" ".join(words[i:i + k]) for i in range(m))
            base = np.array(
                [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles],
                dtype=np.uint64,
            )
            perms = (a * base[None, :] + b) % MINHASH_MOD
            out.append(perms.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return sig


# Shared SQL fragment builders for the MinHash oracles — ONE definition
# each (the _md5_hex64_sql lesson applied here by the r11 second review:
# verbatim copies between the batch and incremental oracles drift
# silently and only surface as full-gate hash failures).
def _mh_hexpoly() -> str:
    return (
        "list_sum(list_transform(generate_series(1, 8), "
        "i -> (strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1) "
        "* (1::BIGINT << (4 * (8 - i)))))"
    )


def _mh_sig_cols(n: int) -> str:
    return ",\n        ".join(
        f"min(({MINHASH_A[i]}::BIGINT * base + {MINHASH_B[i]}) % {MINHASH_MOD}) AS s{i}"
        for i in range(n)
    )


def _mh_band_keys(bands: int, rows: int) -> str:
    return " ".join(
        "WHEN {b} THEN {expr}".format(
            b=b,
            expr=" || ':' || ".join(
                f"s{b * rows + r}::VARCHAR" for r in range(rows)
            ),
        )
        for b in range(bands)
    )


def _mh_agree(n: int) -> str:
    return " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(n)
    )


def minhash_oracle_sql_v2(shingle_cte: str, threshold: float,
                          n: int = MINHASH_N, bands: int = MINHASH_BANDS,
                          rows: int = MINHASH_ROWS) -> str:
    """DuckDB SQL for the one-hash+permutations MinHash — identical values:
    base = first-8-hex-of-md5 polynomial, h_i = (A[i]*base + B[i]) mod 2^32
    (products < 2^63, BIGINT-safe), min per doc."""
    hexpoly = _mh_hexpoly()
    sig_cols = _mh_sig_cols(n)
    band_keys = _mh_band_keys(bands, rows)
    agree = _mh_agree(n)
    return f"""
    WITH {shingle_cte},
    hashed AS (SELECT doc_id, {hexpoly} AS base FROM sh),
    sig AS (
      SELECT doc_id, {sig_cols}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b AS band, CASE b {band_keys} END AS key
      FROM sig CROSS JOIN generate_series(0, {bands - 1}) t(b)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(({agree}) / {float(n)}, 4) AS est_jaccard
    FROM pairs
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE ({agree}) / {float(n)} >= {threshold}
    """


def minhash_band_pairs(sig: Column, bands: int = MINHASH_BANDS,
                       rows: int = MINHASH_ROWS) -> Column:
    """Band keys over a long-valued signature as RAW COMPONENT PAIRS —
    array of (k1, k2) structs, posexplode -> (band, struct) — for the
    PERSISTED band index (r14): joining on two longs instead of the
    ':'-joined decimal string both shrinks the artifact (~16 B vs ~40 B
    per key) and replaces per-row string hashing with long hashing in
    the ingest's probe — a pure wire-format cut on the one measured
    O(batch)-residual (the base band-index columnar scan). Bijective
    with the string form (the string IS str(k1)+':'+str(k2)), so the
    candidate set — and therefore every oracle-replayed decision — is
    identical; rows=2 is asserted because the pair schema hard-codes
    two components."""
    assert rows == 2, "band-pair schema hard-codes rows=2"
    pairs = []
    for b in range(bands):
        pairs.append(F.struct(
            F.element_at(sig, b * rows + 1).alias("k1"),
            F.element_at(sig, b * rows + 2).alias("k2"),
        ))
    return F.array(*pairs)


def minhash_incr_oracle_sql(batch_pred: str, threshold: float,
                            artifact_glob: str, n: int = MINHASH_N,
                            bands: int = MINHASH_BANDS,
                            rows: int = MINHASH_ROWS) -> str:
    """DuckDB replay for INCREMENTAL MinHash-LSH dedup: batch signatures
    recompute in SQL (the minhash_oracle_sql_v2 machinery restricted to
    ``batch_pred`` docs) while BASE signatures read from the engine's
    persisted signature index at ``artifact_glob`` — the production
    shape (the ingest joins the stored band index; the corpus is never
    re-shingled) and the PQ-replay gate-honesty rule (the artifact rows
    are inputs; every pair decision re-derives). Candidates = batch
    bands vs base bands, plus batch-internal collisions oriented
    doc_match < doc_new; est = component agreement / n (k/16 dyadics —
    exact cross-engine). Fragment builders shared with
    minhash_oracle_sql_v2 (single definitions, no drift)."""
    return f"""
    WITH {minhash_incr_pairs_ctes(batch_pred, threshold, artifact_glob,
                                  n, bands, rows)}
    SELECT doc_new, doc_match, est_jaccard FROM pairs
    """


def minhash_incr_pairs_ctes(batch_pred: str, threshold: float,
                            artifact_glob: str, n: int = MINHASH_N,
                            bands: int = MINHASH_BANDS,
                            rows: int = MINHASH_ROWS) -> str:
    """The CTE chain of ``minhash_incr_oracle_sql`` WITHOUT the WITH
    keyword or final SELECT, ending in ``pairs(doc_new, doc_match,
    est_jaccard)`` — so composite oracles (dedup_clusters_incremental's
    label-merge replay) can append their own CTEs to the same
    batch-vs-artifact pair derivation instead of copying it (the r11
    no-verbatim-copies rule)."""
    hexpoly = _mh_hexpoly()
    sig_cols = _mh_sig_cols(n)
    art_cols = ", ".join(f"sig[{i + 1}] AS s{i}" for i in range(n))
    band_keys = _mh_band_keys(bands, rows)
    agree = _mh_agree(n)
    return f"""sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
                              i -> array_to_string(words[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
            FROM documents WHERE {batch_pred})
    ),
    hashed AS (SELECT doc_id, {hexpoly} AS base FROM sh),
    sigq AS (
      SELECT doc_id, {sig_cols}
      FROM hashed GROUP BY doc_id
    ),
    sigb AS (
      SELECT doc_id, {art_cols} FROM read_parquet('{artifact_glob}')
    ),
    bandsq AS (
      SELECT doc_id, b AS band, CASE b {band_keys} END AS key
      FROM sigq CROSS JOIN generate_series(0, {bands - 1}) t(b)
    ),
    bandsb AS (
      SELECT doc_id, b AS band, CASE b {band_keys} END AS key
      FROM sigb CROSS JOIN generate_series(0, {bands - 1}) t(b)
    ),
    cand AS (
      SELECT a.doc_id AS doc_new, b.doc_id AS doc_match
      FROM bandsq a JOIN bandsb b ON a.band = b.band AND a.key = b.key
      UNION
      SELECT a.doc_id AS doc_new, b.doc_id AS doc_match
      FROM bandsq a JOIN bandsq b ON a.band = b.band AND a.key = b.key
        AND b.doc_id < a.doc_id
    ),
    allsig AS (
      SELECT * FROM sigb UNION ALL SELECT * FROM sigq
    ),
    pairs AS (
      SELECT doc_new, doc_match,
             round(({agree}) / {float(n)}, 4) AS est_jaccard
      FROM cand
      JOIN sigq sa ON sa.doc_id = doc_new
      JOIN allsig sb ON sb.doc_id = doc_match
      WHERE ({agree}) / {float(n)} >= {threshold}
    )"""
