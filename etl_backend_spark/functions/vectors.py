"""Vector math over ``array<float>`` embedding columns — all built-in higher-
order functions (zip_with / aggregate / transform), JVM-side, no UDFs.

Arithmetic is done in float64 (arrays are cast first) so results are
bit-comparable with the DuckDB oracle and stable under reordering-free
sequential accumulation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    # Zero-norm contract (r12, ADVICE): a zero-norm operand scores
    # cosine -1.0, MIRRORING DuckDB's list_cosine_similarity clamp
    # (measured: list_cosine_similarity([0,0],[1,2]) = -1.0), so the 17
    # list_cosine_similarity gate oracles and the engine rank
    # degenerates identically even when a top-k has fewer than k
    # positive-cosine candidates (the previous 0.0 guard ranked a zero
    # vector ABOVE real negative-cosine candidates — latent gate
    # divergence). The -1.0 branch fires on the norm PRODUCT
    # underflowing to 0.0 — including tiny-but-nonzero vectors whose
    # squared norms underflow — because that is exactly when DuckDB
    # clamps too (measured r13: [1e-170,0] vs itself -> -1.0, but
    # [2e-162,0] vs itself -> 1.0, its 4e-324 denormal product
    # surviving). CaseWhen short-circuits, so the divide never sees a
    # zero divisor under ANSI mode; a greatest(nn, 1e-300) floor here
    # would DIVERGE for denormal nonzero products (it turned that
    # measured 1.0 into 4e-24 — removed r13, ADVICE, denormal parity
    # pytest-pinned). NaN components propagate NaN through both
    # engines unchanged.
    nn = norm(a) * norm(b)
    return F.when(nn == F.lit(0.0), F.lit(-1.0)).otherwise(dot(a, b) / nn)


def l2_normalize_np_seq(X: np.ndarray) -> np.ndarray:
    """numpy l2-normalize BIT-IDENTICAL to the JVM ``l2_normalize``
    chain (and the DuckDB replay oracles that mirror it): the squared
    norm accumulates SEQUENTIALLY over dims — ``acc = acc + X[:,j]**2``
    in increasing j, float64, 0.0 seed — vectorized over rows, so every
    row's sum is the same left-associated IEEE chain the JVM fold
    computes (np.sum's pairwise reordering would differ in the last
    ulp and could flip greedy threshold decisions). Divisor guarded to
    >= 1e-300; ``np.maximum`` propagates NaN exactly like
    ``greatest()``. Lets Arrow map passes take RAW float32 embeddings
    and normalize in-kernel instead of paying the JVM higher-order
    expression walk per corpus pass (measured 8.6 s of a 43 s
    sf10 semdedup_incremental run — r12)."""
    X = X.astype(np.float64, copy=False)
    acc = np.zeros(len(X), dtype=np.float64)
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    n = np.maximum(np.sqrt(acc), 1e-300)
    return X / n[:, None]


def cosine_np_seq(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise numpy cosine BIT-IDENTICAL to the JVM ``cosine``
    expression: dot and both squared norms fold SEQUENTIALLY over dims
    in float64 from a 0.0 seed (the ``l2_normalize_np_seq`` rule), the
    norms are ``sqrt``-ed before their product, and a norm product of
    exactly 0.0 scores -1.0 (``cosine``'s zero-norm contract, denormal
    cases included); NaN propagates. ``A`` and ``B`` broadcast by row:
    (n, d) against (n, d) or (d,)."""
    A = np.atleast_2d(np.asarray(A, dtype=np.float64))
    B = np.atleast_2d(np.asarray(B, dtype=np.float64))
    dot = aa = bb = 0.0
    for j in range(A.shape[1]):
        dot = dot + A[:, j] * B[:, j]
        aa = aa + A[:, j] * A[:, j]
        bb = bb + B[:, j] * B[:, j]
    nn = np.sqrt(aa) * np.sqrt(bb)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(nn == 0.0, -1.0, dot / nn)


def l2_normalize(v: Column) -> Column:
    # Divisor guarded to >= 1e-300: an all-zero vector would otherwise
    # raise DIVIDE_BY_ZERO under Spark 4's default ANSI mode (killing
    # the whole job on one degenerate row — r11 code-review) — with the
    # guard it normalizes to the all-zero vector (cosine 0.0 to
    # everything, so dedup keeps it). Bit-neutral for every nonzero
    # vector (any representable nonzero norm exceeds 1e-300). A NaN
    # input element still propagates NaN (greatest picks NaN on both
    # engines) — consumers mask NaN cosines to -inf (semdedup's greedy,
    # the kNN kernel's r9 precedent). The semdedup replay oracle
    # (registry/llm.py) mirrors this exact chain in SQL.
    n = F.greatest(norm(v), F.lit(1e-300))
    return F.transform(v, lambda x: x / n)


def band_keys_pandas(bits: int, nbands: int, flips: int = 0):
    """mapInPandas worker computing every band's sign-LSH key (and,
    with ``flips`` > 0, the flip-bit schedule) for a whole Arrow batch
    in numpy — r15 (VERDICT #5): the JVM expression form evaluated
    bits x nbands sign terms plus, for multiprobe, bits x nbands
    integer sort keys PER ROW (~120 scalar expressions at 10x6), and
    the whole-stage-codegen chain measured as half the multiprobe
    query; one vectorized kernel over the batch replaces it
    (interleaved A/B: −51% on dedup_embedding_multiprobe, identical
    rows).

    Emits (vec_id, embedding, keys[, fl]):
      * ``keys[b]`` = sign bucket of dim slice [b*bits, (b+1)*bits) —
        bit j set iff x_j >= 0, identical to hashing.sign_bucket over
        the float->double widened array (float32->float64 widening is
        exact, so the sign test sees the same values);
      * ``fl`` (flips > 0) = per band the ``flips`` LEAST-CONFIDENT bit
        indices by the integer sort key floor(abs(x)*1e9)*64 + j —
        float64 abs/multiply/floor are IEEE-identical to the Spark
        expressions and the DuckDB oracle, and the trailing +j makes
        the key unique so np.sort reproduces the exact engine/oracle
        tie order. Flattened row-major: band b's flips at
        fl[b*flips:(b+1)*flips].

    The embedding column passes through untouched (same Arrow buffer
    values), so downstream cosine kernels see identical bits. Requires
    finite embeddings and raises ValueError on a batch holding NaN or
    inf: Spark/DuckDB order NaN above all numbers while numpy
    comparisons return false, and inf overflows the flip sort keys, so
    a non-finite row would silently change bucket membership.

    Output schema (caller passes it to mapInPandas):
    ``vec_id long, embedding array<float>, keys array<long>[, fl
    array<int>]``."""
    jidx = np.arange(bits, dtype=np.int64)
    w = np.int64(1) << jidx

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if not np.isfinite(mat).all():
                bad = pdf["vec_id"].to_numpy()[~np.isfinite(mat).all(axis=1)]
                raise ValueError(
                    f"band_keys_pandas: non-finite embedding values in "
                    f"vec_id {bad[:5].tolist()}")
            n = len(pdf)
            keys = np.empty((n, nbands), dtype=np.int64)
            fl = (np.empty((n, nbands * flips), dtype=np.int32)
                  if flips else None)
            for b in range(nbands):
                seg = mat[:, b * bits:(b + 1) * bits]
                keys[:, b] = ((seg >= 0).astype(np.int64) * w).sum(axis=1)
                if flips:
                    sk = (np.floor(np.abs(seg) * 1e9).astype(np.int64) * 64
                          + jidx)
                    fl[:, b * flips:(b + 1) * flips] = (
                        np.sort(sk, axis=1)[:, :flips] % 64
                    ).astype(np.int32)
            out = {
                "vec_id": pdf["vec_id"],
                "embedding": pdf["embedding"],
                "keys": list(keys),
            }
            if flips:
                out["fl"] = list(fl)
            yield pd.DataFrame(out)

    return fn


def bucket_knn_candidates_pandas(k: int = 5, eps: float = 2e-6):
    """applyInPandas worker emitting each vector's DIRECTED kNN
    candidates per LSH bucket — bucket-local scoring + bucket-local
    selection, the r8 knn_graph_lsh hot path.

    Input: a coarse hash-group of whole (band, key) buckets (grouping
    by a hash of the bucket key amortizes the per-group Arrow/UDF
    overhead that made one-bucket-per-group 15x slower; buckets are
    re-split with a pandas groupby inside). Output: (vec_id, nbr_id,
    cos) rows — for every vector, every bucket-mate whose RAW cosine
    is within ``eps`` of the vector's k-th best raw cosine in that
    bucket.

    WHY the eps margin is exact: the global ranking contract orders by
    ROUND(cos, 6) desc, nbr_id asc. Rounding is monotone, so any
    neighbor in a vector's global rounded top-k has at most k-1 bucket-
    mates whose raw cosine exceeds its own by more than 1e-6 (two raws
    within one 1e-6 grid cell round equal) — i.e. its raw is within
    1e-6 of the bucket's k-th best raw. Emitting down to (k-th best −
    2e-6) is therefore a guaranteed superset of every possible rounded
    top-k member; the downstream JVM agg rounds, dedups (cross-band
    duplicates carry bit-identical raw doubles), sorts by the contract
    order and slices k — exact, engine-independent.

    VALUE-EXACT cosines: accumulation sequential over DIMS, vectorized
    over pairs (``P = P + outer(col_j, col_j)``, zero seed) — per pair
    the identical left-assoc IEEE chain as the JVM ``aggregate`` fold
    and the DuckDB oracle (pytest-pinned). Rounding stays JVM-side.

    Scale: bucket density ~32 by the adaptive bits schedule; the
    2048-row block loop bounds memory for straggler buckets, and
    emitted volume is ~k+eps-collisions per vector per band instead of
    the ~density/2 all-pairs rows — the downstream shuffle shrinks ~4x.

    Zero-norm contract (r9, ADVICE fix): a zero vector has no defined
    cosine, so its 0/0 NaNs are masked to -inf BEFORE the k-th-best
    partition. Without the mask, np.partition sorts NaN above every
    real value, so >=k zero-norm bucket-mates made a vector's
    threshold NaN and it silently emitted NOTHING. Masked, zero-norm
    rows degrade cleanly: they emit no candidates themselves, never
    occupy a real vector's top-k slot, and never corrupt thresholds
    (pytest-pinned with mixed zero/real buckets)."""

    OVERSIZE = 64  # buckets above this score individually, block-wise

    def score_bucket(ids, M, out):
        # straggler path: one bucket at a time, 2048-row blocks bound
        # memory for degenerate buckets (design density is ~32)
        m = len(ids)
        if m < 2:
            return
        dim = M.shape[1]
        s = np.zeros(m, dtype=np.float64)
        for j in range(dim):  # sequential over dims = fold order
            c = M[:, j]
            s = s + c * c
        nrm = np.sqrt(s)
        B = 2048
        for st in range(0, m, B):
            en = min(st + B, m)
            blk = M[st:en]
            P = np.zeros((en - st, m), dtype=np.float64)
            for j in range(dim):  # same sequential fold, per block
                P = P + np.outer(blk[:, j], M[:, j])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = P / np.outer(nrm[st:en], nrm)
            cos[np.isnan(cos)] = -np.inf  # zero-norm: see docstring
            for r in range(en - st):
                cos[r, st + r] = -np.inf  # self
            if m - 1 <= k:
                thr = np.full(en - st, -np.inf)
            else:
                thr = np.partition(cos, m - k, axis=1)[:, m - k] - eps
            # the > -inf term drops the self slot even when thr is -inf
            # (small buckets): -inf >= -inf is True in IEEE
            keep_r, keep_c = np.nonzero((cos >= thr[:, None])
                                        & (cos > -np.inf))
            out[0].append(ids[st + keep_r])
            out[1].append(ids[keep_c])
            out[2].append(cos[keep_r, keep_c])

    def score_batch3d(groups, ids_all, M_all, out):
        # normal path: ALL design-density buckets of a coarse group fold
        # together as one zero-padded (nb, mmax, dim) tensor — 64 large
        # numpy ops instead of 64 x nb tiny ones (the per-bucket loop
        # measured ~1.3 ms/bucket of pure numpy call overhead; this is
        # ~15x less Python time). Per-pair accumulation order unchanged.
        nb = len(groups)
        mmax = max(len(ix) for ix in groups)
        dim = M_all.shape[1]
        T = np.zeros((nb, mmax, dim), dtype=np.float64)
        valid = np.zeros((nb, mmax), dtype=bool)
        ids3 = np.zeros((nb, mmax), dtype=np.int64)
        for i, ix in enumerate(groups):
            T[i, : len(ix)] = M_all[ix]
            valid[i, : len(ix)] = True
            ids3[i, : len(ix)] = ids_all[ix]
        s = np.zeros((nb, mmax), dtype=np.float64)
        P = np.zeros((nb, mmax, mmax), dtype=np.float64)
        for j in range(dim):  # sequential over dims = fold order
            c = T[:, :, j]
            s = s + c * c
            P = P + c[:, :, None] * c[:, None, :]
        nrm = np.sqrt(s)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = P / (nrm[:, :, None] * nrm[:, None, :])
        pair_ok = valid[:, :, None] & valid[:, None, :]
        pair_ok &= ~np.eye(mmax, dtype=bool)[None, :, :]
        cos = np.where(pair_ok & ~np.isnan(cos), cos, -np.inf)
        mcount = valid.sum(axis=1)
        if mmax - 1 > k:
            kth = np.partition(cos, mmax - k, axis=2)[:, :, mmax - k]
            thr = np.where((mcount - 1 > k)[:, None], kth - eps, -np.inf)
        else:
            thr = np.full((nb, mmax), -np.inf)
        # cos > -inf drops zero-norm pairs even when thr is -inf
        # (small buckets): -inf >= -inf is True in IEEE
        keep = (cos >= thr[:, :, None]) & pair_ok & (cos > -np.inf)
        b, r, c = np.nonzero(keep)
        out[0].append(ids3[b, r])
        out[1].append(ids3[b, c])
        out[2].append(cos[b, r, c])

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_all = pdf["vec_id"].to_numpy()
        M_all = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        # batch buckets by POWER-OF-TWO size class: one skewed group
        # (thousands of size-2 buckets + one size-64) padded to the
        # group-wide max would allocate nb*mmax^2 temporaries ~32x the
        # real work (r8 code-review finding); within a class the
        # padding waste is <= 2x by construction
        classes: dict = {}
        big = []
        for ix in pdf.groupby(["band", "key"], sort=False).indices.values():
            if len(ix) < 2:
                continue
            if len(ix) > OVERSIZE:
                big.append(ix)
            else:
                classes.setdefault((len(ix) - 1).bit_length(), []).append(ix)
        out = ([], [], [])
        for groups in classes.values():
            score_batch3d(groups, ids_all, M_all, out)
        for ix in big:
            score_bucket(ids_all[ix], M_all[ix], out)
        if not out[0]:
            return pd.DataFrame({
                "vec_id": pd.Series([], dtype="int64"),
                "nbr_id": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            })
        return pd.DataFrame({
            "vec_id": np.concatenate(out[0]).astype(np.int64),
            "nbr_id": np.concatenate(out[1]).astype(np.int64),
            "cos": np.concatenate(out[2]),
        })

    return run


def bucket_allpairs_cosine_pandas(tau: float | None = None):
    """applyInPandas worker for BUCKET-LOCAL pair scoring — the r8
    symmetric-band-LSH shape shared with ``bucket_knn_candidates_pandas``
    (dedup_embedding's consumer keeps ALL a<b pairs, optionally
    tau-filtered in-kernel, instead of per-vector top-k).

    Input: a coarse hash-group of whole (band, key) buckets (pandas
    groupby re-splits inside; one-bucket-per-group paid ~15x Arrow/UDF
    overhead); output: every a<b pair per bucket with its RAW float64
    cosine, optionally only those with cos >= tau (the filter runs on
    the same raw doubles the JVM fold and the DuckDB oracle compare
    against, so in-kernel filtering is bit-faithful and cuts the Arrow
    return + downstream dedup shuffle to the surviving pairs). The
    caller rounds JVM-side so the cross-engine round contract is
    untouched.

    Why this shape wins: the join-based plan hydrates 64-dim vectors
    onto every candidate pair (2 SHUFFLE_HASH joins, ~540 B/pair) and
    folds the dot interpreted (~17 us/pair); here each vector crosses
    the wire ONCE per band inside its bucket row (~300 B), pairs never
    carry vectors at all, and scoring is one numpy pass per bucket.

    VALUE-EXACT: accumulation is sequential over DIMS, vectorized over
    pairs (``P = P + outer(col_j, col_j)``, zero seed, increasing j) —
    per pair the identical left-associated IEEE chain the JVM
    ``aggregate`` fold and the DuckDB oracle compute, so raw doubles
    are bit-identical (pytest-pinned vs ``dot``). float32→float64 cast
    first, exactly like ``as_double``.

    Scale: bucket density is held ~32 by the adaptive bits schedule;
    the 2048-row block loop bounds memory for straggler buckets (a
    degenerate 100k-row bucket scores in blocks instead of an 80 GB P)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_all = pdf["vec_id"].to_numpy()
        M_all = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        out_a, out_b, out_c = [], [], []
        for ix in pdf.groupby(["band", "key"], sort=False).indices.values():
            m = len(ix)
            if m < 2:
                continue
            order = np.argsort(ids_all[ix], kind="stable")
            ids = ids_all[ix][order]
            M = M_all[ix][order]
            s = np.zeros(m, dtype=np.float64)
            for j in range(M.shape[1]):  # sequential over dims = fold
                c = M[:, j]
                s = s + c * c
            nrm = np.sqrt(s)
            B = 2048
            for st in range(0, m - 1, B):
                en = min(st + B, m)
                blk = M[st:en]
                P = np.zeros((en - st, m), dtype=np.float64)
                for j in range(M.shape[1]):  # same fold, per block
                    P = P + np.outer(blk[:, j], M[:, j])
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = P / np.outer(nrm[st:en], nrm)
                for r in range(en - st):
                    gi = st + r
                    if gi + 1 >= m:
                        continue
                    row = cos[r, gi + 1:]
                    cols = ids[gi + 1:]
                    # zero-norm cosines are NaN; drop those pairs
                    # whether or not a tau filter runs (NaN >= tau is
                    # already False in IEEE — the explicit mask covers
                    # the tau=None path the same way)
                    keep = (row >= tau) if tau is not None \
                        else ~np.isnan(row)
                    row, cols = row[keep], cols[keep]
                    if not len(row):
                        continue
                    out_a.append(np.full(len(row), ids[gi], dtype=np.int64))
                    out_b.append(cols.astype(np.int64, copy=False))
                    out_c.append(row)
        if not out_a:
            return pd.DataFrame({
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            })
        return pd.DataFrame({
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cos": np.concatenate(out_c),
        })

    return run


def block_knn_candidates_pandas(k: int = 5, eps: float = 2e-6):
    """applyInPandas worker for the DEGENERATE-BUCKET block path of the
    kNN consumer (r10): one call = one (band, key, lo, hi) block pair of
    an oversized bucket. Emits each vector's directed candidates within
    ``eps`` of its k-th best raw cosine over THIS BLOCK PAIR's candidate
    set (``lo == hi``: the block's other rows; ``lo < hi``: the opposite
    block's rows only — same-block pairs belong to that block's
    (lo, lo) group, so over all block pairs each bucket-mate is
    considered exactly once per band).

    Why this composes exactly: the k-th best over a SUBSET of a
    vector's bucket-mates is <= the k-th best over all of them, so the
    per-block-pair threshold only loosens — the union over block pairs
    is a SUPERSET of the whole-bucket kernel's emission, and the
    whole-bucket emission is already a proven superset of the global
    rounded top-k (bucket_knn_candidates_pandas docstring). The
    downstream dedup + array_sort + slice(k) aggregation therefore
    returns bit-identical rows; the extra emitted volume (~nb x k per
    vector) is the price of splitting one straggler into nb^2/2 tasks.

    Same value contract as every kernel here: float64 cast first,
    sequential-over-dims fold, zero-norm NaNs masked to -inf BEFORE the
    threshold partition, self slot dropped."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        blk = pdf["blk"].to_numpy()
        lo = int(pdf["lo"].iloc[0])
        hi = int(pdf["hi"].iloc[0])
        m = len(ids)
        empty = pd.DataFrame({
            "vec_id": pd.Series([], dtype="int64"),
            "nbr_id": pd.Series([], dtype="int64"),
            "cos": pd.Series([], dtype="float64"),
        })
        if m < 2:
            return empty
        dim = M.shape[1]
        s = np.zeros(m, dtype=np.float64)
        for j in range(dim):  # sequential over dims = fold order
            c = M[:, j]
            s = s + c * c
        nrm = np.sqrt(s)
        out = ([], [], [])
        B = 2048
        cross_only = lo != hi
        for st in range(0, m, B):
            en = min(st + B, m)
            P = np.zeros((en - st, m), dtype=np.float64)
            for j in range(dim):  # same fold, per block
                P = P + np.outer(M[st:en, j], M[:, j])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = P / np.outer(nrm[st:en], nrm)
            cos[np.isnan(cos)] = -np.inf  # zero-norm contract
            for r in range(en - st):
                cos[r, st + r] = -np.inf  # self
            if cross_only:
                same = blk[st:en, None] == blk[None, :]
                cos[same] = -np.inf
            # per-row candidate count = rows not masked to -inf
            ncand = (cos > -np.inf).sum(axis=1)
            thr = np.full(en - st, -np.inf)
            rich = ncand > k
            if rich.any():
                kth = np.partition(cos[rich], m - k, axis=1)[:, m - k]
                thr[rich] = kth - eps
            keep_r, keep_c = np.nonzero((cos >= thr[:, None])
                                        & (cos > -np.inf))
            out[0].append(ids[st + keep_r])
            out[1].append(ids[keep_c])
            out[2].append(cos[keep_r, keep_c])
        if not out[0]:
            return empty
        return pd.DataFrame({
            "vec_id": np.concatenate(out[0]).astype(np.int64),
            "nbr_id": np.concatenate(out[1]).astype(np.int64),
            "cos": np.concatenate(out[2]),
        })

    return run


def block_pair_cosine_pandas(tau: float | None = None):
    """applyInPandas worker for the DEGENERATE-BUCKET block path (r10,
    VERDICT r9 #4): one call = one (band, key, lo, hi) BLOCK PAIR of an
    oversized LSH bucket. ``lo == hi`` scores all a<b pairs within the
    block (the whole-bucket kernel's inner shape); ``lo < hi`` scores
    ONLY cross-block pairs (one side in block lo, one in hi) — pairs
    inside a block belong to that block's (lo, lo) group, so the union
    over block pairs is exactly the bucket's pair set, each pair once.

    Same value contract as ``bucket_allpairs_cosine_pandas``:
    float64 cast first, accumulation sequential over DIMS (vectorized
    over pairs), pairs normalized a<b by vec_id, zero-norm NaN cosines
    dropped, tau filter on the raw doubles — cosine is a per-pair fold
    over dims, so block-task values are bit-identical to the
    whole-bucket kernel's (pytest-pinned in test_llm_ops).

    Memory: a task holds <= 2 x block rows (m <= 2 x _DEGEN_BLOCK_ROWS =
    16384 at defaults); the scoring matrices P/cos are (chunk x m) with a
    2048-row chunk — up to 2048 x 16384 float64 = 256 MB EACH, ~0.5 GB
    per-task peak at defaults (same shape in block_knn_candidates_pandas
    and block_probe_pairs_cosine_pandas). Bounded by the block parameter,
    never the bucket (the whole-bucket kernel peaks at ~1.6 GB at the
    100k routing threshold); shrink the 2048 chunk to trade time for
    memory."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_all = pdf["vec_id"].to_numpy()
        order = np.argsort(ids_all, kind="stable")
        ids = ids_all[order]
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)[order]
        blk = pdf["blk"].to_numpy()[order]
        lo = int(pdf["lo"].iloc[0])
        hi = int(pdf["hi"].iloc[0])
        m = len(ids)
        empty = pd.DataFrame({
            "vec_a": pd.Series([], dtype="int64"),
            "vec_b": pd.Series([], dtype="int64"),
            "cos": pd.Series([], dtype="float64"),
        })
        if m < 2:
            return empty
        s = np.zeros(m, dtype=np.float64)
        for j in range(M.shape[1]):  # sequential over dims = fold
            c = M[:, j]
            s = s + c * c
        nrm = np.sqrt(s)
        out_a, out_b, out_c = [], [], []
        B = 2048
        for st in range(0, m - 1, B):
            en = min(st + B, m)
            P = np.zeros((en - st, m), dtype=np.float64)
            for j in range(M.shape[1]):  # same fold, per block
                P = P + np.outer(M[st:en, j], M[:, j])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = P / np.outer(nrm[st:en], nrm)
            for r in range(en - st):
                gi = st + r
                if gi + 1 >= m:
                    continue
                row = cos[r, gi + 1:]
                cols = ids[gi + 1:]
                keep = (row >= tau) if tau is not None else ~np.isnan(row)
                if lo != hi:
                    # cross-block pairs only: same-block pairs are the
                    # (lo, lo) / (hi, hi) groups' job
                    keep = keep & (blk[gi + 1:] != blk[gi])
                row, cols = row[keep], cols[keep]
                if not len(row):
                    continue
                out_a.append(np.full(len(row), ids[gi], dtype=np.int64))
                out_b.append(cols.astype(np.int64, copy=False))
                out_c.append(row)
        if not out_a:
            return empty
        return pd.DataFrame({
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cos": np.concatenate(out_c),
        })

    return run


def bucket_probe_pairs_cosine_pandas(tau: float | None = None):
    """applyInPandas worker for MULTI-PROBE bucket-local pair scoring —
    the asymmetric sibling of ``bucket_allpairs_cosine_pandas``
    (dedup_embedding_multiprobe: probe rows pair only against BASE
    rows, never against other probes).

    Input: a coarse hash-group of whole (band, key) buckets with
    ``vec_id``, ``embedding`` and ``is_probe`` (false = the vector's
    own band key, true = a flipped probe key). A pair is a candidate
    iff at least one side is a base row — exactly the oracle's
    (probes ∪ bases) x bases join with a != b. Output: normalized
    (least, greatest) id pairs with RAW float64 cosine, tau-filtered
    in-kernel on the raw values; cross-band/orientation repeats carry
    bit-identical cos and die in the caller's dropDuplicates.

    The scoring matrix is (all rows) x (base rows) only — probe rows
    dominate a bucket ~5:1 under the capped flip budget, so skipping
    probe x probe cells cuts ~70% of the kernel flops. Accumulation is
    the same sequential-over-dims fold (bit-identical to the JVM
    ``aggregate`` fold and the DuckDB oracle; per-term multiplication
    commutes, so both orientations of a pair produce the same double).

    This replaces the skinny-pair + 2-hydration-join plan whose
    scoring stage alone measured 185 s at the sf10 candidate volume
    (BASELINE.md r7 multiprobe fix; r8 removes hydration entirely)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_all = pdf["vec_id"].to_numpy()
        probe_all = pdf["is_probe"].to_numpy()
        M_all = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        out_a, out_b, out_c = [], [], []
        for ix in pdf.groupby(["band", "key"], sort=False).indices.values():
            ids = ids_all[ix]
            isp = probe_all[ix]
            m = len(ix)
            nb = int((~isp).sum())
            if m < 2 or nb == 0:
                continue
            M = M_all[ix]
            s = np.zeros(m, dtype=np.float64)
            for j in range(M.shape[1]):  # sequential over dims = fold
                c = M[:, j]
                s = s + c * c
            nrm = np.sqrt(s)
            base_ix = np.nonzero(~isp)[0]
            MB = M[base_ix]
            B = 2048
            for st in range(0, m, B):
                en = min(st + B, m)
                blk = M[st:en]
                P = np.zeros((en - st, nb), dtype=np.float64)
                for j in range(M.shape[1]):  # same fold, per block
                    P = P + np.outer(blk[:, j], MB[:, j])
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = P / np.outer(nrm[st:en], nrm[base_ix])
                lid = ids[st:en][:, None]
                rid = ids[base_ix][None, :]
                keep = lid != rid
                # zero-norm cosines are NaN; NaN >= tau is False, and
                # the explicit mask covers the tau=None path too
                keep &= (cos >= tau) if tau is not None \
                    else ~np.isnan(cos)
                r, c = np.nonzero(keep)
                if not len(r):
                    continue
                lv, rv = ids[st + r], ids[base_ix][c]
                out_a.append(np.minimum(lv, rv).astype(np.int64))
                out_b.append(np.maximum(lv, rv).astype(np.int64))
                out_c.append(cos[r, c])
        if not out_a:
            return pd.DataFrame({
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            })
        return pd.DataFrame({
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cos": np.concatenate(out_c),
        })

    return run


def block_probe_pairs_cosine_pandas(tau: float | None = None):
    """applyInPandas worker for the DEGENERATE-BUCKET block path of the
    MULTIPROBE consumer (r10): one call = one (band, key, lo, hi) block
    pair of an oversized bucket carrying ``is_probe`` rows. Scores the
    asymmetric (all rows) x (base rows) product of
    ``bucket_probe_pairs_cosine_pandas`` restricted to this block pair:
    ``lo == hi`` keeps within-block combinations, ``lo < hi`` keeps
    cross-block ones only — every (row, base-row) combination of the
    bucket lands in exactly the (blk_row, blk_base) group, so the union
    over block pairs reproduces the whole-bucket combination set
    exactly; normalized (least, greatest) pairs then die in the
    caller's dropDuplicates exactly as before. Same value contract:
    float64 first, sequential-over-dims fold, NaN-safe tau filter on
    raw doubles."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        isp = pdf["is_probe"].to_numpy().astype(bool)
        blk = pdf["blk"].to_numpy()
        lo = int(pdf["lo"].iloc[0])
        hi = int(pdf["hi"].iloc[0])
        m = len(ids)
        empty = pd.DataFrame({
            "vec_a": pd.Series([], dtype="int64"),
            "vec_b": pd.Series([], dtype="int64"),
            "cos": pd.Series([], dtype="float64"),
        })
        nb_rows = int((~isp).sum())
        if m < 2 or nb_rows == 0:
            return empty
        s = np.zeros(m, dtype=np.float64)
        for j in range(M.shape[1]):  # sequential over dims = fold
            c = M[:, j]
            s = s + c * c
        nrm = np.sqrt(s)
        base_ix = np.nonzero(~isp)[0]
        MB = M[base_ix]
        out_a, out_b, out_c = [], [], []
        B = 2048
        cross_only = lo != hi
        for st in range(0, m, B):
            en = min(st + B, m)
            P = np.zeros((en - st, nb_rows), dtype=np.float64)
            for j in range(M.shape[1]):  # same fold, per block
                P = P + np.outer(M[st:en, j], MB[:, j])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = P / np.outer(nrm[st:en], nrm[base_ix])
            lid = ids[st:en][:, None]
            rid = ids[base_ix][None, :]
            keep = lid != rid
            if cross_only:
                keep &= blk[st:en][:, None] != blk[base_ix][None, :]
            keep &= (cos >= tau) if tau is not None else ~np.isnan(cos)
            r, c = np.nonzero(keep)
            if not len(r):
                continue
            lv, rv = ids[st + r], ids[base_ix][c]
            out_a.append(np.minimum(lv, rv).astype(np.int64))
            out_b.append(np.maximum(lv, rv).astype(np.int64))
            out_c.append(cos[r, c])
        if not out_a:
            return empty
        return pd.DataFrame({
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cos": np.concatenate(out_c),
        })

    return run


def bucket_motif_pairs_pandas(cap: int = 64, wlen: int = 8, topk: int = 20):
    """applyInPandas worker for SAX-word motif pairs (events_motif_pairs'
    r9 hot path) — the bucket-local kernel pattern applied to time-series
    windows: input is a coarse hash-group of whole SAX-word buckets
    (word, user_id, event_id, wpos, z array<double>); per word holding
    2..cap windows, emit every non-overlapping a<b pair's z-distance.

    Why kernel-local: the r8 self-join form evaluated the
    events-scan + user-window + z-norm subtree FOUR times (rare-word
    count, semi-join, and both join sides — per-branch pruning defeats
    ReuseExchange, the dsir diagnosis), and the rare-word cap (<= cap
    windows per word) makes every bucket PARAMETER-BOUNDED, so
    group-local pair generation is the bounded-candidate contract
    (SCALE.md) in its LSH-bucket form. The cap also subsumes the
    HAVING count(*) <= cap filter: oversized words simply emit nothing.

    VALUE-EXACT: z values are computed JVM-side and cross Arrow as
    exact float64; zdist2 accumulates sequential over the wlen dims,
    vectorized over pairs (s = s + d_k * d_k, zero seed, increasing k)
    — the identical left-assoc IEEE chain as the chained JVM additions
    and the DuckDB oracle's list_reduce. Pairs orient (user, event)
    ascending lexicographically (array-sort inside), matching the
    oracle's a<b join convention; same-user pairs within wlen
    positions are dropped (trivial self-overlap).

    TOP-K pushdown: selection under the total order (zdist2 asc,
    user_a, event_a, user_b, event_b) is associative, so each kernel
    call emits only ITS top-k rows — the global TakeOrdered re-ranks
    <= topk x n_groups skinny rows instead of every candidate pair."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ("user_a", "event_a", "user_b", "event_b", "zdist2")
        acc: dict = {c: [] for c in cols}
        uid_all = pdf["user_id"].to_numpy()
        eid_all = pdf["event_id"].to_numpy()
        wpos_all = pdf["wpos"].to_numpy()
        Z_all = np.stack(pdf["z"].to_numpy()).astype(np.float64, copy=False)
        for ix in pdf.groupby("w", sort=False).indices.values():
            m = len(ix)
            if m < 2 or m > cap:
                continue
            uid, eid = uid_all[ix], eid_all[ix]
            order = np.lexsort((eid, uid))
            uid, eid = uid[order], eid[order]
            wpos = wpos_all[ix][order]
            Z = Z_all[ix][order]
            iu, jv = np.triu_indices(m, k=1)
            keep = ~((uid[iu] == uid[jv])
                     & (np.abs(wpos[iu] - wpos[jv]) < wlen))
            iu, jv = iu[keep], jv[keep]
            if not len(iu):
                continue
            s = np.zeros(len(iu), dtype=np.float64)
            for k in range(Z.shape[1]):  # sequential over dims = fold
                d = Z[iu, k] - Z[jv, k]
                s = s + d * d
            acc["user_a"].append(uid[iu])
            acc["event_a"].append(eid[iu])
            acc["user_b"].append(uid[jv])
            acc["event_b"].append(eid[jv])
            acc["zdist2"].append(s)
        if not acc["user_a"]:
            return pd.DataFrame({
                "user_a": pd.Series([], dtype="int64"),
                "event_a": pd.Series([], dtype="int64"),
                "user_b": pd.Series([], dtype="int64"),
                "event_b": pd.Series([], dtype="int64"),
                "zdist2": pd.Series([], dtype="float64"),
            })
        ua = np.concatenate(acc["user_a"]).astype(np.int64)
        ea = np.concatenate(acc["event_a"]).astype(np.int64)
        ub = np.concatenate(acc["user_b"]).astype(np.int64)
        eb = np.concatenate(acc["event_b"]).astype(np.int64)
        zd = np.concatenate(acc["zdist2"])
        sel = np.lexsort((eb, ub, ea, ua, zd))[:topk]
        return pd.DataFrame({
            "user_a": ua[sel], "event_a": ea[sel],
            "user_b": ub[sel], "event_b": eb[sel], "zdist2": zd[sel],
        })

    return run


def bucket_discord_nn_pandas(cap: int = 64, wlen: int = 8, topk: int = 10):
    """applyInPandas worker for SAX-word DISCORD search
    (events_discord_topk's r14 one-pass plan) — the motif kernel's dual:
    input is a coarse hash-group of whole SAX-word buckets
    (w, user_id, event_id, wpos, z array<double>); per word holding
    1..cap windows, emit EVERY window with its nearest-neighbor
    z-distance among same-word non-overlapping peers (NaN -> NULL when
    it has no valid peer — the strongest discord, unique word or
    all-overlapping holders).

    Why kernel-local: the r8-r13 join form evaluated the
    events-scan + user-window + z-norm subtree (_motif_zx) FOUR times —
    rare-word count, semi-join, and both SHUFFLE_HASH join sides;
    per-branch pruning defeats ReuseExchange (the dsir/motif diagnosis,
    plan-counted). The HAVING count(*) <= cap filter is subsumed by the
    kernel's cap (oversized words emit nothing, exactly the oracle's
    rare-word set), so the whole query is ONE subtree evaluation and
    ONE exchange.

    VALUE-EXACT: zdist2 uses the identical sequential fold as
    bucket_motif_pairs_pandas (s = s + d_k * d_k, zero seed, increasing
    k — the left-assoc IEEE chain of the JVM expressions and DuckDB's
    list_reduce); the per-window min over peers is order-free. NaN
    crosses the Arrow boundary as NULL (pandas NaN-as-null), matching
    the oracle's LEFT JOIN miss.

    TOP-K pushdown: selection under the total order (nn_dist DESC NULLS
    FIRST, user_id asc, event_id asc) is associative, so each kernel
    call emits only ITS top-k rows (NULL ranks strongest -> sorted as
    +inf); the global TakeOrdered re-ranks <= topk x n_groups rows."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        uid_all = pdf["user_id"].to_numpy()
        eid_all = pdf["event_id"].to_numpy()
        wpos_all = pdf["wpos"].to_numpy()
        Z_all = np.stack(pdf["z"].to_numpy()).astype(np.float64, copy=False)
        out_u, out_e, out_d = [], [], []
        for ix in pdf.groupby("w", sort=False).indices.values():
            m = len(ix)
            if m > cap:
                continue  # not a rare word: dropped entirely (oracle sx)
            uid, eid, wpos = uid_all[ix], eid_all[ix], wpos_all[ix]
            nn = np.full(m, np.inf)
            if m >= 2:
                Z = Z_all[ix]
                iu, jv = np.triu_indices(m, k=1)
                keep = ~((uid[iu] == uid[jv])
                         & (np.abs(wpos[iu] - wpos[jv]) < wlen))
                iu, jv = iu[keep], jv[keep]
                if len(iu):
                    s = np.zeros(len(iu), dtype=np.float64)
                    for k in range(Z.shape[1]):  # sequential dims = fold
                        d = Z[iu, k] - Z[jv, k]
                        s = s + d * d
                    np.minimum.at(nn, iu, s)
                    np.minimum.at(nn, jv, s)
            out_u.append(uid)
            out_e.append(eid)
            out_d.append(nn)
        if not out_u:
            return pd.DataFrame({
                "user_id": pd.Series([], dtype="int64"),
                "event_id": pd.Series([], dtype="int64"),
                "nn_dist": pd.Series([], dtype="float64"),
            })
        u = np.concatenate(out_u).astype(np.int64)
        e = np.concatenate(out_e).astype(np.int64)
        d = np.concatenate(out_d)
        # inf = no valid peer = NULL nn_dist; it sorts exactly where
        # NULLS FIRST puts it under DESC, so the pushdown order is the
        # global order
        sel = np.lexsort((e, u, -d))[:topk]
        d = d[sel]
        return pd.DataFrame({
            "user_id": u[sel], "event_id": e[sel],
            "nn_dist": np.where(np.isinf(d), np.nan, d),
        })

    return run


def cosine_topk_scan_pandas(query_vecs: list[list[float]], k: int,
                            exclude_ids=None):
    """mapInPandas worker factory over (vec_id, v): score every corpus
    vector against ALL queries (one (batch x dim) @ (dim x n_queries)
    matmul per Arrow batch) and emit only the LOCAL top-k rows per
    query, (qi, vec_id, cos), under the strict total order (cos desc,
    vec_id asc).

    Selection by a total order is associative, so the global top-k per
    query is always contained in the union of per-batch top-ks: a tiny
    global re-rank over <= k x n_batches skinny rows replaces a window over
    the full n x nq scored set — the EXACT scorer gets the same
    shuffle-bounded scan the PQ path has (functions/pq.topk_scan_pandas),
    with results bit-identical regardless of partitioning.
    ``exclude_ids[qi]`` drops that vec_id from query qi's candidates before
    selection (self-match never burns a slot)."""
    qm = np.asarray(query_vecs, dtype=np.float64).T   # (dim, n_q)
    qn = np.linalg.norm(qm, axis=0)

    def run(batches):
        for pdf in batches:
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            ids = pdf["vec_id"].to_numpy()
            scores = (m @ qm) / (np.linalg.norm(m, axis=1)[:, None] * qn[None, :])
            out = {"qi": [], "vec_id": [], "cos": []}
            for qi in range(qm.shape[1]):
                s, cand = scores[:, qi], ids
                if exclude_ids is not None:
                    keep = cand != exclude_ids[qi]
                    s, cand = s[keep], cand[keep]
                order = np.lexsort((cand, -s))[:k]
                out["qi"].extend([qi] * len(order))
                out["vec_id"].extend(cand[order].tolist())
                out["cos"].extend(s[order].tolist())
            yield pd.DataFrame(out)

    return run
