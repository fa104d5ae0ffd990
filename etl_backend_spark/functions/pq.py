"""Product quantization (PQ) for the similarity family: the memory-bound
ANN scale path.

At 100 TB the raw vectors don't fit executor memory: a 64-dim float64
embedding is 512 bytes, its PQ code is M (=8) small ints — a ~64-128x
compression that lets the whole corpus's codes live in memory while the
raw vectors stay on disk for the final rerank only. The pipeline is the
standard IVF-ADC shape (Jegou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011):

1. FIT: per-subspace k-means codebooks on a bounded seeded sample
   (never the full corpus — same contract as the IVF coarse quantizer).
2. ENCODE: every corpus vector -> M nearest-centroid ids, computed
   distributed in an Arrow-batched pandas UDF (one numpy argmin per
   subspace per batch; the codebooks ride the closure, ~KBs).
3. ADC SCAN: per query, an (M x K) inner-product lookup table; a code's
   approximate score is M table lookups summed — no float vector math
   per candidate. Distributed, vectorized (numpy fancy-indexing per batch).
4. RERANK: exact cosine on the top-(rerank) candidates by ADC. The
   ad-hoc query path does it INSIDE the scan (``encode_topk_scan_pandas``):
   each batch still holds its raw vectors, so its local top-(rerank)
   rows leave the kernel with their exact cosine and the corpus is read
   once; the global shortlist (top-(rerank) by ADC) is always inside the
   union of the local ones, so a window picks it and the final top-k
   from those rows alone. The persisted-index path
   (``ann/index._rerank_topk``) keeps its rerank join on purpose: its
   scan reads stored codes, not raw vectors.

Everything is deterministic (seeded init, fixed Lloyd iteration count,
ties broken by lowest index) so results are stable across runs and
cluster layouts; cross-engine float reproducibility is still out of reach
for k-means, so the registry row is rows-only and recall vs
``sim_topk_brute`` is pytest-asserted, same as IVF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType


def fit_codebooks(sample: np.ndarray, m: int = 8, k: int = 16,
                  iters: int = 10, seed: int = 42) -> np.ndarray:
    """Per-subspace Lloyd k-means -> codebooks of shape (m, k, d // m).

    Deterministic: seeded distinct-row init, fixed iteration count, empty
    clusters re-seeded from the farthest points. ``sample`` is the bounded
    fit set (cap it BEFORE calling; a 100 TB corpus fits on a ~4k-row
    sample and persists the codebooks next to the index)."""
    n, d = sample.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, sub), dtype=np.float64)
    for mi in range(m):
        x = sample[:, mi * sub:(mi + 1) * sub]
        cent = x[rng.choice(n, size=k, replace=n < k)].copy()
        for _ in range(iters):
            # (n, k) squared distances; argmin ties -> lowest centroid id
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    cent[ci] = x[mask].mean(axis=0)
                else:  # dead centroid: re-seed from the farthest point
                    cent[ci] = x[d2.min(axis=1).argmax()]
        books[mi] = cent
    return books


def encode(vecs: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Vectors (n, d) -> codes (n, m) int32: nearest centroid per subspace."""
    n, d = vecs.shape
    m, k, sub = books.shape
    codes = np.empty((n, m), dtype=np.int32)
    for mi in range(m):
        x = vecs[:, mi * sub:(mi + 1) * sub]
        d2 = ((x[:, None, :] - books[mi][None, :, :]) ** 2).sum(axis=2)
        codes[:, mi] = d2.argmin(axis=1)
    return codes


def adc_tables(queries: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-query inner-product lookup tables (nq, m, k): table[q, mi, ci] =
    dot(query subvector mi, centroid ci). A code's approximate dot product
    with the query is the sum of its m lookups (exact if the vector sat ON
    its centroids; the quantization error is what rerank repairs)."""
    nq, d = queries.shape
    m, k, sub = books.shape
    out = np.empty((nq, m, k), dtype=np.float64)
    for mi in range(m):
        out[:, mi, :] = queries[:, mi * sub:(mi + 1) * sub] @ books[mi].T
    return out


def encode_pandas(books: np.ndarray):
    """Arrow-batched encoder UDF: array<double> vector -> array<int> codes.
    The codebooks (~KBs) ride the task closure — the broadcast-artifact
    shape at cluster scale."""

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode_udf(vs: pd.Series) -> pd.Series:
        mat = np.array(vs.tolist(), dtype=np.float64)
        return pd.Series(list(encode(mat, books)))

    return encode_udf


def topk_scan_pandas(tables: np.ndarray, k: int, exclude_ids=None):
    """mapInPandas worker factory: ADC-score each batch and emit only the
    LOCAL top-k rows per query — (qi, vec_id, adc) — under the strict total
    order (adc desc, vec_id asc).

    This is the at-scale candidate selection: selection by a total order is
    associative (the global top-k is always contained in the union of
    per-batch top-ks), so a tiny global re-rank over <= k x n_batches rows
    per query replaces a window over the full n x nq scored set — at 100 TB
    the corpus-sized rows never reach a shuffle, exactly the per-shard
    pruning a FAISS-style index does. Result is bit-identical to the
    single-phase window REGARDLESS of partitioning (vec_id breaks all ties).

    ``exclude_ids[qi]`` (optional) drops that vec_id from query qi's
    candidates BEFORE local selection, so a self-match never burns a slot."""

    def run(batches):
        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int32)
            ids = pdf["vec_id"].to_numpy()
            scores = adc_scores(codes, tables)          # (n, nq)
            out = {"qi": [], "vec_id": [], "adc": []}
            for qi in range(tables.shape[0]):
                s, cand = scores[:, qi], ids
                if exclude_ids is not None:
                    keep = cand != exclude_ids[qi]
                    s, cand = s[keep], cand[keep]
                # total order: adc desc, vec_id asc
                order = np.lexsort((cand, -s))[:k]
                out["qi"].extend([qi] * len(order))
                out["vec_id"].extend(cand[order].tolist())
                out["adc"].extend(s[order].tolist())
            yield pd.DataFrame(out)

    return run


def adc_scores(codes: np.ndarray, tables: np.ndarray) -> np.ndarray:
    """Approximate scores (n, nq) for corpus codes (n, m) against all query
    tables (nq, m, k) — pure fancy-indexing, no per-candidate vector math."""
    n, m = codes.shape
    nq = tables.shape[0]
    out = np.zeros((n, nq), dtype=np.float64)
    for mi in range(m):
        # tables[:, mi, :] is (nq, k); codes[:, mi] picks (n,) per query
        out += tables[:, mi, codes[:, mi]].T
    return out


def encode_topk_scan_pandas(books: np.ndarray, queries: np.ndarray, k: int,
                            exclude_ids=None):
    """Fused query-time worker: normalize + encode + ADC-score + local top-k
    + exact rerank in ONE mapInPandas pass over (vec_id, embedding).

    ``queries`` are the RAW query vectors (nq, d); their ADC tables are
    built here from the ``l2_normalize_np_seq`` fold. Each Arrow batch
    takes the RAW float32 ``embedding`` column, l2-normalizes it in-kernel
    (bit-identical to the JVM ``l2_normalize`` chain), encodes it, and
    keeps its local top-k per query under (adc desc, vec_id asc), as
    ``topk_scan_pandas`` does. The kept rows leave with the exact cosine
    of the raw query and corpus vectors (``vectors.cosine_np_seq``,
    bit-identical to the JVM ``cosine``): (qi, vec_id, adc, cos). The
    global top-k by ADC is inside the union of the local ones, so the
    caller's windows need no second corpus read and no rerank join.
    ``encode_pandas`` remains the INDEX-BUILD path, where codes are
    materialized once and amortized across queries."""
    from .vectors import cosine_np_seq, l2_normalize_np_seq

    queries = np.asarray(queries, dtype=np.float64)
    tables = adc_tables(l2_normalize_np_seq(queries), books)

    def run(batches):
        for pdf in batches:
            raw = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            codes = encode(l2_normalize_np_seq(raw), books)
            scores = adc_scores(codes, tables)
            out = {"qi": [], "vec_id": [], "adc": [], "cos": []}
            for qi in range(len(queries)):
                rows = np.arange(len(ids))
                if exclude_ids is not None:
                    rows = rows[ids != exclude_ids[qi]]
                s = scores[rows, qi]
                top = rows[np.lexsort((ids[rows], -s))[:k]]
                out["qi"].extend([qi] * len(top))
                out["vec_id"].extend(ids[top].tolist())
                out["adc"].extend(scores[top, qi].tolist())
                out["cos"].extend(
                    cosine_np_seq(raw[top], queries[qi]).tolist())
            yield pd.DataFrame(out)

    return run
