"""Persisted PQ index: build once, query many — the at-scale ANN contract.

``sim_topk_pq`` (registry/llm.py) is the AD-HOC path: it encodes the
corpus inside the query. At 100 TB you do not encode per query — the
index is a durable artifact:

    pq_codebooks:    the sampled codebook fit (driver, <= FIT_CAP
                     vectors), built once per corpus as the ``pq-books``
                     record; the ad-hoc path and the index share it.
    build_pq_index:  distributed encode -> a CODES parquet table
                     (vec_id, codes array<int>; ~64x smaller than the
                     vectors) + the ADC lookup tables of the family's
                     shared query set (``adc_w``).
    query_pq_index:  reads ``adc_w`` on the driver and ONLY the codes
                     table for the ADC scan (the raw-vector table is
                     touched just for the bounded rerank join), with
                     the same in-scan local-top-k pruning as the ad-hoc
                     path — bit-identical results (pytest-asserted).

The artifact layout mirrors FAISS-style index files re-expressed for a
lake: the heavy part (codes) is a queryable parquet table that any engine
can scan; the small parts (codebooks, lookup tables, probes) are a few KB
read on the driver and broadcast in task closures.
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import pq
from ..functions import vectors as V
from ..operators.windows import top_per_query
from ..sources import cache
from ..sources.catalog import Catalog, parquet_num_rows, query_vectors

# Every fit (PQ codebooks, IVF-PQ cells, the IVF k-means) sees at most
# FIT_CAP vectors: k-means quality saturates at a few hundred points per
# centroid, so a 100 TB corpus fits on a seeded sample once.
FIT_CAP = 4096
PQ_M, PQ_K = 8, 16  # subspaces, centroids per subspace
N_CELLS = 8         # IVF-PQ coarse cells
NPROBE = 2          # cells each IVF-PQ query opens
SHORTLIST = 64      # ADC candidates per query that reach the exact rerank
TOPK = 10

# Index artifacts live in the engine's one artifact store
# (sources/cache.py): directories are keyed on the source tables'
# content fingerprint, so a regenerated corpus gets a fresh directory
# and a rebuild. Every record (codes, codebooks, and the adc_w/probes
# tables of the shared query set) is written once, inside the private
# directory of cache.build; a query only reads. A per-kind
# `<kind>-current` SYMLINK is atomically re-pointed at whichever
# corpus' artifacts were used last; the registered DuckDB oracles
# replay the scan arithmetic by reading through the symlink under
# cache.ROOT (the engine always runs strictly before its oracle in the
# gate and in the driver).


def point_current(kind: str, d: str) -> None:
    """Atomically re-point ``<kind>-current`` (beside ``d``) at d, then
    garbage-collect same-kind sibling dirs that are no longer referenced
    — fingerprint-keyed dirs would otherwise accumulate one corpus-sized
    artifact set per regeneration, forever. Only names of the exact form
    ``<kind>-<tag>`` are collected, so another kind sharing the prefix
    (``ivfpq-incr`` under ``ivfpq``, or any other kind in the shared
    root) always survives. Safe under the single-writer protocol (the
    gate and the driver run queries sequentially)."""
    import shutil

    root = os.path.dirname(d)
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".{kind}-current.tmp")
    try:
        os.remove(tmp)
    except FileNotFoundError:
        pass
    os.symlink(d, tmp)
    os.replace(tmp, os.path.join(root, f"{kind}-current"))
    keep = os.path.basename(os.path.realpath(d))
    for name in os.listdir(root):
        p = os.path.join(root, name)
        if (name != keep and cache.is_entry(kind, name)
                and not os.path.islink(p) and os.path.isdir(p)):
            shutil.rmtree(p, ignore_errors=True)


def _write_small_parquet(dirpath: str, pdf) -> None:
    """Driver-side write of a tiny (parameter-bounded) table into a
    private build directory — no Spark job for a few hundred rows."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    os.makedirs(dirpath, exist_ok=True)
    papq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                     os.path.join(dirpath, "part-0.parquet"))


def fit_sample(df: DataFrame, n: int) -> DataFrame:
    """``df`` (``n`` rows) capped at FIT_CAP rows by a seeded Bernoulli
    sample; 1.1x headroom so the draw almost surely reaches the cap."""
    if n <= FIT_CAP:
        return df
    return df.sample(fraction=min(1.0, 1.1 * FIT_CAP / n),
                     seed=42).limit(FIT_CAP)


def pq_codebooks(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """The PQ codebooks of the l2-normalized embeddings, fit once per
    corpus content into the ``pq-books`` record (``codebooks.json``) and
    read back from it on every call. Arrow ``toPandas`` of the capped
    sample plus the in-driver ``l2_normalize_np_seq``: the same rows and
    doubles as the JVM-normalized form."""
    def build(out):
        e = Catalog(spark, sf_dir).table("embeddings")
        sample = fit_sample(e.select("embedding"),
                            parquet_num_rows(sf_dir, "embeddings"))
        books = pq.fit_codebooks(
            V.l2_normalize_np_seq(
                np.stack(sample.toPandas()["embedding"].to_numpy())),
            m=PQ_M, k=PQ_K, iters=10, seed=42)
        os.makedirs(out)
        with open(os.path.join(out, "codebooks.json"), "w") as f:
            json.dump(books.tolist(), f)

    d, _ = cache.build("pq-books", "v1",
                       cache.fingerprint(sf_dir, ("embeddings",)), build)
    with open(os.path.join(d, "codebooks.json")) as f:
        return np.array(json.load(f), dtype=np.float64)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    # two-step projection (r15 — the r14 cast-once discipline): an
    # inline as_double re-evaluates the whole array transform per
    # element access inside l2_normalize's folds
    return e.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v"),
    ).select("vec_id", "v", V.l2_normalize(F.col("v")).alias("nv"))


def _normalized_queries(sf_dir: str):
    """The shared query set's ids and l2-normalized vectors."""
    qrows = query_vectors(sf_dir)
    return ([q for q, _ in qrows],
            V.l2_normalize_np_seq(np.array([v for _, v in qrows])))


def build_pq_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Encode + persist into ``index_dir`` (a private build dir of the
    artifact store): the codes table and the shared query set's
    ``adc_w`` tables."""
    books = pq_codebooks(spark, sf_dir)
    _corpus(spark, sf_dir).select(
        "vec_id", pq.encode_pandas(books)(F.col("nv")).alias("codes")
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))
    q_ids, qmat = _normalized_queries(sf_dir)
    _write_adc_w(index_dir, q_ids, pq.adc_tables(qmat, books))


def _read_adc_w(index_dir: str):
    """``(q_ids, tables)`` of the ``adc_w`` record, tables (nq, m, k)."""
    import pyarrow.parquet as papq

    t = papq.read_table(os.path.join(index_dir, "adc_w")).sort_by(
        [("q_id", "ascending"), ("sub", "ascending"), ("code", "ascending")])
    q_ids = sorted(set(t.column("q_id").to_pylist()))
    return q_ids, t.column("w").to_numpy().reshape(len(q_ids), PQ_M, PQ_K)


def query_pq_index(spark: SparkSession, sf_dir: str,
                   index_dir: str) -> DataFrame:
    """Top-k per query vector from the PERSISTED index. The corpus-sized
    scan reads the skinny codes table; raw vectors enter only the
    <= SHORTLIST-per-query rerank join."""
    q_ids, tables = _read_adc_w(index_dir)
    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    local_topk = _scan_to_qids(codes.mapInPandas(
        pq.topk_scan_pandas(tables, k=SHORTLIST, exclude_ids=q_ids),
        schema="qi int, vec_id long, adc double",
    ), q_ids)
    return _rerank_topk(spark, sf_dir, local_topk)


def _scan_to_qids(scanned: DataFrame, q_ids) -> DataFrame:
    """Map a scan kernel's positional query index back to vec_ids."""
    id_map = F.array(*[F.lit(q) for q in q_ids])
    return scanned.select(
        F.element_at(id_map, F.col("qi") + 1).alias("q_id"), "vec_id", "adc"
    )


def _rerank_topk(spark: SparkSession, sf_dir: str,
                 local_topk: DataFrame) -> DataFrame:
    """Shared shortlist → exact-cosine rerank → top-k tail of both
    persisted-index query paths (r13 review: query_pq_index and
    query_ivfpq_index carried byte-identical copies, so a tie-break or
    rounding contract fix had to land twice). ADC shortlist under the
    (adc desc, vec_id asc) total order, exact rerank on <= SHORTLIST
    rows per query against the raw vectors, final (cos_sim desc,
    vec_id asc) top-k — the round(6) contract the oracles replay."""
    candidates = top_per_query(local_topk, "adc", SHORTLIST).select(
        "q_id", "vec_id")
    qdf = spark.createDataFrame(query_vectors(sf_dir),
                                "q_id long, qv array<double>")
    reranked = (
        candidates.join(_corpus(spark, sf_dir).select("vec_id", "v"),
                        on="vec_id")
        .join(F.broadcast(qdf), on="q_id")
        .select(
            "q_id", "vec_id",
            F.round(V.cosine(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    return top_per_query(reranked, "cos_sim", TOPK).select(
        "q_id", "vec_id", "cos_sim")


def _write_adc_w(index_dir: str, q_ids, tables: np.ndarray) -> None:
    """Persist the per-query ADC lookup tables as a (q_id, sub, code, w)
    parquet record — nq x m x k rows (640 for the 5-query set). The
    engine's scan and the DuckDB oracle both read this exact record:
    adc(q, vec) = fold over subs of w[q, sub, codes[vec][sub]] with a
    0.0 seed, the same left-associated chain `adc_scores` accumulates
    (out = 0; out += table[mi]), so the doubles are bit-identical
    across engines."""
    import pandas as pd

    nq, m, k = tables.shape
    _write_small_parquet(
        os.path.join(index_dir, "adc_w"),
        pd.DataFrame({
            "q_id": np.repeat(np.array(q_ids, dtype=np.int64), m * k),
            "sub": np.tile(np.repeat(np.arange(m, dtype=np.int32), k), nq),
            "code": np.tile(np.arange(k, dtype=np.int32), nq * m),
            "w": tables.reshape(-1),
        }),
    )


# ------------------------------------------------------------- IVF-PQ

def _encode_with(cents: np.ndarray, books: np.ndarray):
    """mapInPandas encoder bound to FIXED coarse centroids + PQ codebooks
    — shared by the full build and the incremental batch append (the
    append MUST reuse the frozen codebooks: re-fitting would silently
    re-key every existing code)."""
    import pandas as pd

    def encode_run(batches):
        for pdf in batches:
            mat = np.array(pdf["nv"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            dd = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            cell = dd.argmin(axis=1)
            codes = pq.encode(mat - cents[cell], books)
            yield pd.DataFrame({
                "vec_id": ids, "cell": cell.astype(np.int32),
                "codes": list(codes),
            })

    return encode_run


def append_ivfpq_batch(spark: SparkSession, sf_dir: str, index_dir: str,
                       id_filter) -> None:
    """Incremental IVF-PQ maintenance: encode a new-vector batch with the
    index's FROZEN manifest codebooks and APPEND the codes into their
    cell partitions — O(batch) files added, zero base files rewritten
    (the text-index append contract at the vector layer). ``id_filter``
    is a Column predicate selecting the batch rows. The centroids and
    codebooks stay fixed, so the base build's ``adc_w`` and ``probes``
    records stay valid.

    CALLER CONTRACT: the append itself is NOT idempotent — a retried
    batch duplicates vec_ids in the codes table, which makes the engine
    top-k emit duplicate (q_id, vec_id) rows while the replay oracle's
    GROUP BY folds them into one doubled ADC score (a guaranteed gate
    divergence). q_sim_index_incremental therefore builds and appends
    inside one private artifact-store build, which publishes the index
    only after the append succeeded."""
    with open(os.path.join(index_dir, "ivfpq.json")) as f:
        manifest = json.load(f)
    cents = np.array(manifest["cents"], dtype=np.float64)
    books = np.array(manifest["books"], dtype=np.float64)
    (
        _corpus(spark, sf_dir).filter(id_filter).select("vec_id", "nv")
        .mapInPandas(_encode_with(cents, books),
                     schema="vec_id long, cell int, codes array<int>")
        .write.mode("append").partitionBy("cell")
        .parquet(os.path.join(index_dir, "codes"))
    )


def build_ivfpq_index(spark: SparkSession, sf_dir: str, index_dir: str,
                      id_filter=None) -> dict:
    """FAISS-style IVF-PQ composed for a lake (Jegou et al. §V: coarse
    quantizer + product-quantized RESIDUALS):

    - coarse centroids fit on the bounded sample (k-means via the same
      deterministic per-subspace Lloyd core, m=1);
    - every vector is assigned to its nearest cell and its RESIDUAL
      (v - centroid) is PQ-encoded — residual codebooks are tighter than
      raw-vector codebooks because cells remove the coarse structure;
    - the codes table persists PARTITIONED BY CELL: the inverted lists
      ARE hive partitions, so probing NPROBE cells is parquet partition
      pruning — unprobed directories are never opened (plan-asserted in
      tests). At 100 TB each cell is further split into many files and
      the scan parallelism stays full;
    - the shared query set's records persist beside the codes: ``adc_w``
      (one (m x k) residual lookup table per query) and ``probes`` (the
      NPROBE cells each query opens, with the per-(query, cell) ADC
      constant q·cent).
    """
    import pandas as pd

    corpus = _corpus(spark, sf_dir)
    if id_filter is not None:
        corpus = corpus.filter(id_filter)
        n = corpus.count()  # filtered count — the footer can't know it
    else:
        n = parquet_num_rows(sf_dir, "embeddings")  # footer, no Spark job
    sample = np.array([r.nv for r in
                       fit_sample(corpus.select("nv"), n).collect()])
    cents = pq.fit_codebooks(sample, m=1, k=N_CELLS, iters=10, seed=7)[0]
    # residuals of the SAME sample fit the PQ codebooks
    d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    books = pq.fit_codebooks(sample - cents[assign], m=PQ_M, k=PQ_K,
                             iters=10, seed=42)

    (
        corpus.select("vec_id", "nv")
        .mapInPandas(_encode_with(cents, books),
                     schema="vec_id long, cell int, codes array<int>")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(os.path.join(index_dir, "codes"))
    )
    manifest = {"cents": cents.tolist(), "books": books.tolist()}
    with open(os.path.join(index_dir, "ivfpq.json"), "w") as f:
        json.dump(manifest, f)

    q_ids, qmat = _normalized_queries(sf_dir)
    _write_adc_w(index_dir, q_ids, pq.adc_tables(qmat, books))
    # NPROBE nearest cells per query by true euclidean distance (the
    # assignment metric); the oracle replays adc = fold(residual ws) +
    # qcent, the engine's exact association
    cell_const = qmat @ cents.T
    dd = ((qmat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    _write_small_parquet(
        os.path.join(index_dir, "probes"),
        pd.DataFrame(
            [(int(q), int(c), float(cell_const[qi, c]))
             for qi, q in enumerate(q_ids)
             for c in np.argsort(dd[qi])[:NPROBE]],
            columns=["q_id", "cell", "qcent"],
        ),
    )
    return manifest


def query_ivfpq_index(spark: SparkSession, sf_dir: str,
                      index_dir: str) -> DataFrame:
    """Top-k from the persisted IVF-PQ index. ADC decomposition for
    residual codes: q·x = q·cent(cell) + q·residual, so each query needs
    ONE (m x k) residual lookup table plus a per-cell scalar constant —
    cross-cell candidate ranking stays consistent. Both come from the
    build's ``adc_w`` and ``probes`` records. The codes scan is
    partition-pruned to the union of all queries' probed cells."""
    import pandas as pd
    import pyarrow.parquet as papq

    q_ids, tables = _read_adc_w(index_dir)
    # (n_queries, n_cells) probe membership and q·cent lookups: one
    # fancy-index per batch row instead of a per-row Python generator on
    # the hot distributed scan (r13 review)
    probe_bool = np.zeros((len(q_ids), N_CELLS), dtype=bool)
    cell_const = np.zeros((len(q_ids), N_CELLS), dtype=np.float64)
    for r in papq.read_table(os.path.join(index_dir, "probes")).to_pylist():
        qi = q_ids.index(r["q_id"])
        probe_bool[qi, r["cell"]] = True
        cell_const[qi, r["cell"]] = r["qcent"]

    def scan_run(batches):
        for pdf in batches:
            codes = np.array(pdf["codes"].tolist(), dtype=np.int32)
            ids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            res_scores = pq.adc_scores(codes, tables)   # (n, nq)
            out = {"qi": [], "vec_id": [], "adc": []}
            for qi in range(len(q_ids)):
                keep = probe_bool[qi, cells]
                keep = keep & (ids != q_ids[qi])  # self-match never burns a slot
                s = res_scores[keep, qi] + cell_const[qi, cells[keep]]
                cand = ids[keep]
                order = np.lexsort((cand, -s))[:SHORTLIST]
                out["qi"].extend([qi] * len(order))
                out["vec_id"].extend(cand[order].tolist())
                out["adc"].extend(s[order].tolist())
            yield pd.DataFrame(out)

    codes = spark.read.parquet(os.path.join(index_dir, "codes")).filter(
        F.col("cell").isin(np.flatnonzero(probe_bool.any(axis=0)).tolist())
    )
    local_topk = _scan_to_qids(codes.mapInPandas(
        scan_run, schema="qi int, vec_id long, adc double",
    ), q_ids)
    return _rerank_topk(spark, sf_dir, local_topk)
