"""Persisted PQ index: build once, query many — the at-scale ANN contract.

``sim_topk_pq`` (registry/llm.py) is the AD-HOC path: it fits codebooks and
encodes the corpus inside the query. At 100 TB you do neither per query —
the index is a durable artifact:

    build_pq_index:  sampled codebook fit (driver, ~4k vectors) +
                     distributed encode -> a CODES parquet table
                     (vec_id, codes array<int>; ~64x smaller than the
                     vectors) + the codebook tensor saved next to it.
    query_pq_index:  reads ONLY the codes table for the ADC scan (the
                     raw-vector table is touched just for the bounded
                     rerank join), loads the codebook artifact, and runs
                     the same in-scan local-top-k pruning as the ad-hoc
                     path — bit-identical results (pytest-asserted).

The artifact layout mirrors FAISS-style index files re-expressed for a
lake: the heavy part (codes) is a queryable parquet table that any engine
can scan; the small part (codebooks, a few KB) is a JSON sidecar that
rides task closures as a broadcast.
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import pq
from ..functions import vectors as V
from ..sources import cache

_FIT_CAP = 4096

# Index artifacts live in the engine's one artifact store
# (sources/cache.py): directories are keyed on the source tables'
# content fingerprint, so a regenerated corpus gets a fresh directory
# and a rebuild. Every build-once record (indexes, fitted models and
# the decision records the replay oracles read) is written once,
# through cache.build. The one write into a published directory is the
# per-query adc_w/probes tables of query_pq_index/query_ivfpq_index. A
# per-kind `<kind>-current` SYMLINK is atomically re-pointed at
# whichever corpus' artifacts were used last; the registered DuckDB
# oracles replay the scan arithmetic by reading through the symlink
# under cache.ROOT (the engine always runs strictly before its oracle
# in the gate and in the driver).


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
    """Driver-side write of a tiny (parameter-bounded) artifact table —
    no Spark job for a few hundred rows. Inside a ``cache.build`` the
    directory is private; the per-query adc_w/probes tables are written
    into a published index directory, where two same-user sessions may
    write at once. So the tmp name is process+uuid-unique and
    ``os.replace`` puts only a whole file in place (a FIXED name let two
    sessions interleave truncating writes and publish a torn
    parquet)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as papq

    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(
        dirpath,
        f"._part-0.parquet.tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    papq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, os.path.join(dirpath, "part-0.parquet"))


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import Catalog

    e = Catalog(spark, sf_dir).table("embeddings")
    # two-step projection (r15 — the r14 cast-once discipline): an
    # inline as_double re-evaluates the whole array transform per
    # element access inside l2_normalize's folds
    return e.select(
        "vec_id", V.as_double(F.col("embedding")).alias("v"),
    ).select("vec_id", "v", V.l2_normalize(F.col("v")).alias("nv"))


def build_pq_index(spark: SparkSession, sf_dir: str, index_dir: str,
                   m: int = 8, k: int = 16) -> dict:
    """Fit + encode + persist into ``index_dir`` (a private build dir of
    the artifact store). Returns the manifest dict."""
    from ..sources.catalog import parquet_num_rows

    corpus = _corpus(spark, sf_dir)
    n = parquet_num_rows(sf_dir, "embeddings")  # footer, no Spark job
    fit_df = corpus.select("nv")
    if n > _FIT_CAP:
        fit_df = fit_df.sample(fraction=min(1.0, 1.1 * _FIT_CAP / n),
                               seed=42).limit(_FIT_CAP)
    sample = np.array([r.nv for r in fit_df.collect()])
    books = pq.fit_codebooks(sample, m=m, k=k, iters=10, seed=42)

    corpus.select(
        "vec_id", pq.encode_pandas(books)(F.col("nv")).alias("codes")
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))

    manifest = {"m": m, "k": k, "n": n, "dim": int(sample.shape[1]),
                "books": books.tolist()}
    with open(os.path.join(index_dir, "codebooks.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def load_codebooks(index_dir: str) -> np.ndarray:
    with open(os.path.join(index_dir, "codebooks.json")) as f:
        return np.array(json.load(f)["books"], dtype=np.float64)


def query_pq_index(spark: SparkSession, sf_dir: str, index_dir: str,
                   n_queries: int = 5, topk: int = 10,
                   shortlist: int = 64) -> DataFrame:
    """Top-k per query vector from the PERSISTED index. The corpus-sized
    scan reads the skinny codes table; raw vectors enter only the
    <= shortlist-per-query rerank join."""
    books = load_codebooks(index_dir)
    corpus = _corpus(spark, sf_dir)
    qrows = sorted(
        (r.vec_id, [float(x) for x in r.v], np.array(r.nv))
        for r in corpus.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "v", "nv").collect()
    )
    q_ids = [q for q, _, _ in qrows]
    tables = pq.adc_tables(np.stack([nv for _, _, nv in qrows]), books)
    _write_adc_w(index_dir, q_ids, tables)

    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    local_topk = _scan_to_qids(codes.mapInPandas(
        pq.topk_scan_pandas(tables, k=shortlist, exclude_ids=q_ids),
        schema="qi int, vec_id long, adc double",
    ), q_ids)
    return _rerank_topk(spark, corpus, qrows, local_topk, shortlist, topk)


def _scan_to_qids(scanned: DataFrame, q_ids) -> DataFrame:
    """Map a scan kernel's positional query index back to vec_ids."""
    id_map = F.array(*[F.lit(q) for q in q_ids])
    return scanned.select(
        F.element_at(id_map, F.col("qi") + 1).alias("q_id"), "vec_id", "adc"
    )


def _rerank_topk(spark: SparkSession, corpus: DataFrame, qrows,
                 local_topk: DataFrame, shortlist: int,
                 topk: int) -> DataFrame:
    """Shared shortlist → exact-cosine rerank → top-k tail of both
    persisted-index query paths (r13 review: query_pq_index and
    query_ivfpq_index carried byte-identical copies, so a tie-break or
    rounding contract fix had to land twice). ADC shortlist under the
    (adc desc, vec_id asc) total order, exact rerank on <= shortlist
    rows per query against the raw vectors, final (cos_sim desc,
    vec_id asc) top-k — the round(6) contract the oracles replay."""
    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc").desc(),
                                               F.col("vec_id").asc())
    candidates = (
        local_topk.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= shortlist)
        .select("q_id", "vec_id")
    )
    qdf = spark.createDataFrame(
        [(q, v) for q, v, _ in qrows], "q_id long, qv array<double>",
    )
    reranked = (
        candidates.join(corpus.select("vec_id", "v"), on="vec_id")
        .join(F.broadcast(qdf), on="q_id")
        .select(
            "q_id", "vec_id",
            F.round(V.cosine(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(),
                                           F.col("vec_id").asc())
    return (
        reranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("q_id", "vec_id", "cos_sim")
    )


def _write_adc_w(index_dir: str, q_ids, tables: np.ndarray) -> None:
    """Persist the per-query ADC lookup tables as a (q_id, sub, code, w)
    parquet artifact — nq x m x k rows (parameter-bounded: 640 at the
    defaults). The DuckDB oracle replays the engine's ADC scan from this
    exact artifact: adc(q, vec) = fold over subs of w[q, sub,
    codes[vec][sub]] with a 0.0 seed, the same left-associated chain
    `adc_scores` accumulates (out = 0; out += table[mi]), so the doubles
    are bit-identical across engines."""
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
    is a Column predicate selecting the batch rows.

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
                      n_cells: int = 8, m: int = 8, k: int = 16,
                      id_filter=None) -> dict:
    """FAISS-style IVF-PQ composed for a lake (Jegou et al. §V: coarse
    quantizer + product-quantized RESIDUALS):

    - coarse centroids fit on the bounded sample (k-means via the same
      deterministic per-subspace Lloyd core, m=1);
    - every vector is assigned to its nearest cell and its RESIDUAL
      (v - centroid) is PQ-encoded — residual codebooks are tighter than
      raw-vector codebooks because cells remove the coarse structure;
    - the codes table persists PARTITIONED BY CELL: the inverted lists
      ARE hive partitions, so probing nprobe cells is parquet partition
      pruning — unprobed directories are never opened (plan-asserted in
      tests). At 100 TB each cell is further split into many files and
      the scan parallelism stays full.
    """
    from ..sources.catalog import parquet_num_rows

    corpus = _corpus(spark, sf_dir)
    if id_filter is not None:
        corpus = corpus.filter(id_filter)
        n = corpus.count()  # filtered count — the footer can't know it
    else:
        n = parquet_num_rows(sf_dir, "embeddings")  # footer, no Spark job
    fit_df = corpus.select("nv")
    if n > _FIT_CAP:
        fit_df = fit_df.sample(fraction=min(1.0, 1.1 * _FIT_CAP / n),
                               seed=42).limit(_FIT_CAP)
    sample = np.array([r.nv for r in fit_df.collect()])
    cents = pq.fit_codebooks(sample, m=1, k=n_cells, iters=10, seed=7)[0]
    # residuals of the SAME sample fit the PQ codebooks
    d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    books = pq.fit_codebooks(sample - cents[assign], m=m, k=k,
                             iters=10, seed=42)

    (
        corpus.select("vec_id", "nv")
        .mapInPandas(_encode_with(cents, books),
                     schema="vec_id long, cell int, codes array<int>")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(os.path.join(index_dir, "codes"))
    )
    manifest = {"n_cells": n_cells, "m": m, "k": k, "n": n,
                "dim": int(sample.shape[1]),
                "cents": cents.tolist(), "books": books.tolist()}
    with open(os.path.join(index_dir, "ivfpq.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def query_ivfpq_index(spark: SparkSession, sf_dir: str, index_dir: str,
                      n_queries: int = 5, topk: int = 10,
                      shortlist: int = 64, nprobe: int = 2) -> DataFrame:
    """Top-k from the persisted IVF-PQ index. ADC decomposition for
    residual codes: q·x = q·cent(cell) + q·residual, so each query needs
    ONE (m x k) residual lookup table plus a per-cell scalar constant —
    cross-cell candidate ranking stays consistent. The codes scan is
    partition-pruned to the union of all queries' nprobe cells."""
    import pandas as pd

    with open(os.path.join(index_dir, "ivfpq.json")) as f:
        man = json.load(f)
    cents = np.array(man["cents"], dtype=np.float64)
    books = np.array(man["books"], dtype=np.float64)
    corpus = _corpus(spark, sf_dir)
    qrows = sorted(
        (r.vec_id, [float(x) for x in r.v], np.array(r.nv))
        for r in corpus.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "v", "nv").collect()
    )
    q_ids = [q for q, _, _ in qrows]
    qmat = np.stack([nv for _, _, nv in qrows])
    tables = pq.adc_tables(qmat, books)          # (nq, m, k) residual tables
    cell_const = qmat @ cents.T                   # (nq, n_cells)
    # nprobe nearest cells per query BY DOT PRODUCT (normalized queries:
    # max dot == min euclidean on the unit sphere up to centroid norms;
    # use true euclidean for fidelity to the assignment metric)
    dd = ((qmat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probed = [np.argsort(dd[qi])[:nprobe].tolist()
              for qi in range(len(q_ids))]
    probe_union = sorted({c for ps in probed for c in ps})
    # (n_queries, n_cells) boolean lookup: probe membership per batch row
    # is one fancy-index instead of a per-row Python generator (the old
    # np.fromiter ran rows x n_queries interpreter-speed set lookups on
    # the hot distributed scan — r13 review)
    probe_bool = np.zeros((len(q_ids), cents.shape[0]), dtype=bool)
    for qi, ps in enumerate(probed):
        probe_bool[qi, ps] = True
    _write_adc_w(index_dir, q_ids, tables)
    # probes artifact: which cells each query opens,
    # plus the per-(query, cell) ADC constant q·cent — the oracle replays
    # adc = fold(residual ws) + qcent, the engine's exact association
    _write_small_parquet(
        os.path.join(index_dir, "probes"),
        pd.DataFrame(
            [(int(q_ids[qi]), int(c), float(cell_const[qi, c]))
             for qi in range(len(q_ids)) for c in probed[qi]],
            columns=["q_id", "cell", "qcent"],
        ),
    )

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
                order = np.lexsort((cand, -s))[:shortlist]
                out["qi"].extend([qi] * len(order))
                out["vec_id"].extend(cand[order].tolist())
                out["adc"].extend(s[order].tolist())
            yield pd.DataFrame(out)

    codes = spark.read.parquet(os.path.join(index_dir, "codes")).filter(
        F.col("cell").isin([int(c) for c in probe_union])
    )
    local_topk = _scan_to_qids(codes.mapInPandas(
        scan_run, schema="qi int, vec_id long, adc double",
    ), q_ids)
    return _rerank_topk(spark, corpus, qrows, local_topk, shortlist, topk)
