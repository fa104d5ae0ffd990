"""Deterministic inputs for the benchmark.

Two table sets with the catalog's schemas (``sources/catalog.SCHEMAS``):

- ``sf0.1``: the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``, regenerated here with the row counts, key domains and
  value distributions of the project's sf0.1 test drop (uniform keys, 5%
  near-duplicate and 8 exact-duplicate documents over a 30-word vocabulary,
  unit-norm embeddings with labels independent of the vectors).
  ``tests/test_datagen.py`` compares the two table by table where the drop
  is installed. The benchmark reads only files of its own checkout, so it
  builds this set instead of reading the drop.
- ``sf1``: ``scripts/make_sf1.py``'s ten key-shifted replicas of ``sf0.1``,
  built by running that script on the set above.

The data is fixed (``DATA_SEED``); the workload seed only drives the
operation streams. The output is cached under
``perfbench/.data/<fingerprint>/`` where the fingerprint hashes this file
and ``make_sf1.py``, so editing either rebuilds the data.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
DATA_ROOT = Path(__file__).resolve().parent / ".data"
MAKE_SF1 = Path(__file__).resolve().parent.parent / "scripts" / "make_sf1.py"
MAKE_SF1_TIMEOUT_S = 600

N = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "anvil", "widget", "gizmo", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["es"] * 3 + ["fr"] * 3 + ["zh"] * 3 + ["de"] * 3
EMB_DIM = 64
DAY_US = 86_400 * 1_000_000


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng) -> pa.Table:
    n = N["documents"]
    lens = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # 5% near-duplicates (another doc plus one token), then 8 exact copies;
    # sources and targets are disjoint, so no two rows collide by chance
    picked = rng.permutation(n)
    near, src = picked[: n // 20], picked[n // 20: n // 10]
    for i, j in zip(near, src):
        texts[i] = texts[j] + " dup"
    for i, j in zip(picked[n // 10: n // 10 + 8], picked[n // 10 + 8: n // 10 + 16]):
        texts[i] = texts[j]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng) -> pa.Table:
    n = N["embeddings"]
    label = rng.integers(0, 10, n).astype(np.int32)
    x = rng.normal(0.0, 1.0, (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def base_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """The sf0.1 table set, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    i32, i64 = np.int32, np.int64
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    })
    n = N["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = N["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })
    n = N["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=i64)),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(i32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)),
    })
    n = N["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, N["customer"], n).astype(i64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n, rng)),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    n = N["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N["orders"], n).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, N["part"], n).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, N["supplier"], n).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(_money(rng, 0.0, 0.10, n)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, n)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n, rng)),
    })
    n = N["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(i64)
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=i64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(i64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _write(tables: dict[str, pa.Table], out: Path) -> None:
    out.mkdir(parents=True)
    for name, tb in tables.items():
        pq.write_table(tb, out / f"{name}.parquet")


def fingerprint() -> str:
    src = Path(__file__).read_bytes() + MAKE_SF1.read_bytes()
    return hashlib.sha256(src + str(DATA_SEED).encode()).hexdigest()[:16]


def ensure_data(spawn, root: Path = DATA_ROOT) -> tuple[Path, bool]:
    """Return (data dir holding ``sf0.1/`` and ``sf1/``, built_now).

    ``spawn(argv, work_dir, env, timeout)`` runs ``make_sf1.py`` as an
    isolated child process. Builds into a private directory and renames it
    into place, so an interrupted build never leaves a half-written cache
    behind."""
    final = root / fingerprint()
    if (final / "_BUILT").exists():
        return final, False
    tmp = root / f".build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        _write(base_tables(), tmp / "sf0.1")
        spawn([sys.executable, str(MAKE_SF1)], tmp / "work",
              {"SPARK_GRAFT_SFSRC_DIR": str(tmp / "sf0.1"),
               "SPARK_GRAFT_SF1_DIR": str(tmp / "sf1"),
               "SPARK_GRAFT_REPLICAS": "10"},
              MAKE_SF1_TIMEOUT_S)
        if not (tmp / "sf1" / "_BUILT").exists():
            raise RuntimeError(f"{MAKE_SF1.name} finished without building sf1")
        shutil.rmtree(tmp / "work")
        (tmp / "_BUILT").touch()
        for old in root.iterdir():  # data of an earlier generator version
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final, True
