"""The benchmark's sf0.1 tables against the project's sf0.1 test drop.

Skipped where the drop (``SPARK_GRAFT_SF_DIR``, or the catalog's default
location) is not installed.
"""

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from etl_backend_spark.sources.catalog import DEFAULT_SF_DIR
from perfbench.datagen import base_tables

DROP = Path(DEFAULT_SF_DIR)
pytestmark = pytest.mark.skipif(not (DROP / "orders.parquet").exists(),
                                reason="sf0.1 test drop not installed")
QUANTILES = [0.01, 0.25, 0.5, 0.75, 0.99]


@pytest.fixture(scope="module")
def tables():
    return base_tables(), {t: pq.read_table(DROP / f"{t}.parquet") for t in base_tables()}


def _numbers(col: pa.ChunkedArray) -> np.ndarray:
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us")).cast(pa.int64())
    return col.to_numpy().astype(float)


def test_same_tables_rows_and_schemas(tables):
    ours, drop = tables
    for t in drop:
        assert ours[t].num_rows == drop[t].num_rows, t
        assert ours[t].schema.remove_metadata() == drop[t].schema.remove_metadata(), t


def test_numeric_columns_have_the_drops_distribution(tables):
    """Keys cover the same domain; every number column has the drop's
    quantiles to within 5% of its spread (plus one step for integers)."""
    ours, drop = tables
    for t in drop:
        for c in drop[t].column_names:
            col = drop[t].column(c)
            if not (pa.types.is_integer(col.type) or pa.types.is_floating(col.type)
                    or pa.types.is_timestamp(col.type)):
                continue
            a, b = _numbers(col), _numbers(ours[t].column(c))
            tol = 0.05 * a.std() + (1 if pa.types.is_integer(col.type) else 1e-12)
            assert np.allclose(np.quantile(a, QUANTILES), np.quantile(b, QUANTILES),
                               rtol=0, atol=tol), f"{t}.{c}"
            assert abs(len(np.unique(a)) - len(np.unique(b))) <= 0.01 * len(np.unique(a)) + 1, \
                f"{t}.{c}"


def test_string_columns_have_the_drops_values(tables):
    """Categories with the drop's shares; free text with its length."""
    ours, drop = tables
    for t in drop:
        for c in drop[t].column_names:
            col = drop[t].column(c)
            if not pa.types.is_string(col.type):
                continue
            mine = ours[t].column(c)
            na, nb = len(pc.unique(col)), len(pc.unique(mine))
            assert abs(na - nb) <= 0.01 * na, f"{t}.{c}"
            la, lb = pc.mean(pc.utf8_length(col)).as_py(), pc.mean(pc.utf8_length(mine)).as_py()
            assert abs(la - lb) <= 0.03 * la, f"{t}.{c}"
            if na <= 100:
                sa = {d["values"]: d["counts"] / len(col) for d in pc.value_counts(col).to_pylist()}
                sb = {d["values"]: d["counts"] / len(mine) for d in pc.value_counts(mine).to_pylist()}
                assert sa.keys() == sb.keys(), f"{t}.{c}"
                assert all(abs(sa[k] - sb[k]) < 0.03 for k in sa), f"{t}.{c}"


def _near_duplicates(texts: list[str]) -> int:
    live = set(texts)
    return sum(" " in s and s.rsplit(" ", 1)[0] in live for s in texts)


def test_documents_have_the_drops_duplicates_and_vocabulary(tables):
    ours, drop = tables
    a = drop["documents"].column("text").to_pylist()
    b = ours["documents"].column("text").to_pylist()
    assert len(a) - len(set(a)) == len(b) - len(set(b))
    assert abs(_near_duplicates(a) - _near_duplicates(b)) <= 0.05 * _near_duplicates(a)
    assert {w for s in a for w in s.split()} == {w for s in b for w in s.split()}


def _centroid_cosine(t: pa.Table) -> float:
    x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    label = t.column("label").to_numpy()
    c = np.stack([x[label == k].mean(axis=0) for k in np.unique(label)])
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return float((x * c[np.searchsorted(np.unique(label), label)]).sum(axis=1).mean())


def test_embeddings_are_unit_norm_with_the_drops_label_structure(tables):
    ours, drop = tables
    x = np.stack(ours["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert np.allclose(np.linalg.norm(x, axis=1), 1.0, atol=1e-5)
    assert abs(_centroid_cosine(ours["embeddings"]) - _centroid_cosine(drop["embeddings"])) < 0.02
