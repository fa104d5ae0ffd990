"""Output checks: DuckDB answers for every operation the benchmark times.

- Batch workloads compare each query's warm-up result with its registered
  oracle (``registry.ORACLES``) by value, or by row count where the registry
  has no value oracle for the query at this scale. Oracle answers depend
  only on the data, so they are computed once per data fingerprint and kept
  next to the data.
- ``api_rw`` compares each route's first response with equivalent SQL, and
  the manifest-table reads with a pure-Python replay of the writes.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import math
import os
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# queries without a value oracle: the oracle whose row count they must match
ROWS_LIKE = {"sim_topk_pandas": "sim_topk_brute", "sim_topk_pq": "sim_topk_brute"}


def connect(sf_dir: str | Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


# ------------------------------------------------------------ comparison

def _canon_col(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        s = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) else s
        return s.astype("datetime64[us]").astype("int64")
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
        return s.astype("float64")
    return s.map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                 else str(list(v)) if isinstance(v, (list, tuple, np.ndarray)) else str(v))


def canon(df: pd.DataFrame, ordered: bool) -> pd.DataFrame:
    """Columns by name, values in comparable types, rows sorted unless the
    row order is part of the answer."""
    df = pd.DataFrame({c: _canon_col(df[c]).reset_index(drop=True)
                       for c in sorted(df.columns)})
    if not ordered and len(df):
        # sort on floats rounded to 6 digits, so last-bit differences between
        # engines do not reorder rows; the comparison itself uses isclose
        keys = pd.DataFrame({c: df[c].map(lambda v: f"{v:.6g}") if df[c].dtype == "float64"
                             else df[c].astype(str) for c in df.columns})
        df = df.loc[keys.sort_values(list(keys.columns)).index].reset_index(drop=True)
    return df


def diff(got: pd.DataFrame, want: pd.DataFrame, ordered: bool = False) -> str | None:
    """None when the frames hold the same rows, else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = canon(got, ordered), canon(want, ordered)
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype == "float64" or b.dtype == "float64":
            x = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
            y = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-9) | (np.isnan(x) & np.isnan(y))
        else:
            ok = ((a == b) | (a.isna() & b.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmax(~ok))
            return f"column {c} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


# ------------------------------------------------------- batch expectations

def _plan(q: str, sf_dir: Path) -> tuple[str, str]:
    """(mode, sql) for one query: ``value`` compares with the oracle's rows,
    ``live`` does so after the query ran (the oracle replays an artifact the
    query wrote under TMPDIR), ``rows`` compares the row count only."""
    from etl_backend_spark.registry import ORACLE_GATES, ORACLES

    gated = q in ORACLE_GATES and not ORACLE_GATES[q](str(sf_dir))
    if q in ORACLES and not gated:
        sql = ORACLES[q]
        return ("live" if "read_parquet(" in sql else "value"), sql
    return "rows", ORACLES.get(q) or ORACLES[ROWS_LIKE[q]]


def _stored(data_dir: Path, q: str, sql: str) -> Path:
    """Where the answer to ``sql`` is kept: keyed on the SQL, so an edited
    oracle is answered afresh."""
    return data_dir / "expected" / f"{q}-{hashlib.sha256(sql.encode()).hexdigest()[:12]}"


def ensure_expected(data_dir: Path, sf_dir: Path, queries: list[str]) -> None:
    """Compute and store the oracle answer of every query not yet stored."""
    todo = []
    for q in queries:
        mode, sql = _plan(q, sf_dir)
        path = _stored(data_dir, q, sql)
        if mode != "live" and not path.with_suffix(".json").exists():
            todo.append((q, mode, sql, path))
    if not todo:
        return
    (data_dir / "expected").mkdir(exist_ok=True)
    con = connect(sf_dir)
    for q, mode, sql, path in todo:
        if mode == "value":
            ans = con.execute(sql).fetchdf()
            ans.to_parquet(path.with_suffix(".parquet"))
            n = len(ans)
        else:
            n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps({"rows": int(n)}))
        os.replace(tmp, path.with_suffix(".json"))
    con.close()


def check_batch(data_dir: Path, sf_dir: Path, query: str,
                got: pd.DataFrame) -> str | None:
    """Compare one query's result with its oracle answer."""
    mode, sql = _plan(query, sf_dir)
    if mode == "live":
        con = connect(sf_dir)
        try:
            return diff(got, con.execute(sql).fetchdf())
        finally:
            con.close()
    path = _stored(data_dir, query, sql)
    if mode == "value":
        return diff(got, pd.read_parquet(path.with_suffix(".parquet")))
    want = json.loads(path.with_suffix(".json").read_text())["rows"]
    return None if len(got) == want else f"{len(got)} rows != {want}"


# ------------------------------------------------------------- api routes

def _b64(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def login_token(user_id: int, secret: str = "engine-secret") -> str:
    """HS256 compact token of ``{"userId": "<id>"}``, as the login route
    signs it."""
    head = _b64(json.dumps({"alg": "HS256", "typ": "JWT"}).encode())
    body = _b64(json.dumps({"userId": str(user_id)}).encode())
    sig = hmac.new(secret.encode(), f"{head}.{body}".encode(), hashlib.sha256)
    return f"{head}.{body}.{_b64(sig.digest())}"


_ITEMS = "SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey"
_SORTS = {"newest": "o_orderdate DESC", "price_low": "o_totalprice ASC",
          "price_high": "o_totalprice DESC"}


def _search_where(p: dict) -> str:
    w = [f"o_orderstatus = '{p['status']}'"]
    if p.get("search"):
        s = p["search"].lower()
        w.append(f"(lower(o_orderpriority) LIKE '%{s}%' OR lower(o_orderstatus) LIKE '%{s}%')")
    if p.get("priority"):
        w.append(f"o_orderpriority = '{p['priority']}'")
    w.append(f"o_totalprice BETWEEN {p['min_price']!r} AND {p['max_price']!r}")
    return " AND ".join(w)


def route_sql(op: dict) -> list[tuple[str, bool]]:
    """[(sql, ordered)] answering ``op``: one entry per collected frame."""
    k = op.get("key")
    kind = op["kind"]
    if kind == "search_ads":
        p = op["params"]
        rows = f"""
            SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus, f.o_totalprice,
                   f.o_orderdate, f.o_orderpriority, c.c_name, c.c_mktsegment,
                   coalesce(n.n_items, 0) AS n_items
            FROM (SELECT * FROM orders WHERE {_search_where(p)}) f
            JOIN customer c ON f.o_custkey = c.c_custkey
            LEFT JOIN ({_ITEMS}) n ON f.o_orderkey = n.l_orderkey
            ORDER BY {_SORTS[p['sort_by']]}, f.o_orderkey DESC
            LIMIT {p['limit']} OFFSET {(p['page'] - 1) * p['limit']}"""
        total = f"""
            SELECT count(*) AS total,
                   CAST(ceil(count(*) / {float(p['limit'])!r}) AS BIGINT) AS total_pages
            FROM orders WHERE {_search_where(p)}"""
        return [(rows, True), (total, False)]
    if kind == "get_ad":
        return [(f"""
            SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
                   o.o_orderdate, o.o_orderpriority, c.c_name, c.c_mktsegment,
                   coalesce(n.n_items, 0) AS n_items
            FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
            LEFT JOIN ({_ITEMS}) n ON n.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey = {k}""", False)]
    if kind == "my_ads":
        return [(f"""SELECT * FROM orders WHERE o_custkey = {k} AND o_orderstatus <> 'F'
                     ORDER BY o_orderdate DESC, o_orderkey DESC""", True)]
    if kind == "favorites_of":
        return [(f"""
            SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice, o.o_orderdate
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_custkey = {k} AND o.o_orderstatus <> 'F'""", False)]
    if kind == "is_favorite":
        return [(f"""SELECT (count(*) > 0) AS is_favorite FROM lineitem
                     WHERE l_orderkey = {k} AND l_linenumber = {op['line']}""", False)]
    if kind == "conversations_list":
        return [(f"""
            SELECT event_id, ts, user_id, event_type, value, props FROM (
              SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events WHERE user_id = {k}) WHERE rn = 1
            ORDER BY ts DESC""", True)]
    if kind == "messages_of":
        return [(f"SELECT * FROM events WHERE user_id = {k} ORDER BY ts, event_id", True)]
    if kind == "admin_stats":
        return [("""
            SELECT (SELECT count(*) FROM customer) AS n_users,
                   (SELECT count(*) FROM orders) AS n_ads,
                   (SELECT count(*) FILTER (WHERE o_orderstatus = 'O') FROM orders)
                     AS n_active_ads,
                   (SELECT count(*) FROM region) AS n_categories""", False)]
    if kind == "admin_users":
        return [(f"""
            SELECT c.*, coalesce(n.n_ads, 0) AS n_ads FROM customer c
            LEFT JOIN (SELECT o_custkey, count(*) AS n_ads FROM orders GROUP BY o_custkey) n
              ON n.o_custkey = c.c_custkey
            ORDER BY c.c_custkey LIMIT 20 OFFSET {(op['page'] - 1) * 20}""", True)]
    if kind == "login":
        return [(f"""SELECT c_custkey, c_name, '{login_token(k)}' AS token
                     FROM customer WHERE c_custkey = {k}""", False)]
    raise KeyError(kind)


def check_route(con: duckdb.DuckDBPyConnection, op: dict,
                frames: list[pd.DataFrame]) -> str | None:
    for (sql, ordered), got in zip(route_sql(op), frames):
        problem = diff(got, con.execute(sql).fetchdf(), ordered)
        if problem:
            return problem
    return None
