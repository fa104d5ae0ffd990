"""Route-level facade tests: each method reproduces its reference route's
semantics (SURVEY.md §3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_backend_spark.engine import MarketplaceEngine, SearchParams
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def eng(spark):
    return MarketplaceEngine(spark, SF_DIR)


def test_search_envelope(eng):
    res = eng.search_ads(SearchParams(status="O", page=1, limit=10))
    rows = res.rows.collect()
    total = res.total.collect()[0]
    assert len(rows) == 10
    assert total.total_pages == -(-total.total // 10) * 0 + (total.total + 9) // 10


def test_get_ad_point_lookup(eng, cat):
    any_key = cat.table("orders").limit(1).collect()[0].o_orderkey
    got = eng.get_ad(any_key).collect()
    assert len(got) == 1
    assert got[0].n_items >= 0


def test_my_ads_excludes_soft_deleted(eng, cat):
    some_cust = (
        cat.table("orders").filter(F.col("o_orderstatus") == "F")
        .limit(1).collect()[0].o_custkey
    )
    rows = eng.my_ads(some_cust).collect()
    assert all(r.o_orderstatus != "F" for r in rows)


def test_favorites_two_hop_no_deleted(eng):
    rows = eng.favorites_of(1).collect()
    # post-join filter applied (no deleted/'F' parents leak through)
    assert all(r.o_totalprice is not None for r in rows)


def test_is_favorite_flag_shape(eng, cat):
    li = cat.table("lineitem").limit(1).collect()[0]
    yes = eng.is_favorite(li.l_orderkey, li.l_linenumber).collect()[0].is_favorite
    no = eng.is_favorite(-1, -1).collect()[0].is_favorite
    assert yes is True and no is False


def test_messages_sorted_ascending(eng):
    rows = eng.messages_of(7).collect()
    ts = [r.ts for r in rows]
    assert ts == sorted(ts)


def _duck(sql: str) -> list:
    import duckdb

    with duckdb.connect() as con:
        for name in ("orders", "events"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'")
        return [r[0] for r in con.execute(sql).fetchall()]


# Keys with the most rows at sf0.001: customer 19 has 14 live orders,
# user 14 has 88 events over 5 event types.
MY_ADS_KEY, CHAT_KEY = 19, 14


def test_my_ads_order_matches_duckdb(eng):
    got = [r.o_orderkey for r in eng.my_ads(MY_ADS_KEY).collect()]
    want = _duck(f"""SELECT o_orderkey FROM orders
                     WHERE o_custkey = {MY_ADS_KEY} AND o_orderstatus <> 'F'
                     ORDER BY o_orderdate DESC, o_orderkey DESC""")
    assert len(want) > 5 and got == want


def test_messages_order_matches_duckdb(eng):
    got = [r.event_id for r in eng.messages_of(CHAT_KEY).collect()]
    want = _duck(f"""SELECT event_id FROM events WHERE user_id = {CHAT_KEY}
                     ORDER BY ts, event_id""")
    assert len(want) > 5 and got == want


def test_conversations_one_row_per_type_newest_first(eng):
    rows = eng.conversations_list(CHAT_KEY).collect()
    want = _duck(f"""
        SELECT event_id FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE user_id = {CHAT_KEY}) WHERE rn = 1
        ORDER BY ts DESC""")
    assert len({r.event_type for r in rows}) == len(rows) > 1
    assert [r.event_id for r in rows] == want


def test_sorted_routes_break_ties_by_key(spark, tmp_path):
    """Rows that tie on the leading sort column come out in key order:
    ``my_ads`` by ``o_orderkey desc`` within a date, ``messages_of`` by
    ``event_id`` within a ``ts``. The source files hold the rows in the
    opposite order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_backend_spark.engine import MarketplaceEngine

    def rewrite(name, key_col, key, col, order_by, ascending):
        t = pq.read_table(f"{SF_DIR}/{name}.parquet")
        df = t.to_pandas()
        mine = df[key_col] == key
        firsts = df.loc[mine, col].sort_values().iloc[:2].tolist()
        df.loc[mine, col] = [firsts[i % 2] for i in range(int(mine.sum()))]
        df = df.sort_values(order_by, ascending=ascending)
        pq.write_table(pa.Table.from_pandas(df, schema=t.schema, preserve_index=False),
                       str(tmp_path / f"{name}.parquet"))
        return df[df[key_col] == key]

    orders = rewrite("orders", "o_custkey", MY_ADS_KEY, "o_orderdate", "o_orderkey", True)
    events = rewrite("events", "user_id", CHAT_KEY, "ts", "event_id", False)
    e = MarketplaceEngine(spark, str(tmp_path))

    live = orders[orders.o_orderstatus != "F"]
    want = live.sort_values(["o_orderdate", "o_orderkey"], ascending=False)
    assert want.o_orderdate.duplicated().any()
    assert [r.o_orderkey for r in e.my_ads(MY_ADS_KEY).collect()] == want.o_orderkey.tolist()

    want = events.sort_values(["ts", "event_id"])
    assert want.ts.duplicated().any()
    assert [r.event_id for r in e.messages_of(CHAT_KEY).collect()] == want.event_id.tolist()


def test_sorted_routes_run_two_jobs_without_range_exchange(eng):
    """Each of these routes collects its whole answer, so the rows go to
    one partition ahead of the sort: no range exchange and no job that
    samples its bounds (a second scan of the source)."""
    from tests.conftest import spark_jobs

    plans = {}
    for route, key in ((eng.my_ads, MY_ADS_KEY), (eng.messages_of, CHAT_KEY),
                       (eng.conversations_list, CHAT_KEY)):
        route(key).collect()  # warm
        df = route(key)
        _, jobs = spark_jobs(eng.cat.spark, df.collect)
        plan = plans[route.__name__] = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan, (route.__name__, plan)
        assert jobs == 2, (route.__name__, jobs)
    # coalesce(1) above the window keeps the window's map-side partial limit
    assert "row_number(), 1, Partial" in plans["conversations_list"]


def test_admin_stats_counts(eng, cat):
    row = eng.admin_stats().collect()[0]
    assert row.n_users == cat.table("customer").count()
    assert row.n_ads == cat.table("orders").count()
    assert row.n_active_ads == cat.table("orders").filter(F.col("o_orderstatus") == "O").count()
    assert row.n_categories == cat.table("region").count()
    assert dict(eng.admin_stats().dtypes) == dict.fromkeys(
        ["n_users", "n_ads", "n_active_ads", "n_categories"], "bigint")


def test_login_roundtrip_and_reject(eng):
    ok = eng.login(1, "pw-1").collect()
    assert len(ok) == 1 and ok[0].token.count(".") == 2
    assert "password_hash" not in ok[0].asDict()
    bad = eng.login(1, "wrong").collect()
    assert bad == []


def test_login_runs_one_spark_job(eng):
    """The key lookup carries no limit, so no exchange splits the scan
    from the credential UDFs: one job, one stage."""
    from tests.conftest import spark_jobs

    eng.login(2, "pw-2").collect()  # warm
    rows, jobs = spark_jobs(eng.cat.spark, lambda: eng.login(2, "pw-2").collect())
    assert [r.c_custkey for r in rows] == [2]
    assert jobs == 1


def test_login_evaluates_python_once(eng):
    """Hash derivation, password check and token signing are one Python
    UDF, and the token filter stays above it: one ``ArrowEvalPython``."""
    plan = eng.login(2, "pw-2")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_ads_search_counts_only_filtered_line_items(eng):
    """The per-order item count aggregates only the line items of the
    filtered orders (a left-semi join below the aggregate), not all of
    lineitem."""
    plan = eng.search_ads(SearchParams(min_price=1000.0)).rows
    lines = plan._jdf.queryExecution().executedPlan().toString().splitlines()
    aggs = [i for i, ln in enumerate(lines)
            if "HashAggregate(keys=[l_orderkey" in ln and "partial_count" in ln]
    assert aggs
    def indent(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    for i in aggs:
        subtree = []
        for ln in lines[i + 1:]:
            if indent(ln) <= indent(lines[i]):
                break
            subtree.append(ln)
        assert any("LeftSemi" in ln for ln in subtree), "\n".join(lines)


def test_catalog_resolves_each_relation_once(spark, tmp_path):
    """Catalog.table memoizes the resolved relation on the source's
    content fingerprint: a repeat call reuses it, a rewritten source is
    read again, and every call hands out its own DataFrame, so a
    self-join resolves each side's columns to its own side."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_backend_spark.sources.catalog import Catalog

    def write_nation(rows):
        pq.write_table(pa.table({
            "n_nationkey": pa.array([r[0] for r in rows], pa.int32()),
            "n_name": [r[1] for r in rows],
            "n_regionkey": pa.array([r[2] for r in rows], pa.int32()),
        }), str(tmp_path / "nation.parquet"))

    write_nation([(0, "A", 1), (1, "B", 0)])
    cat = Catalog(spark, str(tmp_path))
    a, b = cat.table("nation"), cat.table("nation")
    assert a is not b
    resolved = cat._tables["nation"]
    assert cat.table("nation").count() == 2
    assert cat._tables["nation"] is resolved  # unchanged source: no re-read
    # n_regionkey -> n_nationkey: each row's region is the other nation
    pairs = a.join(b, a["n_regionkey"] == b["n_nationkey"]).select(
        a["n_name"].alias("x"), b["n_name"].alias("y")).collect()
    assert sorted((r.x, r.y) for r in pairs) == [("A", "B"), ("B", "A")]

    write_nation([(0, "A", 1), (1, "B", 0), (2, "C", 2)])
    os.utime(tmp_path / "nation.parquet", ns=(1, 1))  # mtime moves too
    assert cat.table("nation").count() == 3
    assert cat.num_rows("nation") == 3


def test_find_many_where_grammar(spark):
    """The generic where-tree compiler: each operator and logical node
    against a hand-written equivalent filter."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_backend_spark.plans.find_many import (
        WhereError, compile_where, find_many,
    )
    from etl_backend_spark.sources.catalog import Catalog
    from tests.conftest import SF_DIR

    o = Catalog(spark, SF_DIR).table("orders")

    def same(tree, col_pred):
        got = o.filter(compile_where(tree)).count()
        want = o.filter(col_pred).count()
        assert got == want and got > 0, (tree, got, want)

    same({"o_orderstatus": "O"}, F.col("o_orderstatus") == "O")
    same({"o_totalprice": {"gte": 1000.0, "lt": 50000.0}},
         (F.col("o_totalprice") >= 1000.0) & (F.col("o_totalprice") < 50000.0))
    same({"o_orderpriority": {"in": ["1-URGENT", "5-LOW"]}},
         F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    same({"o_orderpriority": {"notIn": ["1-URGENT"]}},
         ~F.col("o_orderpriority").isin("1-URGENT"))
    same({"o_orderpriority": {"contains": "urgent", "mode": "insensitive"}},
         F.lower(F.col("o_orderpriority")).contains("urgent"))
    same({"o_orderpriority": {"startsWith": "1-"}},
         F.col("o_orderpriority").startswith("1-"))
    same({"OR": [{"o_orderstatus": "F"},
                 {"o_totalprice": {"gt": 400000.0}}]},
         (F.col("o_orderstatus") == "F") | (F.col("o_totalprice") > 400000.0))
    same({"NOT": {"o_orderstatus": "O"}}, F.col("o_orderstatus") != "O")
    # null handling: equality-with-None is IS NULL (zero rows here)
    assert o.filter(compile_where({"o_orderstatus": None})).count() == 0
    assert o.filter(
        compile_where({"o_orderstatus": {"not": None}})
    ).count() == o.count()

    # pagination algebra: skip/take pages are disjoint and ordered
    ob = [("o_totalprice", "desc"), ("o_orderkey", "asc")]
    p1 = find_many(o, order_by=ob, skip=0, take=10).collect()
    p2 = find_many(o, order_by=ob, skip=10, take=10).collect()
    assert len(p1) == len(p2) == 10
    assert {r.o_orderkey for r in p1}.isdisjoint({r.o_orderkey for r in p2})
    assert p1[-1].o_totalprice >= p2[0].o_totalprice

    with _pytest.raises(WhereError):
        compile_where({"o_orderstatus": {"regex": "x"}})
    with _pytest.raises(WhereError):
        compile_where({"OR": []})


def test_include_list_gives_childless_parents_empty_arrays(spark):
    """Prisma's 1:n include returns [] for childless parents, never null."""
    from etl_backend_spark.plans.find_many import find_many_full

    parents = spark.createDataFrame([(1,), (2,), (3,)], "pid long")
    children = spark.createDataFrame(
        [(1, "a"), (1, "b"), (3, "c")], "fk long, v string"
    )
    out = find_many_full(
        parents,
        include_list=[(children, "pid", "fk", F.col("v"), "vs")],
        order_by=[("pid", "asc")],
    ).collect()
    got = {r.pid: list(r.vs) for r in out}
    assert got == {1: ["a", "b"], 2: [], 3: ["c"]}


def test_include_list_non_string_item_expr(spark):
    """The empty-array fallback is typed from the child aggregate, so a
    NUMERIC (or struct) item expression analyzes and childless parents
    still get a typed empty array (ADVICE r5, low)."""
    from etl_backend_spark.plans.find_many import find_many_full

    parents = spark.createDataFrame([(1,), (2,)], "pid long")
    children = spark.createDataFrame([(1, 10), (1, 20)], "fk long, n long")
    out = find_many_full(
        parents,
        include_list=[
            (children, "pid", "fk", F.col("n"), "ns"),
            (children, "pid", "fk",
             F.struct(F.col("n").alias("n")), "objs"),
        ],
        order_by=[("pid", "asc")],
    ).collect()
    assert [list(r.ns) for r in out] == [[10, 20], []]
    assert [len(r.objs) for r in out] == [2, 0]


def test_engine_modules_star_import():
    """``from <module> import *`` works for every engine module that
    declares ``__all__``: each listed name must exist on the module."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    declared = []
    for path in sorted((root / "etl_backend_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        if any(isinstance(n, ast.Assign)
               and any(getattr(t, "id", None) == "__all__" for t in n.targets)
               for n in tree.body):
            mod = ".".join(path.relative_to(root).with_suffix("").parts)
            declared.append(mod.removesuffix(".__init__"))
    assert "etl_backend_spark.engine" in declared
    for mod in declared:
        exec(f"from {mod} import *", {})
