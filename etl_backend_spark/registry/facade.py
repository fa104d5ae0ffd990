"""Registry: engine-facade routes as oracle-gated rows (VERDICT r4 #7).

``MarketplaceEngine`` (engine.py) is the route-level surface a user of the
reference calls after switching — each method reproduces one HTTP handler
(reference src/routes/*.ts). The operator library under it is gate-covered,
but until round 5 only ``ads_search`` flowed through a driver-checked key.
These rows exercise the FACADE itself: each builder calls the engine method,
not the operators directly, so the route-composition layer (param plumbing,
column drops, envelope shape) is value-checked against DuckDB too.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..engine import MarketplaceEngine
from . import register


@register(
    "facade_get_ad",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
           o.o_orderdate, o.o_orderpriority, c.c_name, c.c_mktsegment,
           coalesce(n.n_items, 0) AS n_items
    FROM orders o
    LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    LEFT JOIN (SELECT l_orderkey, count(*) AS n_items
               FROM lineitem GROUP BY l_orderkey) n
      ON n.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey = 7777
    """,
)
def q_facade_get_ad(spark, sf_dir):
    """GET /api/ads/:id through the facade (reference src/routes/ads.ts:
    178-195): point lookup + owner n:1 join + favorites relation count,
    exactly as ``MarketplaceEngine.get_ad`` composes them."""
    return MarketplaceEngine(spark, sf_dir).get_ad(7777)


@register(
    "facade_my_ads",
    oracle="SELECT * FROM orders WHERE o_custkey = 42 AND o_orderstatus <> 'F'",
)
def q_facade_my_ads(spark, sf_dir):
    """GET /api/ads/user/me through the facade (reference src/routes/ads.ts:
    213-231): owner's non-deleted rows, newest first (the gate compares
    order-insensitively; tests/test_engine_facade.py checks the order)."""
    return MarketplaceEngine(spark, sf_dir).my_ads(42)


@register(
    "facade_favorites",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice, o.o_orderdate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey = 42 AND o.o_orderstatus <> 'F'
    """,
)
def q_facade_favorites(spark, sf_dir):
    """GET /api/favorites through the facade (reference
    src/routes/favorites.ts:69-99): junction two-hop join with the
    deleted-ads filter applied post-join (Catalyst pushes it down)."""
    return MarketplaceEngine(spark, sf_dir).favorites_of(42)


@register(
    "facade_is_favorite",
    oracle="""
    SELECT (count(*) > 0) AS is_favorite
    FROM (SELECT 1 FROM lineitem
          WHERE l_orderkey = 7777 AND l_linenumber = 1 LIMIT 1)
    """,
)
def q_facade_is_favorite(spark, sf_dir):
    """GET /api/favorites/check through the facade (reference
    src/routes/favorites.ts:105-122): composite-key existence flag."""
    return MarketplaceEngine(spark, sf_dir).is_favorite(7777, 1)


@register(
    "facade_messages",
    oracle="SELECT * FROM events WHERE user_id = 42",
)
def q_facade_messages(spark, sf_dir):
    """GET /api/chat/messages/:id through the facade (reference
    src/routes/chat.ts:128-148): one thread's messages, chronological."""
    return MarketplaceEngine(spark, sf_dir).messages_of(42)


@register("facade_categories", oracle="SELECT * FROM region")
def q_facade_categories(spark, sf_dir):
    """GET /api/categories through the facade (reference
    src/routes/ads.ts:273-277)."""
    return MarketplaceEngine(spark, sf_dir).list_categories()


@register(
    "facade_admin_stats",
    oracle="""
    SELECT (SELECT count(*) FROM customer) AS n_users,
           (SELECT count(*) FROM orders) AS n_ads,
           (SELECT count(*) FILTER (WHERE o_orderstatus = 'O')
            FROM orders) AS n_active_ads,
           (SELECT count(*) FROM region) AS n_categories
    """,
)
def q_facade_admin_stats(spark, sf_dir):
    """GET /api/admin/stats through the facade (reference
    src/routes/admin.ts:131-148): the dashboard's 4 counts as one
    conditional-agg pass + tiny cross joins."""
    return MarketplaceEngine(spark, sf_dir).admin_stats()


@register(
    "facade_admin_users",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
           coalesce(n.n_ads, 0) AS n_ads
    FROM customer c
    LEFT JOIN (SELECT o_custkey, count(*) AS n_ads
               FROM orders GROUP BY o_custkey) n
      ON n.o_custkey = c.c_custkey
    ORDER BY c.c_custkey ASC LIMIT 20
    """,
)
def q_facade_admin_users(spark, sf_dir):
    """GET /api/admin/users through the facade (reference
    src/routes/admin.ts:11-37): first page of users with per-user ad
    counts, paginated by offset."""
    return MarketplaceEngine(spark, sf_dir).admin_users(page=1, limit=20)


@register(
    "facade_conversations",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM (
      SELECT events.*,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE user_id = 42
    ) WHERE rn = 1
    """,
)
def q_facade_conversations(spark, sf_dir):
    """GET /api/chat/conversations through the facade (reference
    src/routes/chat.ts:83-124): the caller's threads with the latest
    message each, newest activity first."""
    return MarketplaceEngine(spark, sf_dir).conversations_list(42)


@register(
    "find_many_dsl",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'O'
      AND (lower(o_orderpriority) LIKE '%urgent%'
           OR o_totalprice >= 100000.0)
      AND o_orderdate < TIMESTAMP '2001-01-01'
      AND o_orderpriority IS NOT NULL
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 15 OFFSET 10
    """,
)
def q_find_many_dsl(spark, sf_dir):
    """The generic Prisma-style findMany surface (plans/find_many.py),
    gate-checked through a representative ORM query tree: nested OR,
    case-insensitive contains (the reference's search mode,
    src/routes/ads.ts:105-108), range + null-handling operators, multi-key
    sort with PK tie-break, skip/take. Compiles to ONE Column predicate —
    the plan shows a single pushed filter conjunction, and sort+take is
    TakeOrderedAndProject. Any findMany a reference user writes against
    Prisma's operator set runs here without new engine code."""
    from ..plans.find_many import find_many
    from ..sources.catalog import Catalog

    o = Catalog(spark, sf_dir).table("orders")
    return find_many(
        o,
        where={
            "o_orderstatus": "O",
            "OR": [
                {"o_orderpriority": {"contains": "URGENT",
                                     "mode": "insensitive"}},
                {"o_totalprice": {"gte": 100000.0}},
            ],
            "o_orderdate": {"lt": "2001-01-01 00:00:00"},
            "o_orderpriority": {"not": None},
        },
        order_by=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        skip=10, take=15,
    )


@register(
    "find_many_included",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment,
           coalesce(n.n_items, 0) AS n_items
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    LEFT JOIN (SELECT l_orderkey, count(*) AS n_items FROM lineitem
               GROUP BY l_orderkey) n
      ON o_orderkey = n.l_orderkey
    WHERE o_orderstatus = 'O' AND o_totalprice >= 50000.0
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def q_find_many_included(spark, sf_dir):
    """The FULL Prisma findMany call shape through the generic compiler
    (plans/find_many.find_many_full): where-tree + include (customer
    hydration as a broadcast-eligible join) + _count (lineitem counts
    pre-aggregated on the FK, one shuffle row per order) + select +
    multi-key sort with PK tie-break + take. This is exactly the ads
    route's Prisma call (src/routes/ads.ts:135-154: where object,
    include user, _count favorites, orderBy, skip/take) running through
    the GENERIC surface instead of the hand-built flagship plan — a
    reference user's arbitrary findMany needs no new engine code."""
    from ..plans.find_many import find_many_full
    from ..sources.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    return find_many_full(
        cat.table("orders"),
        where={"o_orderstatus": "O",
               "o_totalprice": {"gte": 50000.0}},
        include=[(cat.table("customer"), "o_custkey", "c_custkey",
                  ["c_name", "c_mktsegment"])],
        count_relations=[(cat.table("lineitem"), "o_orderkey",
                          "l_orderkey", "n_items")],
        select=["o_orderkey", "o_totalprice", "c_name", "c_mktsegment",
                "n_items"],
        order_by=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        take=25,
    )


@register(
    "find_many_nested",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           array_to_string(list_sort(list(CAST(l_linenumber AS VARCHAR))),
                           ',') AS items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F' AND o_totalprice >= 200000.0
    GROUP BY o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q_find_many_nested(spark, sf_dir):
    """Prisma's 1:n include through the generic compiler: the filtered
    parents hydrate a SORTED child array per row (chat.ts:108-111's
    nested messages), assembled by a per-FK pre-aggregation — one array
    row per parent through the join, never the exploded child rows. The
    gate serializes the array sorted so the value hash is partition-
    independent; parents keeping children is the INNER-like subset here
    (the SQL oracle's join drops childless parents, so the builder
    filters empty arrays — Prisma's [] semantics are pytest-covered in
    the where-grammar suite)."""
    from ..plans.find_many import find_many_full
    from ..sources.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    out = find_many_full(
        cat.table("orders"),
        where={"o_orderstatus": "F",
               "o_totalprice": {"gte": 200000.0}},
        include_list=[(cat.table("lineitem"), "o_orderkey", "l_orderkey",
                       F.col("l_linenumber").cast("string"), "items_arr")],
        order_by=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        take=20,
    )
    return (
        out.filter(F.size("items_arr") > 0)
        .select(
            "o_orderkey", "o_totalprice",
            F.array_join("items_arr", ",").alias("items"),
        )
    )
