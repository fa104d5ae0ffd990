"""Registry: scans, filters, projections, joins, sorts/pagination, scalar fns
(SURVEY.md §2.1–§2.3, §2.6, §2.7) + the flagship search query (§3.1).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import scalars
from ..operators import filters, joins, pagination, scans
from ..plans.query_builder import SearchParams, ads_search, ads_search_total
from ..sources import cache
from ..sources.catalog import Catalog
from . import register

# ---------------------------------------------------------------- flagship

_FLAGSHIP = SearchParams(
    status="O", min_price=1000.0, max_price=150000.0,
    sort_by="newest", page=2, limit=20,
)


# ONE oracle definition per twin pair (r13 review —
# the _md5_hex64_sql no-verbatim-copies rule): an oracle
# edit applied to one twin but not the other only
# surfaces as a full-gate hash failure later.
_TWO_HOP_ORACLE = """
    SELECT l_orderkey, l_linenumber, o_orderdate, c_name
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    """


@register(
    "ads_search",
    oracle="""
    WITH filtered AS (
      SELECT * FROM orders
      WHERE o_orderstatus = 'O' AND o_totalprice BETWEEN 1000.0 AND 150000.0
    ), counts AS (
      SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey
    )
    SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus, f.o_totalprice,
           f.o_orderdate, f.o_orderpriority, c.c_name, c.c_mktsegment,
           coalesce(n.n_items, 0) AS n_items
    FROM filtered f
    JOIN customer c ON f.o_custkey = c.c_custkey
    LEFT JOIN counts n ON f.o_orderkey = n.l_orderkey
    ORDER BY f.o_orderdate DESC, f.o_orderkey DESC
    LIMIT 20 OFFSET 20
    """,
)
def q_ads_search(spark, sf_dir):
    """Flagship: GET /api/ads (reference src/routes/ads.ts:84-171) — dynamic
    predicates + n:1 join + relation count + sort + offset page. The sort is
    the runtime-selected multi-option spec (``pagination.sort_spec`` — §2
    ``sort_multi_option``) and the page is offset pagination
    (``pagination.paginate_offset`` machinery); both stay registered
    standalone too."""
    return ads_search(Catalog(spark, sf_dir), _FLAGSHIP)


@register(
    "ads_search_total",
    oracle="""
    SELECT count(*) AS total,
           CAST(ceil(count(*) / 20.0) AS BIGINT) AS total_pages
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice BETWEEN 1000.0 AND 150000.0
    """,
)
def q_ads_search_total(spark, sf_dir):
    """Sibling count plan + page math (reference src/routes/ads.ts:155,164)."""
    return ads_search_total(Catalog(spark, sf_dir), _FLAGSHIP)


# ---------------------------------------------------------------- §2.1 scans

@register(
    "scan_filtered",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '2000-01-01'
    """,
)
def q_scan_filtered(spark, sf_dir):
    """Filtered scan (reference src/routes/ads.ts:135-154). Predicates reach
    the parquet reader as PushedFilters; projection prunes ReadSchema."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return scans.scan_filtered(
        li,
        (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= F.to_timestamp(F.lit("2000-01-01"))),
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
    )


@register("scan_full_sorted", oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_name")
def q_scan_full_sorted(spark, sf_dir):
    """Full scan + order — categories by name (reference src/routes/ads.ts:273-277)."""
    return Catalog(spark, sf_dir).table("region").orderBy("r_name")


@register("lookup_pk", oracle="SELECT * FROM orders WHERE o_orderkey = 7777 LIMIT 1")
def q_lookup_pk(spark, sf_dir):
    """Point lookup by PK (reference src/routes/ads.ts:178-195); parquet
    min/max skipping plays the b-tree's role."""
    return scans.lookup_pk(Catalog(spark, sf_dir).table("orders"), "o_orderkey", 7777)


@register(
    "lookup_unique_composite",
    oracle="SELECT * FROM lineitem WHERE l_orderkey = 7777 AND l_linenumber = 1",
)
def q_lookup_unique_composite(spark, sf_dir):
    """Composite unique-key lookup (reference src/routes/favorites.ts:109-117)."""
    return scans.lookup_unique_composite(
        Catalog(spark, sf_dir).table("lineitem"),
        {"l_orderkey": 7777, "l_linenumber": 1},
    )


@register(
    "source_json",
    oracle="""
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events
    """,
)
def q_source_json(spark, sf_dir):
    """JSON ingestion — `JSON.parse` of WS payloads (reference
    src/websocket.ts:40) as ``from_json`` with a declared schema."""
    ev = Catalog(spark, sf_dir).table("events")
    return ev.select(
        "event_id", F.from_json(F.col("props"), "k INT").getField("k").alias("k")
    )


@register(
    "sink_json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus AS status2, o_orderpriority AS priority2
    FROM orders
    """,
)
def q_sink_json_roundtrip(spark, sf_dir):
    """JSON emission + re-parse is the identity — `res.json`/`JSON.stringify`
    (reference src/routes/ads.ts:158-166, src/websocket.ts:73-83)."""
    o = Catalog(spark, sf_dir).table("orders")
    js = F.to_json(F.struct("o_orderstatus", "o_orderpriority"))
    parsed = F.from_json(js, "o_orderstatus STRING, o_orderpriority STRING")
    return o.select(
        "o_orderkey",
        parsed.getField("o_orderstatus").alias("status2"),
        parsed.getField("o_orderpriority").alias("priority2"),
    )


@register(
    "source_files_filter",
    oracle="""
    SELECT p_partkey, path FROM (
      SELECT p_partkey,
             '/uploads/ads/' || CAST(p_partkey AS VARCHAR) ||
             CASE WHEN p_partkey % 4 = 0 THEN '.jpg'
                  WHEN p_partkey % 4 = 1 THEN '.png'
                  WHEN p_partkey % 4 = 2 THEN '.gif'
                  ELSE '.webp' END AS path
      FROM part
    ) WHERE regexp_matches(lower(path), '\\.(jpeg|jpg|png|webp)$')
    """,
)
def q_source_files_filter(spark, sf_dir):
    """Binary-file intake path filtering — multer's extension allow-list
    (reference src/routes/ads.ts:12-39) over a synthetic path column."""
    p = Catalog(spark, sf_dir).table("part")
    ext = (
        F.when(F.col("p_partkey") % 4 == 0, ".jpg")
        .when(F.col("p_partkey") % 4 == 1, ".png")
        .when(F.col("p_partkey") % 4 == 2, ".gif")
        .otherwise(".webp")
    )
    path = F.concat(
        F.lit("/uploads/ads/"), F.col("p_partkey").cast("string"), ext
    )
    return (
        p.select("p_partkey", path.alias("path"))
        .filter(scalars.ext_allowed(F.col("path")))
    )


@register(
    "raw_sql",
    oracle="SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",
)
def q_raw_sql(spark, sf_dir):
    """Raw SQL passthrough — `$executeRawUnsafe` (reference src/routes/setup.ts:12-15)."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    )


# ----------------------------------------------------- §2.2 projections/filters

@register("project_columns", oracle="SELECT c_custkey, c_name FROM customer")
def q_project_columns(spark, sf_dir):
    """Column projection (reference src/routes/ads.ts:141-148)."""
    return Catalog(spark, sf_dir).table("customer").select("c_custkey", "c_name")


@register(
    "project_exclude",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    """,
)
def q_project_exclude(spark, sf_dir):
    """Column exclusion — strip `password` before respond
    (reference src/routes/auth.ts:101)."""
    return Catalog(spark, sf_dir).table("orders").drop("o_orderpriority")


@register(
    "project_nested",
    oracle="""
    SELECT o_orderkey,
           to_json(struct_pack(c_name := c_name, c_mktsegment := c_mktsegment))
             AS customer
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_project_nested(spark, sf_dir):
    """Nested projection of a joined entity — `include:{user:{select:...}}`
    yields a struct-valued column (reference src/routes/ads.ts:140-153);
    JSON-serialized for engine-portable hashing."""
    cat = Catalog(spark, sf_dir)
    o, c = cat.table("orders"), cat.table("customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "o_orderkey",
            F.to_json(F.struct("c_name", "c_mktsegment")).alias("customer"),
        )
    )


@register(
    "filter_eq",
    oracle="SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linestatus = 'F'",
)
def q_filter_eq(spark, sf_dir):
    li = Catalog(spark, sf_dir).table("lineitem")
    return li.filter(filters.eq("l_linestatus", "F")).select("l_orderkey", "l_linenumber")


@register(
    "filter_neq",
    oracle="SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus <> 'F'",
)
def q_filter_neq(spark, sf_dir):
    """`status: { not: 'deleted' }` (reference src/routes/ads.ts:218)."""
    o = Catalog(spark, sf_dir).table("orders")
    return o.filter(filters.neq("o_orderstatus", "F")).select("o_orderkey", "o_orderstatus")


@register(
    "filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    WHERE l_extendedprice BETWEEN 1000.0 AND 2000.0
    """,
)
def q_filter_range(spark, sf_dir):
    """`price: {gte, lte}` (reference src/routes/ads.ts:115-119)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return li.filter(filters.range_pred("l_extendedprice", 1000.0, 2000.0)).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


@register(
    "filter_contains_ci",
    oracle="""
    SELECT p_partkey, p_name FROM part WHERE contains(lower(p_name), 'red')
    """,
)
def q_filter_contains_ci(spark, sf_dir):
    """ILIKE '%s%' (reference src/routes/ads.ts:104-109)."""
    p = Catalog(spark, sf_dir).table("part")
    return p.filter(filters.ci_contains("p_name", "RED")).select("p_partkey", "p_name")


@register(
    "filter_or",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE contains(lower(p_name), 'red') OR contains(lower(p_type), 'economy')
    """,
)
def q_filter_or(spark, sf_dir):
    """`OR:[{title contains},{description contains}]`
    (reference src/routes/ads.ts:105-108)."""
    p = Catalog(spark, sf_dir).table("part")
    return p.filter(
        filters.any_of(
            filters.ci_contains("p_name", "red"),
            filters.ci_contains("p_type", "ECONOMY"),
        )
    ).select("p_partkey", "p_name", "p_type")


@register(
    "filter_dynamic",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_orderstatus = 'O'
      AND o_totalprice BETWEEN 50000.0 AND 300000.0
      AND contains(lower(o_orderpriority), 'high')
    """,
)
def q_filter_dynamic(spark, sf_dir):
    """Runtime-assembled predicate list folded with AND — the reference's
    query-builder IR (src/routes/ads.ts:99-123)."""
    o = Catalog(spark, sf_dir).table("orders")
    preds = [
        filters.eq("o_orderstatus", "O"),
        filters.range_pred("o_totalprice", 50000.0, 300000.0),
        filters.ci_contains("o_orderpriority", "HIGH"),
    ]
    return filters.apply(o, preds).select("o_orderkey", "o_totalprice", "o_orderpriority")


@register(
    "filter_post_join",
    oracle="""
    SELECT o_orderkey, o_orderstatus, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus <> 'F' AND c_mktsegment = 'BUILDING'
    """,
)
def q_filter_post_join(spark, sf_dir):
    """The reference's one client-side post-join filter
    (src/routes/favorites.ts:95) — expressed after the join here; Catalyst
    pushes it below the join for free."""
    cat = Catalog(spark, sf_dir)
    o, c = cat.table("orders"), cat.table("customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter((F.col("o_orderstatus") != "F") & (F.col("c_mktsegment") == "BUILDING"))
        .select("o_orderkey", "o_orderstatus", "c_mktsegment")
    )


# ---------------------------------------------------------------- §2.3 joins

@register(
    "join_lookup_n1",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_name, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q_join_lookup_n1(spark, sf_dir):
    """n:1 FK lookup join, broadcast (reference src/routes/ads.ts:140-149)."""
    cat = Catalog(spark, sf_dir)
    out = joins.lookup_n1(
        cat.table("lineitem"), cat.table("part"), "l_partkey", "p_partkey",
        how="inner",
    )
    return out.select("l_orderkey", "l_linenumber", "p_name", "p_brand")


@register("join_two_hop", oracle=_TWO_HOP_ORACLE)
def q_join_two_hop(spark, sf_dir):
    """Join through a junction — Favorite→Ad→User
    (reference src/routes/favorites.ts:74-92)."""
    cat = Catalog(spark, sf_dir)
    li, o, c = cat.table("lineitem"), cat.table("orders"), cat.table("customer")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("l_orderkey", "l_linenumber", "o_orderdate", "c_name")
    )


@register("join_two_hop_bucketed", oracle=_TWO_HOP_ORACLE)
def q_join_two_hop_bucketed(spark, sf_dir):
    """join_two_hop over the CO-LOCATED layout: lineitem and orders are
    bucketed+sorted on the orderkey (sources.catalog.bucketed_fact_tables),
    so the fact-fact join plans with zero shuffle exchange and zero sort —
    the one-time-write answer to the steepest scaler in BASELINE.md's
    four-decade table (2.16×/decade when both sides shuffle per query).
    Customer is explicitly broadcast: the post-join stream is partitioned
    by orderkey, and re-shuffling it by custkey would forfeit the win.
    Plan-asserted in tests/test_operators.py."""
    from ..sources.catalog import Catalog, bucketed_fact_tables

    li_t, o_t = bucketed_fact_tables(spark, sf_dir)
    li, o = spark.table(li_t), spark.table(o_t)
    c = Catalog(spark, sf_dir).table("customer")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("l_orderkey", "l_linenumber", "o_orderdate", "c_name")
    )


@register(
    "join_self_roles",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, count(*) AS n
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    GROUP BY n1.n_name, n2.n_name
    """,
)
def q_join_self_roles(spark, sf_dir):
    """Same dimension under two roles — Conversation's user1/user2 → User
    (reference src/routes/chat.ts:93-107); TPC-H Q7 shape over testdata. The
    nation dim joins broadcast (never shuffles the fact side)."""
    cat = Catalog(spark, sf_dir)
    li = cat.table("lineitem")
    s, o, c = cat.table("supplier"), cat.table("orders"), cat.table("customer")
    n1 = cat.tbl("nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = cat.tbl("nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: shared oracle for the nested-include family. Both engines sort the
#: child elements as INTS (the child's natural orderBy key) and stringify
#: only for the portable CSV serialization — string sort would silently
#: diverge between variants at linenumber >= 10.
_NESTED_1N_ORACLE = """
    SELECT o_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
"""


def _nested_items_csv(arr_col):
    """sorted int array -> 'csv' string, casting per element AFTER the
    collect: string-typed collect buffers measured +35% on the same data."""
    return F.array_join(
        F.transform(arr_col, lambda x: x.cast("string")), ","
    ).alias("items")


def _is_environmental_error(e: BaseException) -> bool:
    """True when an exception from the bucketed-layout builder is an
    ENVIRONMENTAL failure (read-only scratch dir, missing source, fs
    permissions) rather than a programming error. Python-side fs errors
    arrive as OSError; the same condition raised JVM-side by
    saveAsTable/spark.sql arrives as AnalysisException or Py4JJavaError
    wrapping an IOException/AccessControlException (r13 ADVICE) — those
    carry the cause only in their message/cause chain, so classify by
    content. Anything unrecognized is NOT environmental and propagates."""
    if isinstance(e, (OSError, IOError)):
        return True
    # walk the message plus the Java cause chain (Py4JJavaError stringifies
    # its java_exception; AnalysisException keeps the text in str(e))
    texts = [str(e)]
    jexc = getattr(e, "java_exception", None)
    if jexc is not None:
        try:
            texts.append(jexc.toString())
        except Exception:
            pass
    blob = " ".join(texts).lower()
    fs_tokens = (
        "permission denied", "read-only file system", "readonly",
        "access denied", "accesscontrolexception", "ioexception",
        "filenotfoundexception", "no such file", "mkdirs failed",
        "unable to create", "failed to create", "unsupported_insert",
        "path does not exist", "is not writable",
    )
    return any(tok in blob for tok in fs_tokens)


@register("join_1n_nested", oracle=_NESTED_1N_ORACLE)
def q_join_1n_nested(spark, sf_dir):
    """1:N nested collect — `include:{messages:[...]}`
    (reference src/routes/chat.ts:108-111); the child list is gathered with
    collect_list after a groupBy, serialized sorted for engine-portable
    hashing.

    DEFAULTS TO THE CO-LOCATED LAYOUT (r6, closing the round-5 weak item):
    the nested include is the reference's hottest recurring read
    (messages-per-conversation on every chat open), and a production table
    serving it is bucketed on the conversation key at ingest — so the
    registered default reads the bucketed layout (zero-exchange plan,
    1.23x oracle) and falls back to the plain-parquet builder
    (``join_1n_nested_plain``, which documents the repartition-first
    collect) only when the bucketed layout cannot be materialized
    (read-only scratch dir, unknown source). Both paths are value- and
    oracle-identical."""
    import sys

    try:
        from ..sources.catalog import bucketed_fact_tables

        bucketed_fact_tables(spark, sf_dir)
    # environmental failures only (read-only scratch, missing source) —
    # a bare Exception also swallowed genuine regressions in the layout
    # builder, silently downgrading the registered default to the plain
    # plan with a green gate (r13 review); the downgrade now at least
    # says so on stderr, and programming errors propagate. The catch must
    # include the JVM-side shapes: saveAsTable/spark.sql surface a
    # read-only scratch dir as AnalysisException/Py4JJavaError, not
    # OSError (r13 ADVICE) — so environmental-ness is decided by the
    # error's CONTENT, not its Python class.
    except Exception as e:
        if not _is_environmental_error(e):
            raise
        print(f"join_1n_nested: bucketed layout unavailable ({e!r}) — "
              "falling back to the plain-parquet plan", file=sys.stderr)
        return q_join_1n_nested_plain(spark, sf_dir)
    return q_join_1n_nested_bucketed(spark, sf_dir)


@register("join_1n_nested_plain", oracle=_NESTED_1N_ORACLE)
def q_join_1n_nested_plain(spark, sf_dir):
    """The nested include over PLAIN parquet (no layout prep) — what a
    cold read against an unbucketed table costs.

    Plan shape (r7): ONE keyed shuffle, NO join. Two cuts compose:

    * repartition-first collect (r6): map-side partial_collect_list
      cannot reduce data (the partial buffer carries every element), so
      the default partial+final plan pays per-element buffer
      serialization through the shuffle for zero combine benefit;
      repartition-first ships raw rows and assembles each list exactly
      once post-shuffle (measured 2.1x on sf0.1).
    * referential-integrity JOIN ELIMINATION (r7): the parent table
      contributes only its primary key to this projection, and the
      child's FK resolves for every row (TPC-H integrity; asserted
      against the real join form in tests/test_operators.py), so the
      inner join is an identity on the child's key set — the classic
      RI rewrite a warehouse optimizer performs when the catalog
      carries the constraint, hand-applied because bare parquet carries
      none. Interleaved: -10% vs the join form, same result hash.

    Still layout-bound vs the 2x oracle bar at sf0.1 (~2.5x,
    SCALE.md r7 derivation: the testdata file is ONE parquet row group,
    capping Spark's scan/shuffle-write at a single task, and the
    grouped assembly is one box's memory bandwidth) — a user with the
    co-located layout gets the zero-exchange ``join_1n_nested``
    default; this key documents the honest cold-read fallback.
    Elements are collected and sorted as INTS and cast to string only
    at the final array_join."""
    cat = Catalog(spark, sf_dir)
    li = cat.table("lineitem").select("l_orderkey", "l_linenumber")
    return (
        li.repartition(F.col("l_orderkey"))
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sort_array(F.collect_list("l_linenumber")).alias("items_arr"))
        .select("o_orderkey", _nested_items_csv(F.col("items_arr")))
    )


@register("join_1n_nested_bucketed", oracle=_NESTED_1N_ORACLE)
def q_join_1n_nested_bucketed(spark, sf_dir):
    """join_1n_nested over the CO-LOCATED layout (VERDICT r3 task 7): the
    collect_list-per-parent shape normally shuffles the full child fact
    table per query (groupBy child FK) and then shuffles again for the
    parent join. With lineitem bucketed on l_orderkey and orders on
    o_orderkey (sources.catalog.bucketed_fact_tables, same scheme as the
    two-hop), BOTH the child aggregation and the parent join consume the
    bucket partitioning — the whole nested-include plans with ZERO
    exchange. This is the messages-per-conversation query (reference
    src/routes/chat.ts:108-111) at 100 TB: bucket messages by
    conversation_id at ingest and every chat-history read is
    shuffle-free. Plan-asserted in tests/test_operators.py."""
    from ..sources.catalog import bucketed_fact_tables

    li_t, o_t = bucketed_fact_tables(spark, sf_dir)
    li, o = spark.table(li_t), spark.table(o_t)
    nested = li.groupBy(F.col("l_orderkey")).agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("items_arr")
    )
    return (
        o.join(nested, o["o_orderkey"] == nested["l_orderkey"])
        .select("o_orderkey", _nested_items_csv(F.col("items_arr")))
    )


@register("join_1n_nested_salted", oracle=_NESTED_1N_ORACLE)
def q_join_1n_nested_salted(spark, sf_dir):
    """join_1n_nested with a TWO-PHASE salted collect — the skew-safe twin
    for hot parents. collect_list is the aggregation partial-agg cannot
    help with (map-side combine still ships every element of a hot key to
    ONE reducer: a conversation with 100M messages melts a task and its
    memory). Phase 1 collects per (key, salt) — the hot key's list builds
    as S bounded partials on S reducers; phase 2 regroups by key alone and
    flattens the (far smaller: one row per key per salt) partial lists.
    flatten(sort_array(...)) of per-salt-sorted lists is NOT globally
    sorted, so the final sort_array runs over the flattened list — cheap,
    per-row, no shuffle. Oracle-identical to join_1n_nested; the added
    cost is one extra (key-cardinality x S)-row exchange."""
    S = 8
    cat = Catalog(spark, sf_dir)
    o, li = cat.table("orders"), cat.table("lineitem")
    partial = (
        # pmod(hash) spreads evenly over ALL S buckets — l_linenumber % S
        # never produced salt 0 and is heavily skewed toward low line
        # numbers (every order has line 1, few have line 7), so the hot
        # key's "S bounded partials" were at most 7 uneven ones with
        # bucket 1 the straggler (r13 review). Values are unaffected:
        # the salt only shapes partials, the second phase merges them.
        li.withColumn(
            "__salt",
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(S))
            .cast("int"))
        # repartition-first: map-side partial collect_list cannot reduce
        # data, so ship raw rows once (measured 2.1x on the sf0.1 nested
        # include, r6)
        .repartition(F.col("l_orderkey"), F.col("__salt"))
        .groupBy("l_orderkey", "__salt")
        .agg(F.collect_list("l_linenumber").alias("part"))
    )
    nested = (
        partial.groupBy("l_orderkey")
        .agg(F.sort_array(F.flatten(F.collect_list("part"))).alias("items_arr"))
    )
    return (
        o.join(nested, o["o_orderkey"] == nested["l_orderkey"])
        .select("o_orderkey", _nested_items_csv(F.col("items_arr")))
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def q_join_semi(spark, sf_dir):
    """Existence check → left semi (reference src/routes/favorites.ts:105-122)."""
    cat = Catalog(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return joins.semi(c, o, c["c_custkey"] == o["o_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
    """,
)
def q_join_anti(spark, sf_dir):
    """Non-existence guard → left anti (reference src/routes/favorites.ts:23-41)."""
    cat = Catalog(spark, sf_dir)
    c = cat.table("customer")
    o = cat.table("orders").filter(F.col("o_totalprice") > 400000.0)
    return joins.anti(c, o, c["c_custkey"] == o["o_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "exists_flag",
    oracle="""
    SELECT c_custkey,
           c_custkey IN (SELECT o_custkey FROM orders) AS has_orders
    FROM customer
    """,
)
def q_exists_flag(spark, sf_dir):
    """null→bool exists flag — `{isFavorite: !!favorite}`
    (reference src/routes/favorites.ts:118)."""
    cat = Catalog(spark, sf_dir)
    c = cat.table("customer")
    keys = cat.table("orders").select(F.col("o_custkey").alias("__k")).distinct()
    return (
        c.join(keys, c["c_custkey"] == keys["__k"], "left")
        .select("c_custkey", scalars.exists_flag(F.col("__k")).alias("has_orders"))
    )


# ------------------------------------------------- §2.6 sorts/limits/pagination

@register(
    "sort_multi_option",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 100
    """,
)
def q_sort_multi_option(spark, sf_dir):
    """Runtime-selected sort (reference src/routes/ads.ts:126-132), price_high
    variant; executes as TakeOrderedAndProject, never a global sort."""
    o = Catalog(spark, sf_dir).table("orders")
    order = pagination.sort_spec("price_high", tie_break="o_orderkey")
    return pagination.top_k(o.select("o_orderkey", "o_totalprice"), order, 100)


@register(
    "paginate_offset",
    oracle="""
    SELECT o_orderkey, o_orderdate FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 20 OFFSET 40
    """,
)
def q_paginate_offset(spark, sf_dir):
    """Offset/limit page 3 (reference src/routes/ads.ts:93-97,137-139)."""
    o = Catalog(spark, sf_dir).table("orders").select("o_orderkey", "o_orderdate")
    order = pagination.sort_spec("newest", tie_break="o_orderkey")
    return pagination.paginate_offset(o, order, page=3, limit=20)


@register(
    "keyset_page",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey > 5000 ORDER BY o_orderkey LIMIT 50
    """,
)
def q_keyset_page(spark, sf_dir):
    """Keyset pagination — the deep-pagination scale path (absent in the
    reference; the predicate prunes at the scan)."""
    o = Catalog(spark, sf_dir).table("orders").select("o_orderkey", "o_totalprice")
    return pagination.keyset_page(o, "o_orderkey", 5000, limit=50)


@register(
    "sort_asc_stream",
    oracle="""
    SELECT event_id, ts, event_type FROM events
    WHERE user_id = 7 ORDER BY ts ASC, event_id ASC
    """,
)
def q_sort_asc_stream(spark, sf_dir):
    """Chronological ascending sort — messages of one conversation
    (reference src/routes/chat.ts:145)."""
    ev = Catalog(spark, sf_dir).table("events")
    return (
        ev.filter(F.col("user_id") == 7)
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .select("event_id", "ts", "event_type")
    )


@register(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 10
    """,
)
def q_topk_global(spark, sf_dir):
    """Global top-k (absent in reference; TakeOrderedAndProject)."""
    o = Catalog(spark, sf_dir).table("orders").select("o_orderkey", "o_totalprice")
    return pagination.top_k(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey").desc()], 10
    )


# ---------------------------------------------------------------- §2.7 scalars

@register(
    "fn_scalars_combo",
    oracle="""
    SELECT p_partkey,
           CAST(CAST(p_partkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
           CAST(CAST(p_retailprice AS VARCHAR) AS DOUBLE) AS price_roundtrip,
           least(p_size, CAST(p_partkey % 50 AS INTEGER)) AS pair_lo,
           greatest(p_size, CAST(p_partkey % 50 AS INTEGER)) AS pair_hi,
           CAST(ceil(p_retailprice / 100.0) AS BIGINT) AS price_bucket,
           concat_ws('-', p_brand, p_type) AS brand_type,
           regexp_matches(p_type, 'ECONOMY|SMALL') AS is_cheap_class,
           array_to_string(
             list_transform(string_split(p_name, ' '), w -> '/uploads/ads/' || w),
             ',') AS paths
    FROM part
    """,
)
def q_fn_scalars_combo(spark, sf_dir):
    """Scalar-function surface in one pass: casts (parseFloat/parseInt,
    reference src/routes/ads.ts:57,97 — §2 ``fn_cast_double``/``fn_cast_int``),
    least/greatest canonical pair (src/routes/chat.ts:18 — §2
    ``fn_least_pair``), ceil page math (src/routes/ads.ts:164 — §2
    ``fn_ceil``), concat_ws filename building (src/routes/ads.ts:21 — §2
    ``fn_concat_name``), rlike allow-list (src/routes/ads.ts:30-32 — §2
    ``fn_regex_match``), ci-substring via the combo's lower()+contains
    building blocks (§2 ``fn_lower_contains``), and array build+transform of
    upload paths (src/routes/ads.ts:51 — §2 ``fn_array_build``). Each §2 ID
    also stays registered standalone (see ``aliases``/``fn_array_build``)."""
    p = Catalog(spark, sf_dir).table("part")
    mod = (F.col("p_partkey") % 50).cast("int")
    return p.select(
        "p_partkey",
        F.col("p_partkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.col("p_retailprice").cast("string").cast("double").alias("price_roundtrip"),
        F.least(F.col("p_size"), mod).alias("pair_lo"),
        F.greatest(F.col("p_size"), mod).alias("pair_hi"),
        F.ceil(F.col("p_retailprice") / 100.0).alias("price_bucket"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.col("p_type").rlike("ECONOMY|SMALL").alias("is_cheap_class"),
        F.array_join(
            scalars.build_upload_paths(F.split(F.col("p_name"), " ")), ","
        ).alias("paths"),
    )


@register(
    "fn_least_pair",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           least(l_partkey, l_suppkey) AS pair_lo,
           greatest(l_partkey, l_suppkey) AS pair_hi
    FROM lineitem
    """,
)
def q_fn_least_pair(spark, sf_dir):
    """Canonical unordered-pair ordering — `[a,b].sort()` before conversation
    lookup (reference src/routes/chat.ts:18)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    lo, hi = scalars.canonical_pair(F.col("l_partkey"), F.col("l_suppkey"))
    return li.select(
        "l_orderkey", "l_linenumber", lo.alias("pair_lo"), hi.alias("pair_hi")
    )


@register(
    "fn_array_build",
    oracle="""
    SELECT p_partkey,
           array_to_string(
             list_transform(string_split(p_name, ' '), w -> '/uploads/ads/' || w),
             ',') AS paths
    FROM part
    """,
)
def q_fn_array_build(spark, sf_dir):
    """Array build + transform — `files.map(f => '/uploads/ads/'+f.filename)`
    (reference src/routes/ads.ts:51); serialized for hashing."""
    p = Catalog(spark, sf_dir).table("part")
    arr = scalars.build_upload_paths(F.split(F.col("p_name"), " "))
    return p.select("p_partkey", F.array_join(arr, ",").alias("paths"))


@register(
    "fn_array_explode",
    oracle="""
    WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part),
    e AS (SELECT p_partkey, words,
                 unnest(generate_series(1, len(words))) AS i FROM w)
    SELECT p_partkey, i - 1 AS pos, words[i] AS word FROM e
    """,
)
def q_fn_array_explode(spark, sf_dir):
    """Array explode with position — the reference's images[] array handling
    (reference prisma/schema.prisma:43, src/routes/ads.ts:51) unrolled to
    one row per element."""
    p = Catalog(spark, sf_dir).table("part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
    )


@register(
    "fn_date_parts",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y, month(o_orderdate) AS m,
           dayofweek(o_orderdate) AS dow,
           date_trunc('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS due_date
    FROM orders
    """,
)
def q_fn_date_parts(spark, sf_dir):
    """Date/time functions (absent in reference beyond now(); free in Spark):
    extraction, truncation, interval arithmetic. NB DuckDB dayofweek is
    0=Sunday vs Spark 1=Sunday; normalized here via dayofweek-1."""
    o = Catalog(spark, sf_dir).table("orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
    )


@register(
    "fn_nondeterministic",
    oracle="SELECT r_regionkey, true AS uuid_ok, true AS now_ok FROM region",
)
def q_fn_nondeterministic(spark, sf_dir):
    """uuid() PK defaults and now() timestamps (reference
    prisma/schema.prisma:12,20-21) — validity-shaped output since raw values
    are non-deterministic; the format/ordering invariants themselves ARE
    deterministic booleans, so the oracle checks them as constants."""
    r = Catalog(spark, sf_dir).table("region")
    return r.select(
        "r_regionkey",
        F.expr("uuid()").rlike(
            "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
        ).alias("uuid_ok"),
        (F.current_timestamp() >= F.to_timestamp(F.lit("2020-01-01"))).alias("now_ok"),
    )


@register(
    "fn_csv_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus AS status2, o_orderpriority AS priority2
    FROM orders
    """,
)
def q_fn_csv_roundtrip(spark, sf_dir):
    """CSV emission + schema-declared re-parse is the identity (the CSV
    source/sink surface; the file-level path is spark.read.csv with the same
    declared schema — never inferSchema)."""
    o = Catalog(spark, sf_dir).table("orders")
    line = F.to_csv(F.struct("o_orderstatus", "o_orderpriority"))
    parsed = F.from_csv(line, "o_orderstatus STRING, o_orderpriority STRING")
    return o.select(
        "o_orderkey",
        parsed.getField("o_orderstatus").alias("status2"),
        parsed.getField("o_orderpriority").alias("priority2"),
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT coalesce(a.k, b.k) AS k, a.n_building, b.n_big
    FROM (SELECT c_nationkey AS k, count(*) AS n_building FROM customer
          WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey) a
    FULL OUTER JOIN
         (SELECT c_nationkey AS k, count(*) AS n_big FROM customer
          WHERE c_acctbal > 9000 GROUP BY c_nationkey) b
      ON a.k = b.k
    """,
)
def q_join_full_outer(spark, sf_dir):
    """Full outer join of two aggregates (absent in reference; free in
    Spark — SMJ with null-filling on both sides)."""
    c = Catalog(spark, sf_dir).table("customer")
    a = (c.filter(F.col("c_mktsegment") == "BUILDING")
         .groupBy(F.col("c_nationkey").alias("ak"))
         .agg(F.count(F.lit(1)).alias("n_building")))
    b = (c.filter(F.col("c_acctbal") > 9000)
         .groupBy(F.col("c_nationkey").alias("bk"))
         .agg(F.count(F.lit(1)).alias("n_big")))
    return (
        a.join(b, a["ak"] == b["bk"], "full_outer")
        .select(F.coalesce("ak", "bk").alias("k"), "n_building", "n_big")
    )


@register(
    "fn_null_handling",
    oracle="""
    SELECT c_custkey,
           nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_filled,
           (CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NULL
                 THEN 1 ELSE 0 END) AS was_nulled,
           ifnull(NULL, c_custkey) AS pk_fallback
    FROM customer
    """,
)
def q_fn_null_handling(spark, sf_dir):
    """NULL semantics surface: nullif / coalesce / null-test / ifnull —
    three-valued logic identical across engines."""
    c = Catalog(spark, sf_dir).table("customer")
    nulled = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        nulled.alias("seg_or_null"),
        F.coalesce(nulled, F.lit("DEFAULT")).alias("seg_filled"),
        F.when(nulled.isNull(), 1).otherwise(0).alias("was_nulled"),
        F.ifnull(F.lit(None).cast("long"), F.col("c_custkey")).alias("pk_fallback"),
    )


@register(
    "fn_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 4) AS abs_dev,
           round(sqrt(l_quantity), 6) AS sqrt_qty,
           round(ln(l_extendedprice), 6) AS ln_price,
           round(pow(1.0 + l_tax, 2), 6) AS tax_sq,
           CAST(floor(l_quantity / 10.0) AS BIGINT) AS qty_decile,
           round(greatest(l_discount, l_tax), 2) AS max_rate
    FROM lineitem
    """,
)
def q_fn_math_funcs(spark, sf_dir):
    """Math-function surface (abs/sqrt/ln/pow/floor/greatest), rounded for
    cross-engine float stability."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("abs_dev"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("ln_price"),
        F.round(F.pow(F.lit(1.0) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.floor(F.col("l_quantity") / 10.0).cast("long").alias("qty_decile"),
        F.round(F.greatest("l_discount", "l_tax"), 2).alias("max_rate"),
    )


@register(
    "fn_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_up,
           trim(p_name) AS name_trim,
           substr(p_type, 1, 5) AS type_prefix,
           replace(p_type, ' ', '_') AS type_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           length(p_name) AS name_len,
           strpos(p_type, 'BRUSHED') AS brushed_at,
           reverse(p_brand) AS brand_rev
    FROM part
    """,
)
def q_fn_string_funcs(spark, sf_dir):
    """String-function surface: case, trim, substring, replace, pad,
    length, position, reverse."""
    p = Catalog(spark, sf_dir).table("part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.trim("p_name").alias("name_trim"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.length("p_name").cast("long").alias("name_len"),
        F.instr(F.col("p_type"), "BRUSHED").cast("long").alias("brushed_at"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    )


@register(
    "sort_nulls_last",
    oracle="""
    SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pri
    FROM orders
    ORDER BY pri ASC NULLS LAST, o_orderkey ASC
    LIMIT 100
    """,
)
def q_sort_nulls_last(spark, sf_dir):
    """NULL ordering made explicit: Spark's default ASC is NULLS FIRST,
    DuckDB/Postgres default is NULLS LAST — any sorted surface with nullable
    keys must pin the null position (asc_nulls_last here) or engines
    silently disagree."""
    o = Catalog(spark, sf_dir).table("orders")
    pri = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return (
        o.select("o_orderkey", pri.alias("pri"))
        .orderBy(F.col("pri").asc_nulls_last(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "fn_array_setops",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             string_split(p_name, ' ') AS a,
             string_split(p_type, ' ') AS b
      FROM part
    )
    SELECT p_partkey,
           coalesce(array_to_string(list_sort(list_distinct(list_cat(a, b))), ','),
                    '') AS u,
           coalesce(array_to_string(list_sort(list_intersect(a, b)), ','), '') AS i,
           coalesce(array_to_string(list_sort(list_filter(list_distinct(a),
                      x -> NOT list_contains(b, x))), ','), '') AS d
    FROM t
    """,
)
def q_fn_array_setops(spark, sf_dir):
    """Array set algebra (union/intersect/except) over word arrays —
    serialized sorted so element order can't differ between engines."""
    p = Catalog(spark, sf_dir).table("part")
    a = F.split(F.col("p_name"), " ")
    b = F.split(F.col("p_type"), " ")
    return p.select(
        "p_partkey",
        F.array_join(F.array_sort(F.array_union(a, b)), ",").alias("u"),
        F.array_join(F.array_sort(F.array_intersect(a, b)), ",").alias("i"),
        F.array_join(F.array_sort(F.array_except(a, b)), ",").alias("d"),
    )


@register(
    "fn_bit_ops",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (l_partkey & l_suppkey)::BIGINT AS b_and,
           (l_partkey | l_suppkey)::BIGINT AS b_or,
           xor(l_partkey, l_suppkey)::BIGINT AS b_xor,
           (l_partkey << 2)::BIGINT AS b_shl,
           (l_partkey >> 1)::BIGINT AS b_shr,
           bit_count(l_partkey)::BIGINT AS popcount
    FROM lineitem
    """,
)
def q_fn_bit_ops(spark, sf_dir):
    """Bitwise-operator surface (the building blocks of the simhash and
    bucket operators, exposed directly)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    a, b = F.col("l_partkey"), F.col("l_suppkey")
    return li.select(
        "l_orderkey", "l_linenumber",
        a.bitwiseAND(b).alias("b_and"),
        a.bitwiseOR(b).alias("b_or"),
        a.bitwiseXOR(b).alias("b_xor"),
        F.shiftleft(a, 2).alias("b_shl"),
        F.shiftright(a, 1).alias("b_shr"),
        F.bit_count(a).cast("long").alias("popcount"),
    )


@register(
    "sink_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_sink_orc_roundtrip(spark, sf_dir):
    """ORC sink + source round-trip: write orders to ORC (the other
    columnar format Spark ships natively), read it back, aggregate — the
    aggregate must equal the one computed from the parquet original
    (integer-exact columns, so no float-order caveats). Completes the
    format matrix: parquet (everywhere), JSON (source/sink), CSV
    (roundtrip), binaryFile (source_files_binary), ORC here."""
    o = Catalog(spark, sf_dir).table("orders")
    out, _ = cache.build(
        "orc", "v1", cache.fingerprint(sf_dir, ("orders",)),
        lambda d: o.write.mode("overwrite").orc(d),
    )
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@register(
    "source_text_lines",
    oracle="""
    SELECT doc_id, n_chars FROM documents WHERE doc_id < 200
    """,
)
def q_source_text_lines(spark, sf_dir):
    """Raw text-line source: documents exported as tab-separated lines,
    read back via ``spark.read.text`` (one row per line, a single `value`
    column — the log-file intake shape) and re-parsed with split/cast.
    Round-trip parity against the parquet original is the oracle."""
    d = Catalog(spark, sf_dir).table("documents").filter(F.col("doc_id") < 200)
    out, _ = cache.build(
        "text", "v1", cache.fingerprint(sf_dir, ("documents",)),
        lambda b: d.select(
            F.concat_ws("\t", F.col("doc_id"), F.col("n_chars")).alias("value")
        ).write.mode("overwrite").text(b),
    )
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\t")
    return lines.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).cast("long").alias("n_chars"),
    )


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
    """,
)
def q_source_xml_roundtrip(spark, sf_dir):
    """XML sink + source round-trip via Spark 4's NATIVE xml format
    (spark-xml was folded into core in 4.0 — no external package):
    customer rows written as <row> elements, read back with an EXPLICIT
    schema (inference on a lazy format is a per-run scan tax and can
    widen types), and the full rowset must value-hash against the
    parquet original — doubles survive because the writer emits the
    shortest round-tripping decimal (Java Double.toString) and the
    reader parses it back to the identical bits. Extends the format
    matrix: parquet / JSON / CSV / text / ORC / binaryFile / VARIANT /
    XML."""
    c = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    out, _ = cache.build(
        "xml", "v1", cache.fingerprint(sf_dir, ("customer",)),
        lambda d: c.write.mode("overwrite").format("xml")
        .option("rootTag", "customers").option("rowTag", "customer").save(d),
    )
    return spark.read.format("xml").option("rowTag", "customer").schema(
        "c_custkey LONG, c_name STRING, c_mktsegment STRING, c_acctbal DOUBLE"
    ).load(out)


@register(
    "join_salted",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_lines,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_join_salted(spark, sf_dir):
    """Skew-mitigated fact join, HOT-KEY-ONLY salting (two-phase):

    1. Heavy-hitter detection on a 5% sample of the probe side —
       bounded top-64 key set, broadcast everywhere it is used.
    2. Single-pass salted join (operators.joins.salted_join): every fact
       row gets a deterministic salt (l_linenumber mod S for hot keys, 0
       for cold), every build row is exploded by a PER-ROW count (S
       copies for hot keys, exactly 1 otherwise), and one join runs on
       (key, salt) — a melting hot-key reducer becomes S even ones while
       cold keys join 1:1. Identical to the unsalted join for ANY
       detected hot set (the oracle is the plain SQL join): detection
       quality affects performance only, never answers.

    This replaces the round-3 form that exploded the ENTIRE orders side
    8x before its shuffle — at 100 TB that is 8x a fact-table shuffle to
    relieve what is typically <100 hot keys; here the build side grows by
    only (S-1) x |hot| rows (<=448) regardless of data scale, and each
    side is scanned once (a hot/cold branch union would scan both twice —
    measured no better than full salting at 10M rows). Manual salting is
    the recipe for the cases AQE's skew-join can't rescue: streaming
    state, aggregation skew, or a build side that arrives pre-partitioned
    (BASELINE.md skew A/B). Plan-gated in
    tests/test_skew.py (one sequence-explode, no union)."""
    from ..operators import joins

    S = 8
    cat = Catalog(spark, sf_dir)
    li, o = cat.table("lineitem"), cat.table("orders")
    hot = joins.detect_heavy_hitters(
        li, "l_orderkey", fraction=0.05, min_count=2, top=64, seed=7
    )
    # the helper's default xxhash64 salt spreads a hot key evenly over
    # all S buckets; the previous explicit l_linenumber % S override
    # never produced salt 0 and was skewed toward low line numbers, so
    # bucket 1 stayed the straggler (r13 review). Values unaffected —
    # salting only shapes partials.
    j = joins.salted_join(
        li, o, "l_orderkey", "o_orderkey", hot, n_salts=S,
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "join_null_skew",
    oracle="""
    SELECT o_orderkey, c_name
    FROM (SELECT o_orderkey,
                 CASE WHEN o_custkey % 3 = 0 THEN NULL
                      ELSE o_custkey END AS k
          FROM orders) o
    LEFT JOIN customer ON k = c_custkey
    """,
)
def q_join_null_skew(spark, sf_dir):
    """NULL-key skew split for outer joins: a third of the probe keys are
    NULL (derived here; in the wild — unmapped users, optional FKs). SQL
    semantics say NULL matches NOTHING, yet a plain shuffle join still
    hashes every NULL row to ONE reducer — at 100 TB the canonical
    straggler partition that no AQE skew split can save (it is one KEY,
    not one oversized partition range). The fix costs nothing: route
    NULL-key rows around the join entirely (they keep their left columns,
    right side null-filled) and join only the non-null stream; the union
    is partition-local. Identical answers to the plain LEFT JOIN (the
    oracle) by the NULL-never-matches rule."""
    cat = Catalog(spark, sf_dir)
    o = cat.table("orders").select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("o_custkey")).alias("k"),
    )
    c = cat.table("customer").select("c_custkey", "c_name")
    matched = (
        o.filter(F.col("k").isNotNull())
        .join(c, F.col("k") == F.col("c_custkey"), "left")
        .select("o_orderkey", "c_name")
    )
    null_side = o.filter(F.col("k").isNull()).select(
        "o_orderkey", F.lit(None).cast("string").alias("c_name")
    )
    return matched.unionByName(null_side)


@register(
    "fn_try_arith",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_custkey % 5 = 0 THEN NULL
                ELSE round(o_totalprice / (o_custkey % 5), 4) END AS per_unit,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS pri_num
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
)
def q_fn_try_arith(spark, sf_dir):
    """Error-safe arithmetic: ``try_divide`` nulls division-by-zero and
    ``try_cast`` nulls unparseable strings instead of failing the job —
    at 100 TB a single malformed row must never kill a 10-hour stage
    (the quarantine philosophy applied to expressions). DuckDB's
    division returns inf rather than erroring, so the oracle states the
    same NULL semantics with CASE/TRY_CAST.

    Performance note (r6 sweep finding): try_cast over an ALWAYS-invalid
    string burns a JVM exception per row (~9 µs — the sf0.1 single-file
    scan measured 1.3 s serial, masked at sf1 only by task parallelism).
    The demo therefore casts the priority's numeric prefix — realistic
    mixed data where try_cast guards the rare malformed row — and the
    rule stands: for a column KNOWN to be dirty wholesale, pre-guard with
    a cheap rlike instead of eating the exception path per row."""
    o = Catalog(spark, sf_dir).table("orders")
    return (
        o.select(
            "o_orderkey",
            F.round(
                F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 5),
                4,
            ).alias("per_unit"),
            F.substring(F.col("o_orderpriority"), 1, 1)
            .try_cast("int").alias("pri_num"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@register(
    "fn_fuzzy_lookup",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(levenshtein(c_name, 'Customer#000000042') AS INT) AS d
    FROM customer
    WHERE levenshtein(c_name, 'Customer#000000042') <= 2
    ORDER BY d, c_custkey
    """,
)
def q_fn_fuzzy_lookup(spark, sf_dir):
    """Typo-tolerant point lookup: edit distance ≤ 2 against a probe
    string — the 'did you mean' search fallback. levenshtein is a
    JVM-side built-in (codegen, no Python); at 100 TB you'd prefilter
    with a cheap length/prefix band before paying O(len²) per row —
    here the full scan IS the demonstration."""
    c = Catalog(spark, sf_dir).table("customer")
    d = F.levenshtein(F.col("c_name"), F.lit("Customer#000000042"))
    return (
        c.select("c_custkey", "c_name", d.cast("int").alias("d"))
        .filter(F.col("d") <= 2)
        .orderBy("d", "c_custkey")
    )


@register(
    "source_json_variant",
    oracle="""
    WITH j AS (
      SELECT o_orderkey,
             '{"id":' || o_orderkey || ',"cust":{"key":' || o_custkey
             || '},"tags":["' || o_orderstatus || '","' || o_orderpriority
             || '"],"price":' || round(o_totalprice, 2) || '}' AS doc
      FROM orders
    )
    SELECT o_orderkey,
           CAST(doc->>'$.cust.key' AS BIGINT) AS cust_key,
           doc->>'$.tags[1]' AS priority,
           CAST(doc->>'$.price' AS DOUBLE) AS price,
           doc->>'$.missing.path' AS absent
    FROM j
    WHERE CAST(doc->>'$.cust.key' AS BIGINT) % 10 = 0
    """,
)
def q_source_json_variant(spark, sf_dir):
    """Semi-structured ingestion through Spark 4's VARIANT type — the
    schema-on-read answer for evolving JSON payloads: ``parse_json``
    ingests ONCE into the binary variant encoding (no declared schema,
    unlike from_json), and typed paths come out with
    ``try_variant_get`` — nested object, array index, and a missing path
    (NULL, never an error). At 100 TB this is the difference between
    re-inferring/declaring a schema per producer version and pointing
    shredded-path queries at one variant column; filters on extracted
    paths stay Catalyst expressions. The oracle replays the same paths
    with DuckDB's JSON operators over identically-synthesized
    documents."""
    o = Catalog(spark, sf_dir).table("orders")
    doc = F.concat(
        F.lit('{"id":'), F.col("o_orderkey").cast("string"),
        F.lit(',"cust":{"key":'), F.col("o_custkey").cast("string"),
        F.lit('},"tags":["'), F.col("o_orderstatus"),
        F.lit('","'), F.col("o_orderpriority"),
        F.lit('"],"price":'), F.round("o_totalprice", 2).cast("string"),
        F.lit("}"),
    )
    v = o.select("o_orderkey", F.parse_json(doc).alias("v"))
    out = v.select(
        "o_orderkey",
        F.try_variant_get("v", "$.cust.key", "long").alias("cust_key"),
        F.try_variant_get("v", "$.tags[1]", "string").alias("priority"),
        F.try_variant_get("v", "$.price", "double").alias("price"),
        F.try_variant_get("v", "$.missing.path", "string").alias("absent"),
    )
    return out.filter(F.col("cust_key") % 10 == 0)


@register(
    "subquery_correlated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders o
    WHERE 2 * CAST(round(o.o_totalprice * 100) AS BIGINT)
            * (SELECT count(*) FROM orders o2
               WHERE o2.o_custkey = o.o_custkey)
          > 3 * (SELECT CAST(sum(CAST(round(o3.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
    ORDER BY o.o_orderkey
    """,
)
def q_subquery_correlated(spark, sf_dir):
    """Correlated scalar subqueries — 'orders at least 1.5x their
    customer's average order value' — handed to Catalyst AS SQL so its
    decorrelation rewrite does the work: both correlated subqueries
    become ONE grouped aggregate on o_custkey joined back to the fact
    (RewriteCorrelatedScalarSubquery), not a per-row re-scan — the naive
    interpretation is O(n) scans, the decorrelated plan is one shuffle.
    The 1.5x-average comparison is cross-multiplied into integer
    arithmetic on cent-scaled BIGINTs (2*price*count > 3*sum), so no
    engine ever materializes the average — a float blend whose last-ulp
    accumulation order would flip boundary rows between engines."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql("""
        SELECT o.o_orderkey, o.o_custkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders o
        WHERE 2 * CAST(round(o.o_totalprice * 100) AS BIGINT)
                * (SELECT count(*) FROM orders o2
                   WHERE o2.o_custkey = o.o_custkey)
              > 3 * (SELECT CAST(sum(CAST(round(o3.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey
    """)


_LATERAL_SQL = """
SELECT n_name, t.c_name, t.c_acctbal
FROM nation, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_name ASC LIMIT 2
) t
"""


@register(
    "join_runtime_filter",
    oracle="""
    SELECT l.l_orderkey, CAST(sum(CAST(round(l.l_extendedprice * 100)
             AS BIGINT)) AS BIGINT) AS revenue_c
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= DATE '1995-01-01'
      AND o.o_orderdate < DATE '1995-02-01'
    GROUP BY l.l_orderkey
    """,
)
def q_join_runtime_filter(spark, sf_dir):
    """Selective dim-filtered fact-fact join — the shape where Spark's
    RUNTIME BLOOM-FILTER join (InjectRuntimeFilter, 3.3+) earns its
    keep: the filtered orders side builds a bloom filter at runtime
    that is pushed into the lineitem SCAN, so at 100 TB the big side
    skips rows (and with min/max, whole row groups) that can never
    join, instead of shuffling them to die in the join. Locally the
    application-side scan is under the 10 GB default
    ``runtimeFilter.applicationSideScanSizeThreshold``, so the plan is
    an ordinary broadcast join here and the injection itself is
    pytest-pinned with the thresholds lowered
    (tests/test_operators.py::test_runtime_bloom_filter_injects) — the
    cluster behavior is the default-on config, not custom code. Revenue
    is cent-scaled integer so the grouped sum hash-matches."""
    cat = Catalog(spark, sf_dir)
    li, o = cat.table("lineitem"), cat.table("orders")
    sel = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-02-01")
    )
    return (
        li.join(sel, li["l_orderkey"] == sel["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
             .alias("revenue_c"))
    )


@register("subquery_lateral", oracle=_LATERAL_SQL)
def q_subquery_lateral(spark, sf_dir):
    """Correlated LATERAL subquery with ORDER BY + LIMIT — 'top-2
    customers by balance per nation', the per-row table subquery the
    reference's ORM grammar cannot express but raw-SQL users reach for
    constantly. The same SQL text runs on both engines. Catalyst
    decorrelates the limit-per-group lateral into a join + per-key
    window rank (DecorrelateInnerQuery), so the physical plan is the
    window_rank_topk shape — one keyed exchange, never a per-outer-row
    re-scan; ties inside the LIMIT are pinned by the c_name tiebreak so
    the selected rowset is engine-independent."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(_LATERAL_SQL)


@register(
    "fn_sql_udf",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
           CAST(round(o_totalprice * 100) AS BIGINT) / 100 AS dollars
    FROM orders WHERE o_orderkey % 1000 = 0
    """,
)
def q_fn_sql_udf(spark, sf_dir):
    """SQL-defined scalar function (Spark 4 `CREATE FUNCTION ... RETURN
    expr`, SPARK-46246): the declarative UDF path — the body is inlined
    into the plan as a Catalyst expression at analysis, so unlike any
    Python UDF it keeps whole-stage codegen, pushdown, and vectorization
    (it IS the expression; there is no function-call boundary at run
    time). The oracle states the expanded expression — semantics must
    match exactly. The /100 is DOUBLE division on BOTH engines
    (BIGINT/INT promotes to DOUBLE in Spark and DuckDB alike —
    r13 review corrected this comment, which claimed the
    opposite; "restoring" integer division on either side
    would truncate dollars and break the hash)."""
    Catalog(spark, sf_dir).register_views()
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION cents(p DOUBLE)
        RETURNS BIGINT RETURN CAST(round(p * 100) AS BIGINT)
    """)
    return spark.sql("""
        SELECT o_orderkey, cents(o_totalprice) AS price_c,
               cents(o_totalprice) / 100 AS dollars
        FROM orders WHERE o_orderkey % 1000 = 0
    """)


@register(
    "filter_collated",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE lower(c_mktsegment) = lower('bUiLdInG')
    """,
)
def q_filter_collated(spark, sf_dir):
    """Collation-aware comparison (Spark 4 COLLATE, SPARK-46830):
    case-insensitive equality expressed as a UTF8_LCASE collated
    compare instead of wrapping both sides in lower() — the collation
    is a property of the comparison, evaluated JVM-side with
    collation-aware equality (and at scale collated columns keep
    min/max pruning usable where expression-wrapped predicates lose
    it). The oracle is the lower()-normalized equivalent."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql("""
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_mktsegment COLLATE UTF8_LCASE = 'bUiLdInG' COLLATE UTF8_LCASE
    """)
