"""Registry: write/mutation operators as pure post-state queries
(SURVEY.md §2.8). The physical table format lives in
``etl_backend_spark.etl.manifest``; here each mutation's *semantics* (the
post-state relation) is expressed as a DataFrame so the DuckDB oracle can
check it without either engine mutating shared files.
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from ..sources import cache
from ..sources.catalog import SCHEMAS, Catalog
from . import register


@register(
    "etl_append",
    oracle="""
    SELECT o_orderstatus, count(*) AS n FROM (
      SELECT o_orderstatus FROM orders
      UNION ALL
      SELECT * FROM (VALUES ('O'), ('O'), ('X')) v(o_orderstatus)
    ) GROUP BY o_orderstatus
    """,
)
def q_etl_append(spark, sf_dir):
    """Insert rows — `ad.create`/`message.create`
    (reference src/routes/ads.ts:53-74, src/routes/chat.ts:186-202):
    append = unionByName of a literal-rows DataFrame."""
    o = Catalog(spark, sf_dir).table("orders").select("o_orderstatus")
    new = spark.createDataFrame(
        [Row(o_orderstatus="O"), Row(o_orderstatus="O"), Row(o_orderstatus="X")]
    )
    return o.unionByName(new).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "etl_update",
    oracle="""
    SELECT status, count(*) AS n FROM (
      SELECT CASE WHEN o_totalprice > 400000.0 THEN 'deleted'
                  ELSE o_orderstatus END AS status
      FROM orders
    ) GROUP BY status
    """,
)
def q_etl_update(spark, sf_dir):
    """Predicate-targeted column update — soft delete
    (reference src/routes/ads.ts:259-262): conditional rewrite of one column."""
    o = Catalog(spark, sf_dir).table("orders")
    status = (
        F.when(F.col("o_totalprice") > 400000.0, "deleted")
        .otherwise(F.col("o_orderstatus"))
        .alias("status")
    )
    return o.select(status).groupBy("status").agg(F.count(F.lit(1)).alias("n"))


@register(
    "etl_update_dynamic",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 'CONSTRUCTION'
                ELSE c_mktsegment END AS c_mktsegment,
           round(CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END, 2)
             AS c_acctbal
    FROM customer
    """,
)
def q_etl_update_dynamic(spark, sf_dir):
    """Partial update of present fields only — conditional spread
    `...(name && {name})` (reference src/routes/auth.ts:142-157): a fold of
    per-field when() rewrites."""
    c = Catalog(spark, sf_dir).table("customer")
    updates = {
        "c_mktsegment": F.when(
            F.col("c_mktsegment") == "BUILDING", "CONSTRUCTION"
        ).otherwise(F.col("c_mktsegment")),
        "c_acctbal": F.round(
            F.when(F.col("c_acctbal") < 0, 0.0).otherwise(F.col("c_acctbal")), 2
        ),
    }
    out = c
    for name, expr in updates.items():
        out = out.withColumn(name, expr)
    return out.select("c_custkey", "c_mktsegment", "c_acctbal")


@register(
    "etl_delete",
    oracle="""
    SELECT count(*) AS n_remaining FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def q_etl_delete(spark, sf_dir):
    """Hard delete via anti-join (reference src/routes/admin.ts:113-116):
    post-state = lineitems not referenced by the deleted-order key set."""
    cat = Catalog(spark, sf_dir)
    li = cat.table("lineitem")
    deleted = cat.table("orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    remaining = li.join(
        deleted, li["l_orderkey"] == deleted["o_orderkey"], "left_anti"
    )
    return remaining.agg(F.count(F.lit(1)).alias("n_remaining"))


@register(
    "etl_upsert",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    UNION ALL
    SELECT * FROM (VALUES (5, 'ATLANTIS'), (0, 'AFRICA-DUP')) v(r_regionkey, r_name)
    WHERE r_regionkey NOT IN (SELECT r_regionkey FROM region)
    """,
)
def q_etl_upsert(spark, sf_dir):
    """Insert-if-absent upsert — `user.upsert({update:{}, create:{...}})`
    (reference prisma/seed.ts:11-21): anti-join the incoming batch against
    existing keys, then unionByName. MERGE without a transactional format."""
    region = Catalog(spark, sf_dir).table("region")
    incoming = spark.createDataFrame(
        [(5, "ATLANTIS"), (0, "AFRICA-DUP")], SCHEMAS["region"]
    )
    fresh = incoming.join(
        region.select("r_regionkey"),
        on="r_regionkey",
        how="left_anti",
    )
    return region.unionByName(fresh)


@register(
    "etl_cascade_delete",
    oracle="""
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0)
    SELECT
      (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM del))
        AS n_customers,
      (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM del))
        AS n_orders,
      (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del)))
        AS n_lineitems
    """,
)
def q_etl_cascade_delete(spark, sf_dir):
    """FK cascade delete — `onDelete: Cascade` User→Ad→Favorite/Message
    (reference prisma/schema.prisma:49,65-66; migration.sql:115-139): ordered
    anti-join deletes down the FK tree."""
    cat = Catalog(spark, sf_dir)
    cust, orders, li = cat.table("customer"), cat.table("orders"), cat.table("lineitem")
    del_keys = cust.filter(F.col("c_custkey") % 100 == 0).select("c_custkey")
    cust2 = cust.join(del_keys, on="c_custkey", how="left_anti")
    orders_deleted = orders.join(
        del_keys, orders["o_custkey"] == del_keys["c_custkey"], "left_semi"
    ).select("o_orderkey")
    orders2 = orders.join(
        del_keys, orders["o_custkey"] == del_keys["c_custkey"], "left_anti"
    )
    li2 = li.join(
        orders_deleted, li["l_orderkey"] == orders_deleted["o_orderkey"], "left_anti"
    )
    return (
        cust2.agg(F.count(F.lit(1)).alias("n_customers"))
        .crossJoin(orders2.agg(F.count(F.lit(1)).alias("n_orders")))
        .crossJoin(li2.agg(F.count(F.lit(1)).alias("n_lineitems")))
    )


@register(
    "etl_touch_parent",
    oracle="""
    SELECT user_id, max(ts) AS updated_at FROM events GROUP BY user_id
    """,
)
def q_etl_touch_parent(spark, sf_dir):
    """Dependent parent-timestamp refresh after child insert —
    `conversation.updatedAt = max(message.createdAt)`
    (reference src/routes/chat.ts:205-208, src/websocket.ts:65-68)."""
    ev = Catalog(spark, sf_dir).table("events")
    return ev.groupBy("user_id").agg(F.max("ts").alias("updated_at"))


@register(
    "etl_scd2_merge",
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_mktsegment,
             TIMESTAMP '2020-01-01' AS valid_from,
             NULL::TIMESTAMP AS valid_to, true AS is_current
      FROM customer
    ), inc AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 'MACHINERY2'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    ), changed AS (
      SELECT cur.c_custkey FROM cur JOIN inc USING (c_custkey)
      WHERE cur.c_mktsegment IS DISTINCT FROM inc.c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
           CASE WHEN ch.c_custkey IS NOT NULL
                THEN TIMESTAMP '2024-06-01' ELSE c.valid_to END AS valid_to,
           ch.c_custkey IS NULL AS is_current
    FROM cur c LEFT JOIN changed ch ON c.c_custkey = ch.c_custkey
    UNION ALL
    SELECT i.c_custkey, i.c_mktsegment,
           TIMESTAMP '2024-06-01', NULL::TIMESTAMP, true
    FROM inc i JOIN changed ch ON i.c_custkey = ch.c_custkey
    """,
)
def q_etl_scd2_merge(spark, sf_dir):
    """SCD Type-2 merge (history-preserving upsert — the warehouse form of
    the reference's in-place profile update, src/routes/auth.ts:142-157):
    changed keys get their old row closed out at the effective timestamp and
    a new current row appended; unchanged rows carry through untouched."""
    from ..etl.scd import scd2_merge

    c = Catalog(spark, sf_dir).table("customer")
    current = c.select(
        "c_custkey", "c_mktsegment",
        F.to_timestamp(F.lit("2020-01-01")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    incoming = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, "MACHINERY2")
        .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
    )
    return scd2_merge(
        current, incoming, "c_custkey", ["c_mktsegment"],
        F.to_timestamp(F.lit("2024-06-01")),
    )


@register(
    "etl_merge_manifest",
    oracle="""
    WITH post AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey BETWEEN 1 AND 50 THEN 0.0
                  ELSE o_totalprice END AS p
      FROM orders
      UNION ALL
      SELECT -1, 0.0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN p = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zeroed,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM post
    """,
)
def q_etl_merge_manifest(spark, sf_dir):
    """MERGE through the REAL manifest table format, verified by the gate:
    create a manifest table from orders in a fresh temp dir, run the
    merge-on-read upsert (keys 1–50 zeroed + one brand-new key −1), read
    the committed post-state back through the manifest, and emit
    integer-exact aggregates of it. Unlike the semantic etl_* post-state
    queries, this exercises the physical machinery — file stats, interval
    pruning, deletion-vector marking, atomic commit — end to end under the
    value-hash check. (etl/manifest.py; reference mutation semantics
    src/routes/ads.ts:53-74,259-262 scaled to a table format.)"""
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable

    o = Catalog(spark, sf_dir).table("orders")
    root = tempfile.mkdtemp(prefix="etlbs-merge-")
    try:
        t = ManifestTable(spark, root, "orders", ["o_orderkey"])
        t.create(o.repartition(4))
        incoming = (
            o.filter(F.col("o_orderkey").between(1, 50))
            .unionByName(
                o.filter(F.col("o_orderkey") == 1)
                .withColumn("o_orderkey", F.lit(-1).cast("long"))
            )
            .withColumn("o_totalprice", F.lit(0.0))
        )
        t.upsert(incoming, "o_orderkey")
        # materialize the 1-row aggregate BEFORE dropping the temp table —
        # a lazy result would read files this builder is about to delete
        row = t.read().agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("o_totalprice") == 0.0).cast("long")).alias("n_zeroed"),
            F.sum("o_orderkey").alias("key_sum"),
        ).collect()
        return spark.createDataFrame(row, "n_rows LONG, n_zeroed LONG, key_sum LONG")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "etl_time_travel",
    oracle="""
    SELECT 'v0' AS snap, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey <= 500
    UNION ALL
    SELECT 'live', CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey > 100 OR o_orderkey % 2 = 0
    """,
)
def q_etl_time_travel(spark, sf_dir):
    """TIME TRAVEL through the manifest parent chain, value-checked by the
    gate: create (orders<=500) → append (orders>500) → delete_dv (<=100
    and odd, a deletion vector over the files whose stats meet <=100),
    then read BOTH the live table and the creation snapshot
    (``read_at(history()[-1])``). The oracle states each as a plain
    predicate over the source table, so the gate fails if a commit ever
    mutates past snapshots (the immutability contract Iceberg/Delta
    time travel rests on). (etl/manifest.py:history,read_at.)"""
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable

    o = Catalog(spark, sf_dir).table("orders")
    root = tempfile.mkdtemp(prefix="etlbs-tt-")
    try:
        t = ManifestTable(spark, root, "orders", ["o_orderkey"])
        t.create(o.filter(F.col("o_orderkey") <= 500).repartition(4))
        t.append(o.filter(F.col("o_orderkey") > 500).repartition(4))
        t.delete_dv(
            (F.col("o_orderkey") <= 100) & (F.col("o_orderkey") % 2 == 1),
            "o_orderkey", lo=None, hi=100,
        )
        v0 = t.history()[-1]  # creation commit (newest-first chain)

        def agg(df, label):
            r = df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
            ).collect()[0]
            return [(label, r["n_rows"], r["key_sum"])]
        rows = agg(t.read_at(v0), "v0") + agg(t.read(), "live")
        return spark.createDataFrame(rows, "snap STRING, n_rows LONG, key_sum LONG")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "etl_snapshot_diff",
    oracle="""
    SELECT 'added' AS change, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 1000
    UNION ALL
    SELECT 'removed', CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey <= 100 AND o_orderkey % 2 = 1
    """,
)
def q_etl_snapshot_diff(spark, sf_dir):
    """CHANGE FEED between two manifest snapshots, value-checked: after
    create (<=500) → append (500..1000] → delete_dv (<=100 odd), diff the
    creation snapshot against live by key anti-joins over read_at/read —
    the poor-man's CDC every downstream incremental consumer wants from
    a table format. The oracle states both change sets as plain
    predicates over the source. At scale the anti-joins shuffle on the
    key once each; a production feed would read only the manifests'
    entry-list difference first and diff just the touched files."""
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable

    o = Catalog(spark, sf_dir).table("orders")
    root = tempfile.mkdtemp(prefix="etlbs-diff-")
    try:
        t = ManifestTable(spark, root, "orders", ["o_orderkey"])
        t.create(o.filter(F.col("o_orderkey") <= 500).repartition(2))
        v0 = t.history()[0]
        t.append(
            o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1000))
            .repartition(2)
        )
        t.delete_dv(
            (F.col("o_orderkey") <= 100) & (F.col("o_orderkey") % 2 == 1),
            "o_orderkey", lo=None, hi=100,
        )
        old, live = t.read_at(v0), t.read()
        added = live.join(old.select("o_orderkey"), "o_orderkey", "left_anti")
        removed = old.join(live.select("o_orderkey"), "o_orderkey", "left_anti")

        def agg(df, label):
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").alias("key_sum"),
            ).collect()[0]
            return [(label, r["n"], r["key_sum"])]
        rows = agg(added, "added") + agg(removed, "removed")
        return spark.createDataFrame(rows, "change STRING, n LONG, key_sum LONG")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "etl_schema_evolution",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey > 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_channel,
           2 AS n_cols_v0, 3 AS n_cols_live
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def q_etl_schema_evolution(spark, sf_dir):
    """ADD COLUMN evolution through the manifest format, value-checked:
    create (2 columns, keys<=1000) → append keys 1001..2000 WITH a new
    o_channel column (evolve=True; the widened schema rides the same
    commit) → read the live table (old rows null-fill the new column)
    and the creation snapshot (still 2 columns). The oracle pins row
    counts, the null/filled split, and both snapshot column counts —
    so the gate fails if evolution ever rewrites history or null-fills
    the wrong side. (etl/manifest.py:append(evolve=True), _schema_of.)"""
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable

    o = Catalog(spark, sf_dir).table("orders").select("o_orderkey", "o_totalprice")
    root = tempfile.mkdtemp(prefix="etlbs-evolve-")
    try:
        t = ManifestTable(spark, root, "orders", ["o_orderkey"])
        t.create(o.filter(F.col("o_orderkey") <= 1000).repartition(2))
        t.append(
            o.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000))
            .withColumn("o_channel", F.lit("web"))
            .repartition(2),
            evolve=True,
        )
        live = t.read()
        v0 = t.read_at(t.history()[-1])
        r = live.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_channel").isNotNull().cast("long")).alias("nc"),
        ).collect()[0]
        row = [(r["n"], r["nc"], len(v0.columns), len(live.columns))]
        return spark.createDataFrame(
            row, "n_rows LONG, n_with_channel LONG, n_cols_v0 INT, n_cols_live INT"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "etl_compact_vacuum",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
    FROM orders
    """,
)
def q_etl_compact_vacuum(spark, sf_dir):
    """Small-file COMPACTION + VACUUM, value-checked: orders lands as 32
    tiny files (the after-streaming-appends shape), ``compact`` rewrites
    them into ~target-row bins in one atomic commit, ``vacuum`` reclaims
    the orphaned originals — and the data is bit-for-bit unchanged (the
    oracle is the plain source aggregate). The builder asserts the file
    count actually dropped and the old files are actually gone, so the
    gate row fails loudly if compaction ever rewrites rows or vacuum
    ever reclaims live data. At 100 TB this is the hygiene job that
    keeps scan task counts sane. (etl/manifest.py:compact,vacuum.)"""
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable, vacuum

    o = Catalog(spark, sf_dir).table("orders")
    root = tempfile.mkdtemp(prefix="etlbs-compact-")
    try:
        t = ManifestTable(spark, root, "orders", ["o_orderkey"])
        t.create(o.repartition(32))  # 32 small files
        n_before = len(t.files())
        t.compact(target_rows=200_000)
        n_after = len(t.files())
        stats = vacuum(t)
        assert n_after < n_before, (n_before, n_after)
        assert stats["data_files"] > 0, stats
        row = t.read().agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
            F.count_distinct("o_orderstatus").alias("n_status"),
        ).collect()
        return spark.createDataFrame(
            row, "n_rows LONG, key_sum LONG, n_status LONG"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "etl_clone_shallow",
    oracle="""
    WITH cl AS (
      SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'F'
      UNION ALL
      SELECT o_orderkey FROM orders WHERE o_orderkey <= 100
    )
    SELECT CAST((SELECT count(*) FROM cl) AS BIGINT) AS clone_rows,
           CAST((SELECT sum(o_orderkey) FROM cl) AS BIGINT) AS clone_key_sum,
           CAST((SELECT count(*) FROM orders)
                + (SELECT count(*) FROM orders WHERE o_orderkey <= 50)
                AS BIGINT) AS src_rows
    """,
)
def q_etl_clone_shallow(spark, sf_dir):
    """Zero-copy SHALLOW CLONE, value-checked end to end: orders becomes a
    manifest table, ``clone_shallow`` forks it as pure metadata (the
    builder asserts the clone references the SOURCE's files byte-for-byte
    and wrote NOTHING under its own data_dir), then both sides diverge —
    the clone DV-deletes status-F rows and appends a key≤100 slice, the
    source appends a key≤50 slice — and the oracle pins both final states:
    each mutation landed exactly once, on exactly one side. At 100 TB this
    is how you fork a table for an experiment in milliseconds instead of
    copying 100 TB. (etl/manifest.py:clone_shallow.)"""
    import os
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable, clone_shallow

    o = Catalog(spark, sf_dir).table("orders")
    root = tempfile.mkdtemp(prefix="etlbs-clone-")
    try:
        src = ManifestTable(spark, root, "orders", ["o_orderkey"])
        src.create(o)
        c = clone_shallow(src, root, "orders_fork")
        # zero-copy receipts: same file list, nothing in the clone's dir
        assert {e["path"] for e in c.files()} == \
            {e["path"] for e in src.files()}
        assert not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(c.data_dir) for f in fs
        ), "shallow clone copied data"
        # diverge the clone: merge-on-read delete + an append
        c.delete_dv(F.col("o_orderstatus") == "F")
        c.append(o.filter(F.col("o_orderkey") <= 100))
        # diverge the source the other way
        src.append(o.filter(F.col("o_orderkey") <= 50))
        cl = c.read().agg(
            F.count(F.lit(1)).alias("clone_rows"),
            F.sum("o_orderkey").alias("clone_key_sum"),
        ).collect()[0]
        n_src = src.read().count()
        return spark.createDataFrame(
            [(cl["clone_rows"], cl["clone_key_sum"], n_src)],
            "clone_rows LONG, clone_key_sum LONG, src_rows LONG",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "etl_manifest_pruned_read",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey BETWEEN 100 AND 300
    """,
)
def q_etl_manifest_pruned_read(spark, sf_dir):
    """Manifest-stats file skipping, value-checked by the gate: the table
    is created from RANGE-disjoint chunks (repartitionByRange ⇒ tight
    per-file [min,max] key intervals), and ``read_pruned`` hands Spark only
    the files whose interval intersects the predicate — the manifest plays
    the role of Iceberg/Delta file-level zone maps. The builder asserts the
    prune actually happened (files opened < files live), so this gate row
    fails loudly if stats collection or interval logic ever silently
    degrades to scan-everything; the residual filter then applies Spark-
    side. At 100 TB this is the difference between opening 4 files and
    40,000. (etl/manifest.py:read_pruned; stats collection _write_files.)"""
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable

    o = Catalog(spark, sf_dir).table("orders")
    root = tempfile.mkdtemp(prefix="etlbs-prune-")
    try:
        t = ManifestTable(spark, root, "orders", ["o_orderkey"])
        t.create(o.repartitionByRange(8, F.col("o_orderkey")))
        df, skipped = t.read_pruned("o_orderkey", lo=100, hi=300)
        n_live = len(t.files())
        n_opened = len(df.inputFiles())
        assert skipped > 0 and n_opened < n_live, (skipped, n_opened, n_live)
        rows = (
            df.filter(F.col("o_orderkey").between(100, 300))
            .select("o_orderkey", "o_totalprice")
            .collect()  # materialize before the temp table is deleted
        )
        return spark.createDataFrame(rows, "o_orderkey LONG, o_totalprice DOUBLE")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "etl_zorder_pruned_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey <= 20 AND o_orderkey <= 2000
    """,
)
def q_etl_zorder_pruned_read(spark, sf_dir):
    """Z-order (Morton-interleaved) clustering, value-checked by the gate:
    the table is laid out by ``zorder_sort(o_custkey, o_orderkey)`` — each
    file's (custkey, orderkey) min/max box is a tight rectangle — and the
    builder asserts manifest stats prune files on EACH axis independently
    (the Delta OPTIMIZE ZORDER contract a single-column sort cannot give:
    sorting by custkey alone leaves every file's orderkey interval spanning
    the whole domain). The 2-D predicate then intersects both axes' prune
    sets before the residual filter. At 100 TB this is the layout that
    serves BOTH `WHERE user = ?` and `WHERE id < ?` dashboards from one
    copy of the data. (sources/layout.py:zorder_value/zorder_sort;
    etl/manifest.py:read_pruned.)"""
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable
    from ..sources.layout import zorder_sort

    o = Catalog(spark, sf_dir).table("orders")
    root = tempfile.mkdtemp(prefix="etlbs-zorder-")
    try:
        t = ManifestTable(spark, root, "z_orders",
                          ["o_custkey", "o_orderkey"])
        t.create(zorder_sort(o, "o_custkey", "o_orderkey", n_files=16))
        _, skipped_cust = t.read_pruned("o_custkey", lo=None, hi=20)
        _, skipped_order = t.read_pruned("o_orderkey", lo=None, hi=2000)
        assert skipped_cust > 0 and skipped_order > 0, (
            skipped_cust, skipped_order,
        )
        # 2-D prune: keep files whose boxes intersect BOTH ranges
        keep = [
            e["path"] for e in t.files()
            if e["stats"]["o_custkey"][0] <= 20
            and e["stats"]["o_orderkey"][0] <= 2000
        ]
        df = spark.read.parquet(*keep) if keep else t.read().limit(0)
        rows = (
            df.filter((F.col("o_custkey") <= 20)
                      & (F.col("o_orderkey") <= 2000))
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .collect()  # materialize before the temp table is deleted
        )
        return spark.createDataFrame(
            rows, "o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "etl_check_constraints",
    oracle="""
    SELECT 'unique(o_orderkey)' AS rule,
           (SELECT count(*) FROM (SELECT o_orderkey FROM orders
            GROUP BY o_orderkey HAVING count(*) > 1)) AS n_violations
    UNION ALL
    SELECT 'unique(o_custkey)',
           (SELECT count(*) FROM (SELECT o_custkey FROM orders
            GROUP BY o_custkey HAVING count(*) > 1))
    UNION ALL
    SELECT 'fk(orders.shifted_key -> customer)',
           (SELECT count(*) FROM
             (SELECT (o_custkey * 7) % 2000 AS sk FROM orders) o
            LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
              ON sk = c_custkey
            WHERE c_custkey IS NULL)
    UNION ALL
    SELECT 'not_null(o_orderpriority)',
           (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL)
    UNION ALL
    SELECT 'enum(o_orderstatus)',
           (SELECT count(*) FROM orders
            WHERE o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('O', 'F'))
    ORDER BY rule
    """,
)
def q_etl_check_constraints(spark, sf_dir):
    """The reference's schema invariants as a one-shot audit
    (etl/constraints.py): PK uniqueness (clean), a deliberately NON-unique
    key (o_custkey — proves the checker counts real duplicates), FK
    orphans over a shifted key derivation (nonzero by construction — an
    all-zero audit would be a vacuous gate), required-column nulls, and an
    enum domain check that flags the 'P' status as out-of-domain (again
    deliberately nonzero). Output is the tidy (rule, n_violations) audit
    frame; every check's shuffle carries keys only. Reference invariants:
    prisma/schema.prisma:44,68,84; migration.sql:115-139."""
    from ..etl import constraints as C

    o = Catalog(spark, sf_dir).table("orders")
    c = Catalog(spark, sf_dir).table("customer")
    shifted = o.select(((F.col("o_custkey") * 7) % 2000).alias("sk"))
    checks = [
        ("unique(o_orderkey)", C.unique_violations(o, ["o_orderkey"])),
        ("unique(o_custkey)", C.unique_violations(o, ["o_custkey"])),
        ("fk(orders.shifted_key -> customer)",
         C.fk_orphans(shifted, "sk", c, "c_custkey")),
        ("enum(o_orderstatus)",
         C.enum_violations(o, "o_orderstatus", ["O", "F"])),
    ]
    summary = C.summarize(checks).unionByName(
        C.null_violations(o, ["o_orderpriority"])
    )
    return summary.orderBy("rule")


@register(
    "etl_incremental_cascade",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             count(*) AS n, sum(value) AS sv
      FROM events GROUP BY user_id, h
    ), daily AS (
      SELECT user_id, date_trunc('day', h) AS d,
             sum(n) AS n, sum(sv) AS sv
      FROM hourly GROUP BY user_id, d
    )
    SELECT user_id, date_trunc('month', d) AS m,
           CAST(sum(n) AS BIGINT) AS n, round(sum(sv), 2) AS sum_value,
           CAST(count(*) AS INT) AS active_days
    FROM daily GROUP BY user_id, m
    ORDER BY user_id, m
    """,
)
def q_etl_incremental_cascade(spark, sf_dir):
    """Incrementally-maintained rollup cascade: the events table arrives
    as THREE append batches (split by event_id mod — arbitrary arrival
    order within a batch), each folded through etl/incremental.py
    cascade_merge; the final monthly state must equal the one-shot
    cascade (the oracle — same SQL as events_rollup_cascade). This is
    the continuous-aggregate refresh contract: per-batch cost is
    O(delta + changed keys), the non-algebraic active_days is maintained
    from the daily tier's key novelty (anti-join), and no batch ever
    re-reads history."""
    from ..etl.incremental import cascade_merge

    ev = Catalog(spark, sf_dir).table("events")
    daily, monthly = None, None
    for part in range(3):
        delta = ev.filter(F.col("event_id") % 3 == part)
        daily, monthly = cascade_merge(daily, monthly, delta)
        # materialize each tier per batch — the stored-view contract
        # (each batch reads the PREVIOUS persisted state, not a growing
        # lazy plan); localCheckpoint stands in for the parquet sink
        daily = daily.localCheckpoint(eager=True)
        monthly = monthly.localCheckpoint(eager=True)
    return monthly.select(
        "user_id", "m", F.col("n").cast("long").alias("n"),
        F.round("sv", 2).alias("sum_value"),
        F.col("active_days").cast("int").alias("active_days"),
    ).orderBy("user_id", "m")


@register(
    "etl_delete_dv",
    oracle="""
    SELECT
      CAST((SELECT count(*) FROM orders WHERE o_orderstatus <> 'F') AS BIGINT)
        AS n_remaining,
      CAST((SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS BIGINT)
        AS n_marked,
      CAST(round((SELECT sum(o_totalprice) FROM orders
                  WHERE o_orderstatus <> 'F'), 2) AS DOUBLE)
        AS sum_remaining
    """,
)
def q_etl_delete_dv(spark, sf_dir):
    """DELETION-VECTOR delete, value-checked by the gate (r6): mark rows
    by (file, row_index) position in a bitmap inside each file's manifest
    entry instead of rewriting data files (etl/manifest.py
    delete_dv/_apply_dvs/compact). The read back applies the DVs as one
    filter on parquet's _metadata.file_name and _metadata.row_index; the
    check asserts no data file was rewritten AND
    the post-delete scan matches the oracle's row-level delete exactly —
    then folds the DV (compact, which rewrites the DV'd files with the
    small ones) and asserts the fold preserves the same counts. At 100 TB this is the GDPR/right-to-be-forgotten path:
    a delete touching one row per multi-GB file commits kilobytes."""
    import shutil
    import tempfile

    from ..etl.manifest import ManifestTable

    o = Catalog(spark, sf_dir).table("orders")
    root = tempfile.mkdtemp(prefix="etlbs-dv-")
    try:
        t = ManifestTable(spark, root, "orders", ["o_orderkey"])
        t.create(o.repartition(8))
        paths_before = {e["path"] for e in t.files()}
        res = t.delete_dv(F.col("o_orderstatus") == "F")
        assert {e["path"] for e in t.files()} == paths_before  # no rewrite
        row = t.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("s"),
        ).collect()[0]
        fold = t.compact()
        assert fold["rewritten"] > 0
        row2 = t.read().agg(F.count(F.lit(1)).alias("n")).collect()[0]
        assert row2.n == row.n, "compact changed the row set"
        return spark.createDataFrame(
            [(int(row.n), int(res["marked"]), float(row.s))],
            "n_remaining LONG, n_marked LONG, sum_remaining DOUBLE",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def ensure_bloom_table(spark, sf_dir):
    """Build-once accessor for the UNSORTED bloomed orders table — the
    persisted-index half of the build/query split (VERDICT r5 task 3,
    mirroring sim_topk_pq_indexed / ann/index.py). The table is written
    round-robin (so zone maps are useless on o_orderkey) with per-file
    blooms sized to the keys-per-file load, into a tmp dir keyed by the
    SOURCE FINGERPRINT — rebuilds happen only when the testdata changes,
    every other call (including every timed lookup) just reopens the
    manifest. Returns (ManifestTable, built: bool).

    The directory comes from the artifact store's key, but the table
    publishes through its own ``_CURRENT`` pointer rather than a dir
    rename: manifest entries hold absolute file paths, which a rename
    would break."""
    import os

    from ..etl.manifest import ManifestTable

    root = cache.path("bloomtbl", "v2", cache.fingerprint(sf_dir, ("orders",)))
    o = Catalog(spark, sf_dir).table("orders")
    if os.path.exists(os.path.join(root, "orders", "_CURRENT")):
        # reopen: probe geometry comes from the manifest entries, so the
        # constructor defaults don't need to match the writer's
        return ManifestTable(spark, root, "orders", ["o_orderkey"],
                             bloom_col="o_orderkey"), False
    # keep keys-per-file inside the bloom's design load at every SF:
    # ~10 bits per key (saturation = no pruning). File count is capped
    # and the BITS scale instead — at the sf1 decade that is 256 files
    # with 8 KiB blooms, not 1,875 tiny files.
    n = int(o.count())
    n_files = min(256, max(8, n // 800))
    bits = max(8192, ((10 * (n // n_files) + 63) // 64) * 64)
    t = ManifestTable(spark, root, "orders", ["o_orderkey"],
                      bloom_col="o_orderkey", bloom_bits=bits)
    t.create(o.repartition(n_files))
    return t, True


@register("etl_bloom_build")  # rows-only: a build artifact, not a query
def q_etl_bloom_build(spark, sf_dir):
    """The BUILD half of the bloom index split: write (or reuse) the
    bloomed unsorted table and report its geometry. One row —
    (n_files, rows, reused) — so the gate pins that the artifact exists
    and that repeat calls hit the fingerprint cache instead of
    rewriting."""
    t, built = ensure_bloom_table(spark, sf_dir)
    files = t.files()
    return spark.createDataFrame(
        [(len(files), int(sum(e["rows"] for e in files)), not built)],
        "n_files INT, rows LONG, reused BOOLEAN",
    )


@register(
    "etl_bloom_pruned_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey = 42
    """,
)
def q_etl_bloom_pruned_read(spark, sf_dir):
    """Per-file BLOOM point-lookup, value-checked by the gate — the
    LOOKUP half of the build/query split: the bloomed table is persisted
    once per corpus (``ensure_bloom_table``), so this key measures what a
    user actually runs per lookup — manifest probe + pruned read — not an
    index rebuild (the r5 sweep's 1.71x/decade slope was the rebuild).

    The table is UNSORTED (round-robin), so file [min, max] o_orderkey
    intervals span ~the whole domain and zone maps are nearly useless
    (their only skips are domain-edge accidents) — the lookup asserts the
    per-file bloom (md5-probe positions collected in the build's
    distributed stats job) strictly out-prunes them. This is the
    reference's PK index (prisma/schema.prisma:37-57 id lookups at
    src/routes/ads.ts:176-210) for a lakehouse: at 100 TB it is the
    difference between a point lookup opening 3 files or 30,000 when the
    data isn't (and can't be — it's z-ordered/clustered for OTHER
    predicates) sorted by this key. (etl/manifest.py: bloom_col,
    read_pruned_bloom.)"""
    t, _ = ensure_bloom_table(spark, sf_dir)
    _, zm = t.read_pruned("o_orderkey", lo=42, hi=42)
    df, skipped = t.read_pruned_bloom(42)
    # the claim: on an UNSORTED key the bloom strictly out-prunes the
    # zone maps (whose only skips here are domain-edge accidents)
    assert skipped > zm, (zm, skipped)
    rows = (
        df.filter(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .collect()
    )
    return spark.createDataFrame(
        rows, "o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE"
    )


@register(
    "etl_backfill_day",
    oracle="""
    SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY user_id, d
    """,
)
def q_etl_backfill_day(spark, sf_dir):
    """Partition-targeted BACKFILL — the restatement operation every
    derived table needs (a late correction must not rewrite the table):
    the daily rollup is persisted PARTITIONED BY day; one day's ingest
    is simulated wrong (its click events dropped); the backfill
    recomputes ONLY that day from the fact table and swaps it in via
    DYNAMIC partition overwrite — Spark replaces exactly the partitions
    present in the written frame, every other day's files stay in place
    (pytest pins them byte-identical). The oracle is the correct
    one-shot rollup: hash-equality proves the restatement healed the
    corrupted day without collateral damage. At 100 TB this is the
    difference between rewriting one day and rewriting years."""
    ev = Catalog(spark, sf_dir).table("events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")

    def rollup(df):
        return df.groupBy(F.col("user_id"), day.alias("d")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )

    def build(out: str) -> None:
        bad_day = ev.select(day.alias("d")).agg(F.min("d")).collect()[0][0]
        corrupted = rollup(
            ev.filter(~((day == bad_day) & (F.col("event_type") == "click")))
        )
        corrupted.write.mode("overwrite").partitionBy("d").parquet(out)
        fix = rollup(ev.filter(day == bad_day))
        (
            fix.write.mode("overwrite").partitionBy("d")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out)
        )

    out, _ = cache.build("backfill", "bf1",
                         cache.fingerprint(sf_dir, ("events",)), build)
    return (
        spark.read.parquet(out)
        # partition-type inference may read d back as DATE; the contract
        # (and the oracle) is the yyyy-MM-dd string
        .select("user_id", F.col("d").cast("string").alias("d"),
                "n", "sum_value")
    )
