"""Window / top-k-per-group operators (SURVEY.md §2.5).

The reference's only window shape is "latest message per conversation"
(`orderBy createdAt desc, take:1` inside an include — src/routes/chat.ts:43-47).
Spark: row_number over a partitioned window; ALWAYS tie-break on a unique key
so the result is deterministic (oracle parity requirement).

Scale: a window partitioned by a grouping key is one shuffle on that key;
skewed keys (hot conversations) are handled by AQE. For pure top-1-per-group,
``max_by`` (no sort, partial-aggregable) beats a window at scale — both are
provided.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_group(df: DataFrame, group: str, order: list[Column],
                     n: int = 1) -> DataFrame:
    """Top-n per group by recency (reference src/routes/chat.ts:43-47,108-111)."""
    w = Window.partitionBy(group).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def top_per_query(df: DataFrame, score: str, k: int) -> DataFrame:
    """The similarity family's top-k: rows ranked 1..k (column ``rn``)
    per ``q_id`` under the (``score`` desc, ``vec_id`` asc) total order."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(),
                                           F.col("vec_id").asc())
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def rank_topk(df: DataFrame, group: str, order: list[Column], k: int,
              rank_col: str = "rnk") -> DataFrame:
    """rank() top-k per group — extension beyond the reference (absent there,
    SURVEY.md §2.5); ties share a rank."""
    w = Window.partitionBy(group).orderBy(*order)
    return df.withColumn(rank_col, F.rank().over(w)).filter(F.col(rank_col) <= k)


def lag_delta_us(df: DataFrame, group: str, ts_col: str, tie: str,
                 alias: str = "delta_us") -> DataFrame:
    """Per-key event-time delta via lag() — microsecond-exact (uses
    unix_micros, not second-truncated casts)."""
    w = Window.partitionBy(group).orderBy(F.col(ts_col).asc(), F.col(tie).asc())
    prev = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    return df.withColumn(alias, F.unix_micros(F.col(ts_col)) - prev)


def running_sum(df: DataFrame, group: str, ts_col: str, tie: str,
                value_col: str, alias: str = "running_sum") -> DataFrame:
    """Cumulative sum frame (rowsBetween unbounded preceding → current)."""
    w = (
        Window.partitionBy(group)
        .orderBy(F.col(ts_col).asc(), F.col(tie).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, F.sum(F.col(value_col)).over(w))


def distributed_global_prefix_sum(df: DataFrame, order_cols: list[str],
                                  value_col: str,
                                  n_parts: int = 16) -> tuple[DataFrame, int]:
    """Exact global running SUM of ``value_col`` over a unique total order
    — the weighted sibling of ``distributed_global_rank`` (same
    range-partition + local-window + broadcast-offsets shape; offsets are
    per-partition value TOTALS instead of row counts). Returns
    (df + '__cum' long, grand total)."""
    cols = [F.col(c) for c in order_cols]
    t = (
        df.repartitionByRange(n_parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # see distributed_global_rank
    )
    w = (
        Window.partitionBy("__pid").orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = t.withColumn("__cum_local", F.sum(value_col).over(w))
    totals = sorted(
        (r["__pid"], r["__tot"])
        for r in t.groupBy("__pid")
        .agg(F.sum(value_col).alias("__tot")).collect()
    )
    # an all-NULL partition sums to None (offset contribution 0); the
    # offset literals keep the value's OWN numeric type — an int() here
    # silently truncated fractional per-partition totals into cumulative
    # drift for any non-integer value_col (r13 review; the one current
    # caller passes ints, but the docstring advertises the general form)
    offsets, acc = {}, 0
    for pid, tot in totals:
        offsets[pid] = acc
        acc += tot if tot is not None else 0
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in offsets]),
            F.array(*[F.lit(v) for v in offsets.values()]),
        ),
        F.col("__pid"),
    )
    return (
        local.withColumn("__cum",
                         (F.col("__cum_local") + off).cast("long"))
        .drop("__cum_local", "__pid"),
        int(acc),
    )


def release_plan_checkpoints(df: DataFrame) -> int:
    """Best-effort release of localCheckpoint blocks reachable from ``df``'s
    logical plan (the LogicalRDD leaves that
    ``distributed_global_rank``/``distributed_global_prefix_sum`` create).
    The walk covers the logical AND the analyzed plan: the analyzed plan
    expands temp-view indirection (graph_reachability registers its
    materialized edge table as a view for the recursive-CTE SQL, which
    hides the leaf from the unresolved plan).

    Lifetime contract: the helpers above MUST keep their checkpoint alive
    until the returned DataFrame is consumed — the lineage is truncated, so
    releasing early would fail the job, not silently drift. Once a caller
    has collected/written the result, the blocks are dead weight.
    ``scripts/check_oracle.py`` and perfbench release them here after each
    query. Callers of ``__spark_entry__.py``'s ``queries()`` consume the
    returned frames themselves, so those blocks live until Spark's
    ContextCleaner drops them once the frames are garbage-collected;
    ``queries()`` is not wrapped, because its keys and their order are
    part of that contract.
    Returns the number of RDDs unpersisted; swallows reflection errors
    (plan-walking touches Spark internals — on any mismatch the worst case
    is blocks living until GC)."""
    seen: set[int] = set()
    try:
        qe = df._jdf.queryExecution()
        plans = [qe.logical()]
        try:
            plans.append(qe.analyzed())
        except Exception:
            pass
        for plan in plans:
            leaves = plan.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getName().endswith(".LogicalRDD"):
                    rdd = leaf.rdd()
                    if rdd.id() not in seen:
                        seen.add(rdd.id())
                        rdd.unpersist(False)
    except Exception:
        pass
    return len(seen)


_TYPE_BYTES = {
    "long": 8, "double": 8, "integer": 4, "float": 4, "boolean": 1,
    "date": 4, "timestamp": 8, "short": 2, "byte": 1, "decimal": 16,
}


def _estimated_row_bytes(df: DataFrame) -> int:
    """Schema-width estimate (fixed-width sizes + UnsafeRow overhead;
    strings/arrays get a flat 24 — the estimate only needs to be the
    right ORDER, it gates the auto-broadcast decision, not memory)."""
    return 12 + sum(
        _TYPE_BYTES.get(f.dataType.typeName(), 24) for f in df.schema.fields
    )


def localcheckpoint_declared(
    df: DataFrame,
    hash_cols: list[str],
    num: int,
    sort: bool = False,
    assume_layout: bool = False,
    serialized: bool = False,
) -> DataFrame:
    """``repartition(num, cols) [+ sortWithinPartitions] +
    localCheckpoint(eager)`` that DECLARES the resulting layout to the
    planner.

    Under AQE, ``Dataset.localCheckpoint`` materializes the data but the
    LogicalRDD leaf records ``UnknownPartitioning`` and no ordering
    (AdaptiveSparkPlanExec reports neither at plan-capture time —
    measured here on Spark 4.1), so every downstream join/agg re-shuffles
    and re-sorts rows that are already correctly placed. This re-wraps
    the checkpointed RDD in a LogicalRDD whose ``outputPartitioning`` is
    the HashPartitioning the repartition just produced (and, with
    ``sort``, whose ``outputOrdering`` is the within-partition sort) —
    the layout is a fact of the materialized RDD; we only tell the
    planner the truth AQE lost. Iterative operators (PageRank, label
    propagation) use this to hold their big relation in place across
    rounds: consumers joining on ``cols`` shuffle (and sort) only their
    OWN side, every round.

    Falls back to the plain checkpoint on any reflection mismatch —
    correct, just re-shuffled/re-sorted per consumer (plan-walking
    touches Spark internals, same caveat as
    ``release_plan_checkpoints``; the blocks stay releasable through
    that helper either way since the rewrapped leaf is still a
    LogicalRDD over the same RDD).

    NOTE the leaf keeps the pre-checkpoint plan's sizeInBytes estimate,
    which for a join/agg output is a fantasy number (1e23-ish B) that
    disables auto-broadcast of anything downstream. py4j cannot build a
    truthful Statistics (scala.math.BigInt degrades to int over the
    bridge), so callers that want size-based join planning across the
    checkpoint boundary should gate an explicit ``F.broadcast`` on a
    measured ``count()`` — the same decision the planner would make with
    real stats (see ``pagerank_ranks``)."""
    if assume_layout:
        # caller already produced hash(num, cols) [+ sorted] layout and
        # wants work (e.g. a dedup agg) riding that exchange instead of a
        # second one here — the declaration below must still be TRUE of
        # the rows, the caller is vouching for it
        pre = df
    else:
        pre = df.repartition(num, *hash_cols)
        if sort:
            pre = pre.sortWithinPartitions(*hash_cols)
    if serialized:
        # |E|-scale invariants: deserialized MEMORY_AND_DISK blocks for a
        # 240M-row table ate most of a 24g heap WHILE the dedup agg ran
        # (sf10 OOM, BASELINE.md r7) — serialized in-memory blocks are
        # several-x smaller for a small per-consumer decode cost
        from pyspark.storagelevel import StorageLevel

        cp = pre.localCheckpoint(eager=True,
                                 storageLevel=StorageLevel.MEMORY_AND_DISK)
    else:
        cp = pre.localCheckpoint(eager=True)
    try:
        leaf = cp._jdf.queryExecution().logical()
        if not leaf.getClass().getName().endswith(".LogicalRDD"):
            return cp
        jvm = df.sparkSession.sparkContext._jvm
        conv = jvm.scala.jdk.CollectionConverters

        def to_seq(items):
            arr = jvm.java.util.ArrayList()
            for it in items:
                arr.add(it)
            return conv.ListHasAsScala(arr).asScala().toSeq()

        out = leaf.output()
        by_name = {out.apply(i).name(): out.apply(i)
                   for i in range(out.size())}
        attrs = [by_name[c] for c in hash_cols]
        partitioning = (jvm.org.apache.spark.sql.catalyst.plans.physical
                        .HashPartitioning(to_seq(attrs), num))
        ordering = leaf.outputOrdering()
        if sort:
            # Scala case objects: reach the singleton via MODULE$
            exprs = jvm.org.apache.spark.sql.catalyst.expressions
            asc = getattr(getattr(exprs, "Ascending$"), "MODULE$")
            so_companion = getattr(getattr(exprs, "SortOrder$"), "MODULE$")
            ordering = to_seq([
                so_companion.apply(a, asc, to_seq([])) for a in attrs
            ])

        oca = leaf.otherCopyArgs()  # (classic.SparkSession, stats, constraints)
        new_leaf = leaf.copy(
            leaf.output(), leaf.rdd(), partitioning, ordering,
            leaf.isStreaming(), leaf.stream(),
            oca.apply(0), oca.apply(1), oca.apply(2),
        )
        jds = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            oca.apply(0), new_leaf
        )
        return DataFrame(jds, df.sparkSession)
    except Exception:
        return cp


def distributed_global_rank(df: DataFrame, order_cols: list[str],
                            n_parts: int = 16) -> tuple[DataFrame, int]:
    """Exact GLOBAL rank over a unique total order WITHOUT a single-
    partition window — the distributed prefix-sum recipe (shared by
    seq_pack_exact, window_ntile, window_distribution):

    1. range-partition by the order (parallel shuffle; partition i holds
       a contiguous slice of the order, ids increase with the order);
    2. per-partition row_number under a partition-local window;
    3. per-partition COUNTS (one row each) prefix-summed on the driver
       and broadcast back as offsets.

    Returns (df + '__rank' long, total row count). Requires the order to
    be UNIQUE (append a key column as tie-break) — rank functions with
    ties need group-count logic this helper deliberately omits.

    The checkpoint backs the RETURNED DataFrame; after consuming it, call
    ``release_plan_checkpoints(result)`` to free the blocks (loop callers
    otherwise accumulate them until the ContextCleaner's GC-driven sweep)."""
    cols = [F.col(c) for c in order_cols]
    t = (
        df.repartitionByRange(n_parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
        # materialize ONCE: range boundaries come from sampling, and the
        # counts job re-planning the shuffle could draw DIFFERENT
        # boundaries than the rank job — offsets computed against one
        # partitioning applied to another silently shift every rank
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    local = t.withColumn("__rn", F.row_number().over(w))
    counts = sorted(
        (r["__pid"], r["__n"])
        for r in t.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in offsets]),
            F.array(*[F.lit(v) for v in offsets.values()]),
        ),
        F.col("__pid"),
    )
    return (
        local.withColumn("__rank", (F.col("__rn") + off).cast("long"))
        .drop("__rn", "__pid"),
        acc,
    )
