"""Join operators (SURVEY.md §2.3).

Every reference join is an FK equi-join (Prisma ``include``); Spark strategy:

- n:1 dimension lookups → **broadcast hash join** (dims are Category-class
  small, reference prisma/seed.ts:26-33). At 100 TB the fact side streams,
  nothing shuffles.
- fact-fact joins (messages-scale) → sort-merge with AQE skew splitting; at
  scale, bucket both sides on the join key to eliminate the shuffle entirely.
- nested 1:N includes → ``collect_list(struct(...))`` after a repartition
  on the child key and a groupBy, not a driver-side loop (the registered
  builders in ``registry/reads.py`` build these inline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookup_n1(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str,
              how: str = "left", broadcast_dim: bool = True) -> DataFrame:
    """Many-to-one FK lookup join — `include:{user:{select...}}`
    (reference src/routes/ads.ts:140-149)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, fact[fact_key] == d[dim_key], how)


def semi(df: DataFrame, keys: DataFrame, on) -> DataFrame:
    """Existence check — "is ad favorited?" boolean probe
    (reference src/routes/favorites.ts:105-122)."""
    return df.join(keys, on, "left_semi")


def anti(df: DataFrame, existing: DataFrame, on) -> DataFrame:
    """Non-existence guard — create-if-absent
    (reference src/routes/favorites.ts:23-41)."""
    return df.join(existing, on, "left_anti")


def detect_heavy_hitters(df: DataFrame, key: str, fraction: float = 0.01,
                         min_count: int = 2, top: int = 256,
                         seed: int = 11) -> DataFrame:
    """Sampled heavy-hitter detection for skew handling: the keys that
    dominate ``df`` (join/group skew candidates), found on a ``fraction``
    sample so the detection pass costs O(sample), not a full scan+shuffle.

    Returns a ONE-column DataFrame (``__hot``) of at most ``top`` keys,
    heaviest first — bounded by construction, so downstream plans may
    broadcast it at any data scale. ``min_count`` filters singleton sample
    noise: a key must appear at least that often IN THE SAMPLE to count.
    At 100 TB the same pass works with fraction ~1e-4 — heavy hitters are
    exactly the keys a small sample cannot miss; keys too rare to sample
    are by definition not skew problems. (AQE's skew-join stats are the
    runtime cousin of this; an explicit hot set also covers aggregations,
    streaming state, and pre-partitioned inputs where AQE can't help.)"""
    return (
        df.sample(fraction=fraction, seed=seed)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_count)
        .orderBy(F.col("__n").desc(), F.col(key).asc())  # TakeOrderedAndProject
        .limit(top)
        .select(F.col(key).alias("__hot"))
    )


def salted_join(fact: DataFrame, build: DataFrame, fact_key: str,
                build_key: str, hot: DataFrame, n_salts: int = 8,
                salt=None, how: str = "inner") -> DataFrame:
    """Skew-mitigated equi-join that salts ONLY the heavy-hitter keys.

    Two-phase recipe (the scale-safe form — full-side salting replicates
    the entire build side ``n_salts``x to fix what is typically a handful
    of hot keys):

    1. Split both sides on the (broadcast, bounded) ``hot`` key set:
       map-side semi/anti joins, no shuffle.
    2. HOT branch: the fact side gets a deterministic per-row salt, the
       build side's hot rows — only those — are exploded ``n_salts`` ways,
       and the join key becomes (key, salt): one melting reducer becomes
       ``n_salts`` even ones. COLD branch: plain equi-join, untouched.
       Union restores the exact plain-join result for ANY hot set
       (correctness never depends on detection quality — a missed hot key
       only costs performance).

    SINGLE-PASS formulation — no hot/cold branch split: a two-branch
    union scans each input twice (measured ~equal to full salting at 10M
    rows locally); instead every fact row gets a salt (hot keys: spread
    over ``n_salts``; cold keys: the constant 0) and every build row is
    exploded by a PER-ROW count (hot keys: ``n_salts`` copies; cold keys:
    exactly 1). One join on (key, salt), each side scanned once, and the
    exploded side grows by only (n_salts-1) x |hot build rows| — bounded
    by the hot-set cap regardless of data scale.

    The join carries a merge hint: at toy scale Catalyst would broadcast
    the build side and hide the salted-shuffle shape this operator exists
    to pin down. When the hot build rows are truly broadcast-sized (n:1
    joins — few hot keys x one row each) an even better production plan
    is to broadcast those rows outright and skip salting; salting earns
    its keep when the build side is hot too (n:m fact-fact joins,
    pre-partitioned inputs, streaming state).

    ``salt`` is a deterministic int Column over fact rows (default: hash
    of the fact row spread across ``n_salts``); determinism keeps
    retries/replays stable. fact and build must not share column names.
    ``how`` is inner or left only: right/full would emit unmatched HOT
    build rows once per salt copy.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r} "
            "(right/full would duplicate unmatched hot build rows)"
        )
    if salt is None:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), n_salts)
    f2 = _salted_fact_side(fact, fact_key, hot, salt)
    b2 = _salted_build_side(build, build_key, hot, n_salts)
    out = f2.alias("fh").join(
        b2.alias("bh").hint("merge"),
        (F.col(f"fh.{fact_key}") == F.col(f"bh.{build_key}"))
        & (F.col("fh.__salt") == F.col("bh.__salt")),
        how,
    )
    return out.select(
        *[F.col(f"fh.{c}") for c in fact.columns],
        *[F.col(f"bh.{c}") for c in build.columns],
    )


def _hot_flagged(df: DataFrame, key: str, hot: DataFrame, flag: str) -> DataFrame:
    """df + a boolean ``flag`` marking rows whose key is in the hot set —
    one broadcast left join, map-side, no shuffle. Qualified aliases: the
    hot set may share lineage with df (detect_heavy_hitters over the same
    frame), which unqualified refs would turn into an ambiguous self-join."""
    hotb = F.broadcast(hot.select(F.col(hot.columns[0]).alias("__hotval")))
    return (
        df.alias("__d")
        .join(hotb, F.col(f"__d.{key}") == F.col("__hotval"), "left")
        .select(
            *[F.col(f"__d.{c}") for c in df.columns],
            F.col("__hotval").isNotNull().alias(flag),
        )
    )


def _salted_fact_side(fact: DataFrame, fact_key: str, hot: DataFrame,
                      salt) -> DataFrame:
    """Fact rows with their deterministic __salt: hot keys spread across
    the salt space, cold keys pinned to 0 (matching the single build copy).
    Row count is exactly |fact| — the probe side is never replicated."""
    return _hot_flagged(fact, fact_key, hot, "__is_hot").select(
        *[F.col(c) for c in fact.columns],
        F.when(F.col("__is_hot"), salt.cast("int"))
        .otherwise(F.lit(0))
        .alias("__salt"),
    )


def _salted_build_side(build: DataFrame, build_key: str, hot: DataFrame,
                       n_salts: int) -> DataFrame:
    """Build rows exploded per-row: n_salts copies for hot keys, exactly
    one (salt 0) otherwise — |build| + (n_salts-1) x |hot rows| output
    rows, never the full n_salts x |build| replication."""
    return _hot_flagged(build, build_key, hot, "__is_hot").select(
        *[F.col(c) for c in build.columns],
        F.explode(
            F.sequence(
                F.lit(0),
                F.when(F.col("__is_hot"), F.lit(n_salts - 1)).otherwise(F.lit(0)),
            )
        ).alias("__salt"),
    )


def asof_join(left: DataFrame, right: DataFrame, key: str, ts: str,
              right_val: str, out_col: str = "asof_val") -> DataFrame:
    """As-of join: for each left row, the latest right row of the same key
    with right.ts <= left.ts (ties: right wins, then max right id).

    Implemented as union + running `last(ignorenulls)` window — ONE shuffle
    on the key, no inequality join, no per-row scan of the right side; the
    standard scalable formulation (an inequality-join plan would be
    quadratic per key). Right rows sort before left rows at equal ts so the
    <= semantics hold.
    """
    from pyspark.sql import Window

    l2 = left.select(
        F.col(key).alias("__k"), F.col(ts).alias("__ts"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
        F.lit(None).cast(right.schema[right_val].dataType).alias("__rv"),
        F.lit(1).alias("__side"),
    )
    r2 = right.select(
        F.col(key).alias("__k"), F.col(ts).alias("__ts"),
        F.lit(None).cast(l2.schema["__row"].dataType).alias("__row"),
        F.col(right_val).alias("__rv"),
        F.lit(0).alias("__side"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc(), F.col("__rv").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l2.unionByName(r2).withColumn(
        out_col, F.last("__rv", ignorenulls=True).over(w)
    )
    out = merged.filter(F.col("__side") == 1).select("__row.*", out_col)
    return out


def range_join_count(left: DataFrame, right: DataFrame, key: str, ts: str,
                     lookback: str = "1 hour",
                     out_col: str = "n_in_range") -> DataFrame:
    """Count right rows per left row with right.ts in [left.ts - lookback,
    left.ts) for the same key.

    Scalable formulation: bucket both sides by the lookback width; each left
    row probes its own and the previous bucket (equi-join on (key, bucket)),
    then the exact range filter applies. Converts the inequality join into a
    2x fan-out equi-join — the shuffle is on (key, bucket), never all-pairs
    per key. (DuckDB's IEJoin does this natively; Spark needs the bucket
    trick.)
    """
    import re as _re

    m = _re.match(r"(\d+)\s*(hour|minute|second)s?", lookback)
    unit_us = {"hour": 3600, "minute": 60, "second": 1}[m.group(2)] * 1_000_000
    width_us = int(m.group(1)) * unit_us

    bucket = (F.unix_micros(F.col(ts)) / width_us).cast("long")
    r2 = right.select(
        F.col(key).alias("__rk"), F.col(ts).alias("__rts"),
        bucket.alias("__rb"),
    )
    # unique per-row id BEFORE the 2x probe explode so the regroup restores
    # exactly one output row per input row, even for fully-duplicate rows
    l2 = (
        left.withColumn("__lid", F.monotonically_increasing_id())
        .withColumn("__b", bucket)
        .withColumn(
            "__probe", F.explode(F.array(F.col("__b"), F.col("__b") - 1))
        )
    )
    joined = l2.join(
        r2,
        (l2[key] == r2["__rk"]) & (l2["__probe"] == r2["__rb"])
        & (r2["__rts"] >= F.col(ts) - F.expr(f"INTERVAL {lookback}"))
        & (r2["__rts"] < F.col(ts)),
        "left",
    )
    return (
        joined.groupBy(F.col("__lid"), *[F.col(c) for c in left.columns])
        .agg(F.count("__rts").alias(out_col))
        .drop("__lid")
    )
