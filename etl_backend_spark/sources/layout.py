"""Storage layout for scale: partitioned writes (partition pruning) and
bucketed tables (shuffle-free co-located joins).

The reference's b-tree indexes (prisma/schema.prisma:54-56,69,85-87,102-104)
have no direct Spark analog; their role is played by physical layout:

- **Partition columns** (`status`, event date): the planner prunes whole
  directories for equality/range predicates — the `Ad(status)` index becomes
  `status=active/` never reading `status=deleted/`.
- **Bucketing** on a join/group key: both sides pre-shuffled at write time
  into the same bucket scheme → the join plans with ZERO Exchange. At 100 TB
  this converts the recurring per-query shuffle of fact-fact joins
  (messages ⋈ conversations class) into a one-time write cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "errorifexists") -> None:
    """Hive-layout partitioned parquet (dir per partition value)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed(df: DataFrame, table_name: str, bucket_col: str,
                   n_buckets: int = 8, sort_col: str | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed (and optionally sorted) managed table. Requires a warehouse
    dir; both sides of a co-located join must use the same n_buckets."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table_name)


def cobucketed_join(spark: SparkSession, left_table: str, right_table: str,
                    on: str) -> DataFrame:
    """Join two same-scheme bucketed tables; planner elides both Exchanges
    (verify via explain: no ShuffleExchange above either scan)."""
    return spark.table(left_table).join(spark.table(right_table), on=on)


def zorder_value(a, b, bits: int = 18):
    """Morton (Z-order) interleave of two non-negative integer columns:
    bit k of `a` lands at position 2k, bit k of `b` at 2k+1. Sorting by this
    value clusters rows so that contiguous row ranges are tight rectangles
    in (a, b) space — file min/max stats become selective on BOTH columns,
    where a plain sort is selective on only one."""
    from functools import reduce

    from pyspark.sql import functions as F

    terms = []
    for k in range(bits):
        terms.append(F.shiftleft(F.shiftright(a, k).bitwiseAND(F.lit(1)), 2 * k))
        terms.append(F.shiftleft(F.shiftright(b, k).bitwiseAND(F.lit(1)), 2 * k + 1))
    return reduce(lambda x, y: x + y, terms)


def zorder_sort(df, col_a: str, col_b: str, bits: int = 12,
                n_files: int = 8):
    """Range-partition AND sort by the interleaved value: each of the
    n_files output partitions covers one contiguous z-range, so every file's
    (col_a, col_b) min/max box is tight.

    Both columns are first NORMALIZED to the same bits-wide integer range —
    without this, the wider-ranged column's high bits dominate the
    interleave and the narrow column degenerates to no clustering at all
    (the classic z-order pitfall)."""
    from pyspark.sql import functions as F

    mm = df.agg(
        F.min(col_a).alias("a_lo"), F.max(col_a).alias("a_hi"),
        F.min(col_b).alias("b_lo"), F.max(col_b).alias("b_hi"),
    ).collect()[0]
    top = (1 << bits) - 1

    def norm(c, lo, hi):
        span = max(hi - lo, 1)
        return ((c - F.lit(lo)) * top / F.lit(span)).cast("long")

    z = zorder_value(
        norm(F.col(col_a), mm.a_lo, mm.a_hi),
        norm(F.col(col_b), mm.b_lo, mm.b_hi),
        bits,
    )
    return (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def zorder_value_n(cols, bits: int):
    """N-column Morton interleave: bit k of column j lands at position
    k*n + j. Generalizes ``zorder_value`` (n=2) — with n columns each
    file's min/max box is a tight n-dimensional rectangle, at the cost of
    log2-fewer effective bits per column per z-prefix (the standard
    z-order trade: cluster quality per dimension decays with n, which is
    why 2-4 columns is the practical OPTIMIZE ZORDER guidance)."""
    from functools import reduce

    from pyspark.sql import functions as F

    n = len(cols)
    terms = []
    for k in range(bits):
        for j, c in enumerate(cols):
            terms.append(
                F.shiftleft(F.shiftright(c, k).bitwiseAND(F.lit(1)),
                            k * n + j)
            )
    return reduce(lambda x, y: x + y, terms)


def zorder_sort_n(df, col_names: list[str], bits: int = 10,
                  n_files: int = 8):
    """Range-partition and sort by the N-column interleave; every column
    is min-max normalized to the same bits-wide integer range first (see
    zorder_sort for why)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in col_names:
        aggs += [F.min(c).alias(f"{c}__lo"), F.max(c).alias(f"{c}__hi")]
    mm = df.agg(*aggs).collect()[0]
    top = (1 << bits) - 1

    def norm(c):
        lo, hi = mm[f"{c}__lo"], mm[f"{c}__hi"]
        span = max(hi - lo, 1)
        return ((F.col(c) - F.lit(lo)) * top / F.lit(span)).cast("long")

    z = zorder_value_n([norm(c) for c in col_names], bits)
    return (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
