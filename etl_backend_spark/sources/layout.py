"""Z-order clustering: the storage layout that lets file min/max stats
prune on two columns at once.

The reference's b-tree indexes (prisma/schema.prisma:54-56,69,85-87,102-104)
have no direct Spark analog; their role is played by physical layout.
Sorting a table by the Morton interleave of two keys gives every output
file a tight (a, b) box, so a point or range predicate on EITHER column
skips most files (``etl_zorder_pruned_read`` asserts this).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F


def zorder_value(a, b, bits: int = 18):
    """Morton (Z-order) interleave of two non-negative integer columns:
    bit k of `a` lands at position 2k, bit k of `b` at 2k+1. Sorting by this
    value clusters rows so that contiguous row ranges are tight rectangles
    in (a, b) space — file min/max stats become selective on BOTH columns,
    where a plain sort is selective on only one."""
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
