"""Filter / predicate operators (SURVEY.md §2.2).

The reference builds a Prisma ``where`` object incrementally from the query
params that are present (reference src/routes/ads.ts:99-123) — that object is
its logical-plan IR. Here the same IR is a ``list[Column]`` folded with AND;
Catalyst then pushes every conjunct down to the parquet scan (the reference's
one missed pushdown, the client-side post-join filter at
src/routes/favorites.ts:95, becomes free).

All functions are pure ``Column``/``DataFrame`` combinators — no UDFs, so
everything stays inside whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def eq(col: str, value) -> Column:
    """Equality predicate (reference src/routes/ads.ts:100-102,111-113)."""
    return F.col(col) == F.lit(value)


def neq(col: str, value) -> Column:
    """Negation predicate — `status: { not: 'deleted' }`
    (reference src/routes/ads.ts:218)."""
    return F.col(col) != F.lit(value)


def range_pred(col: str, lo=None, hi=None) -> Column:
    """Open/closed numeric range `price: {gte, lte}` built conditionally
    (reference src/routes/ads.ts:115-119)."""
    c = F.col(col)
    if lo is not None and hi is not None:
        return c.between(F.lit(lo), F.lit(hi))
    if lo is not None:
        return c >= F.lit(lo)
    if hi is not None:
        return c <= F.lit(hi)
    return F.lit(True)


def ci_contains(col: str, needle: str) -> Column:
    """Case-insensitive substring — Prisma `contains, mode:'insensitive'`,
    i.e. Postgres ILIKE '%s%' (reference src/routes/ads.ts:104-109)."""
    return F.contains(F.lower(F.col(col)), F.lit(needle.lower()))


def any_of(*preds: Column) -> Column:
    """Disjunction across predicates — Prisma `OR:[...]`
    (reference src/routes/ads.ts:105-108, src/routes/chat.ts:88-91)."""
    return reduce(lambda a, b: a | b, preds)


def apply(df: DataFrame, preds: list[Column]) -> DataFrame:
    """Fold a dynamically-assembled predicate list with AND — the engine's
    query-builder entry point (reference src/routes/ads.ts:99-123)."""
    if not preds:
        return df
    return df.filter(reduce(lambda a, b: a & b, preds))
