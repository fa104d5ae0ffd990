"""Skew mitigation (SURVEY.md §7 milestone 6): salting for hot keys.

AQE's skew-join splitting (enabled in ``session.get_spark``) handles most
runtime skew; salting is the explicit plan-level tool for the pathological
cases AQE can't fix — a groupBy where one key holds 10% of 100 TB (a hot
conversation/user in the reference's message table), or a join where one
fact key floods a single reducer.

Salts are DETERMINISTIC (hash of a row-identity column mod n), never
``rand()`` — plans stay replayable and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (partial_fn, final_fn) per algebraic aggregate: partial runs per
# (key, salt) group, final re-combines per key.
_ALGEBRAIC = {
    "count": (lambda c: F.count(c), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
}


def salted_agg(df: DataFrame, keys: list[str], salt_source: str,
               aggs: list[tuple[str, str, str]], n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation over salted keys.

    aggs: [(column, fn, alias)] with fn in count/sum/min/max (algebraic —
    decomposable into partial + final). Phase 1 groups by (keys + salt):
    the hot key's rows spread over n_salts reducers; phase 2 recombines the
    n_salts partial rows per key — negligible.

    Equivalent to a plain groupBy (pytest-asserted); avg is derived as
    sum/count by callers rather than salted directly (not algebraic).
    """
    salt = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salts)).alias("__salt")
    partial = df.groupBy(*keys, salt).agg(
        *[_ALGEBRAIC[fn][0](F.col(col)).alias(f"__p_{alias}")
          for col, fn, alias in aggs]
    )
    return partial.groupBy(*keys).agg(
        *[_ALGEBRAIC[fn][1](F.col(f"__p_{alias}")).alias(alias)
          for _, fn, alias in aggs]
    )


def salted_join(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str,
                fact_salt_source: str, n_salts: int = 16,
                how: str = "inner") -> DataFrame:
    """Skew-safe equi-join: fact rows get a deterministic salt; the dim side
    is replicated n_salts times (explode of a literal range) so every
    (key, salt) pair finds its match. The hot key's rows land on n_salts
    reducers instead of one; dim replication cost is n_salts x |dim| —
    use only when the dim side is small and a broadcast is impossible
    (e.g. the dim exceeds the broadcast threshold but one fact key is hot).
    """
    fact_s = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(fact_salt_source)), F.lit(n_salts))
    )
    dim_s = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = fact_s.join(
        dim_s,
        (fact_s[fact_key] == dim_s[dim_key]) & (fact_s["__salt"] == dim_s["__salt"]),
        how,
    )
    return out.drop("__salt")
