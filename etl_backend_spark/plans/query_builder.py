"""The flagship dynamic search query — reference `GET /api/ads`
(src/routes/ads.ts:84-171), re-expressed over the driver's testdata analogs:

    Ad        -> orders        (the central fact)
    User      -> customer      (n:1 FK lookup join)
    Favorite  -> lineitem      (per-ad related count -> per-order item count)
    status    -> o_orderstatus ('O' = "active")
    price     -> o_totalprice
    createdAt -> o_orderdate

The reference builds its `where` object incrementally from present params
(src/routes/ads.ts:99-123), picks a sort (`:126-132`), and runs page + count
as sibling plans over one predicate (`:134-156`). We reproduce exactly that
shape: a predicate list folded with AND, a shared filtered plan, a broadcast
dimension join, a pre-aggregated relation count, a total-ordered offset page.

Scale: the relation count reads only the filtered orders' line items
(lineitem left-semi-joined to the filtered order keys), so its groupBy
(partial-agg'd) and the orders⋈counts join see those rows, not all of
lineitem; customer and the semi join's key side broadcast when small, SMJ
when not. Sort+page is TakeOrderedAndProject — never a global sort.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import aggregates, filters, pagination
from ..sources.catalog import Catalog


@dataclass
class SearchParams:
    """Query-string params of GET /api/ads (reference src/routes/ads.ts:85-95)."""

    status: str = "O"            # base filter: status='active'  (ads.ts:100-102)
    search: str | None = None    # ci OR-search                  (ads.ts:104-109)
    priority: str | None = None  # categoryId equality analog    (ads.ts:111-113)
    min_price: float | None = None  # price gte                  (ads.ts:115-119)
    max_price: float | None = None  # price lte
    sort_by: str = "newest"      # newest|price_low|price_high   (ads.ts:126-132)
    page: int = 1                # skip/take                     (ads.ts:93-97)
    limit: int = 20


def _filtered(cat: Catalog, p: SearchParams) -> DataFrame:
    orders = cat.table("orders")
    preds = [filters.eq("o_orderstatus", p.status)]
    if p.search:
        preds.append(
            filters.any_of(
                filters.ci_contains("o_orderpriority", p.search),
                filters.ci_contains("o_orderstatus", p.search),
            )
        )
    if p.priority:
        preds.append(filters.eq("o_orderpriority", p.priority))
    if p.min_price is not None or p.max_price is not None:
        preds.append(filters.range_pred("o_totalprice", p.min_price, p.max_price))
    return filters.apply(orders, preds)


def ads_search(cat: Catalog, p: SearchParams) -> DataFrame:
    """The paged result plan (reference src/routes/ads.ts:135-154)."""
    filtered = _filtered(cat, p)
    customer = cat.table("customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    with_user = filtered.join(
        customer, filtered["o_custkey"] == customer["c_custkey"], "inner"
    ).drop("c_custkey")
    lineitem = cat.table("lineitem")
    items = lineitem.join(
        filtered, lineitem["l_orderkey"] == filtered["o_orderkey"], "left_semi"
    )
    with_counts = aggregates.relation_count(
        with_user, items, "o_orderkey", "l_orderkey", alias="n_items"
    )
    order = pagination.sort_spec(p.sort_by, tie_break="o_orderkey")
    page = pagination.paginate_offset(with_counts, order, p.page, p.limit)
    return page.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "c_name", "c_mktsegment", "n_items",
    )


def ads_search_total(cat: Catalog, p: SearchParams) -> DataFrame:
    """The sibling count plan + page math `{total, totalPages}`
    (reference src/routes/ads.ts:155,158-166)."""
    total = _filtered(cat, p).agg(F.count(F.lit(1)).alias("cnt"))
    return aggregates.page_math(total, p.limit)
