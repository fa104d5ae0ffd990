"""Route-level facade: the reference's HTTP API surface as engine calls.

Each method reproduces one route handler's full semantics (reference
src/routes/*.ts) over the testdata analog tables, composed from the operator
library. This is the layer a user of the reference would call after
switching: same parameters, same response shape (DataFrames instead of JSON
envelopes; `to_json`-ready).

Table analogs (SURVEY.md §2 mapping): orders≈ads, customer≈users,
lineitem≈favorites/messages-scale children, events≈messages stream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import auth
from .operators import aggregates, pagination, windows
from .plans.query_builder import SearchParams, ads_search, ads_search_total
from .sources.catalog import Catalog


@dataclass
class PagedResult:
    """The reference's `{ads, pagination:{total,page,limit,totalPages}}`
    envelope (src/routes/ads.ts:158-166) — two sibling plans over one
    predicate set."""
    rows: DataFrame
    total: DataFrame


class MarketplaceEngine:
    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.cat = Catalog(spark, sf_dir)

    # ------------------------------------------------------------ ads routes

    def search_ads(self, params: SearchParams) -> PagedResult:
        """GET /api/ads (reference src/routes/ads.ts:84-171)."""
        return PagedResult(
            rows=ads_search(self.cat, params),
            total=ads_search_total(self.cat, params),
        )

    def get_ad(self, order_key: int) -> DataFrame:
        """GET /api/ads/:id (reference src/routes/ads.ts:178-195): point
        lookup + n:1 joins + relation count."""
        o = self.cat.table("orders").filter(F.col("o_orderkey") == order_key)
        c = self.cat.table("customer").select("c_custkey", "c_name", "c_mktsegment")
        hit = o.join(c, o["o_custkey"] == c["c_custkey"], "left").drop("c_custkey")
        return aggregates.relation_count(
            hit, self.cat.table("lineitem"), "o_orderkey", "l_orderkey",
            alias="n_items",
        )

    def my_ads(self, cust_key: int) -> DataFrame:
        """GET /api/ads/user/me (reference src/routes/ads.ts:213-231):
        owner's rows, soft-deleted excluded, newest first."""
        o = self.cat.table("orders")
        return (
            o.filter((F.col("o_custkey") == cust_key) & (F.col("o_orderstatus") != "F"))
            .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        )

    def list_categories(self) -> DataFrame:
        """GET /api/categories (reference src/routes/ads.ts:273-277)."""
        return self.cat.table("region").orderBy("r_name")

    # ------------------------------------------------------ favorites routes

    def favorites_of(self, cust_key: int) -> DataFrame:
        """GET /api/favorites (reference src/routes/favorites.ts:69-99):
        junction two-hop join, deleted ads filtered post-join (Catalyst
        pushes it down — the reference's missed pushdown)."""
        li = self.cat.table("lineitem")
        o = self.cat.table("orders")
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .filter((F.col("o_custkey") == cust_key) & (F.col("o_orderstatus") != "F"))
            .select("l_orderkey", "l_linenumber", "o_totalprice", "o_orderdate")
        )

    def is_favorite(self, order_key: int, line_number: int) -> DataFrame:
        """GET /api/favorites/check (reference src/routes/favorites.ts:105-122):
        composite-key existence flag."""
        li = self.cat.table("lineitem")
        hit = li.filter(
            (F.col("l_orderkey") == order_key) & (F.col("l_linenumber") == line_number)
        ).limit(1)
        return hit.agg((F.count(F.lit(1)) > 0).alias("is_favorite"))

    # ----------------------------------------------------------- chat routes

    def conversations_list(self, user_id: int) -> DataFrame:
        """GET /api/chat/conversations (reference src/routes/chat.ts:83-124):
        user's threads with the latest message each, newest-activity first."""
        ev = self.cat.table("events")
        mine = ev.filter(F.col("user_id") == user_id)
        latest = windows.latest_per_group(
            mine, "event_type", [F.col("ts").desc(), F.col("event_id").desc()]
        )
        return latest.orderBy(F.col("ts").desc())

    def messages_of(self, user_id: int) -> DataFrame:
        """GET /api/chat/messages/:id (reference src/routes/chat.ts:128-148):
        chronological ascending."""
        ev = self.cat.table("events")
        return ev.filter(F.col("user_id") == user_id).orderBy(
            F.col("ts").asc(), F.col("event_id").asc()
        )

    # ---------------------------------------------------------- admin routes

    def admin_stats(self) -> DataFrame:
        """GET /api/admin/stats (reference src/routes/admin.ts:131-148): the
        4 parallel COUNT plans as one conditional-agg pass over orders;
        the user and category counts are the footer row counts of
        customer and region (no scan)."""
        orders = aggregates.multi_count(
            self.cat.table("orders"),
            {"n_ads": None, "n_active_ads": F.col("o_orderstatus") == "O"},
        )
        return orders.select(
            F.lit(self.cat.num_rows("customer")).cast("long").alias("n_users"),
            "n_ads", "n_active_ads",
            F.lit(self.cat.num_rows("region")).cast("long").alias("n_categories"),
        )

    def admin_users(self, page: int = 1, limit: int = 20) -> DataFrame:
        """GET /api/admin/users (reference src/routes/admin.ts:11-37): paged
        users with per-user ad counts."""
        c = self.cat.table("customer")
        with_counts = aggregates.relation_count(
            c, self.cat.table("orders"), "c_custkey", "o_custkey", alias="n_ads"
        )
        return pagination.paginate_offset(
            with_counts, [F.col("c_custkey").asc()], page, limit
        )

    # ----------------------------------------------------------- auth routes

    def login(self, cust_key: int, password: str, secret: str = "engine-secret") -> DataFrame:
        """POST /api/auth/login (reference src/routes/auth.ts:67-105): point
        lookup → credential verify (pandas UDF) → token sign → password
        column projected out. ``c_custkey`` is the key, so the lookup needs
        no limit (one would put an exchange ahead of the UDFs)."""
        c = self.cat.table("customer").filter(F.col("c_custkey") == cust_key)
        salt = F.sha2(F.col("c_name"), 256).substr(1, 16)
        stored = c.withColumn(
            "password_hash",
            auth.hash_password(F.concat(F.lit("pw-"), F.col("c_custkey").cast("string")), salt),
        )
        verified = stored.withColumn(
            "pw_ok", auth.verify_password(F.lit(password), F.col("password_hash"))
        ).filter(F.col("pw_ok"))
        return verified.select(
            "c_custkey", "c_name",
            auth.sign_token(F.col("c_custkey").cast("string"), F.lit(secret)).alias("token"),
        )


__all__ = ["MarketplaceEngine", "PagedResult", "SearchParams", "filters", "joins"]
