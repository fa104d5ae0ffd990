"""Seeded operation streams for the three workloads.

Everything here is pure Python + numpy: the same seed yields the same
operations, and the program under test sees only the generated inputs.

- ``api_rw``: one closed-loop client over the marketplace routes, dealt in
  decks of 18 operations: every read route once (the manifest-table reads
  twice) in a seeded order, plus ``send_messages``, ``upsert_ad``,
  ``delete_ad`` and ``compact`` at fixed slots. Every deck has the same mix
  whatever the seed (78% reads); ``compact`` follows ``delete_ad`` in each
  deck because ``upsert`` refuses a table with live deletion vectors. Keys
  are Zipf-distributed over the key domains of the tables the routes read.
- ``olap_sf1`` / ``llm_corpus``: fixed query lists, run as whole passes in
  a seeded order per pass.

A run times one deck or ``BATCH_PASSES`` passes, so every run times the
same mix.
"""

from __future__ import annotations

import random
import numpy as np

OLAP_QUERIES = [
    "tpch_q1_shape",            # scan-heavy grouped aggregate
    "tpch_q5_shape",            # 6-table star join, broadcast dimensions
    "tpch_q9",                  # shuffle joins over a derived partsupp
    "window_latest_per_group",  # events layout + keyed window
    "join_asof",                # union + running-last as-of join
    "events_funnel",            # ordered funnel window chain
]
LLM_QUERIES = [
    "dedup_exact",           # hash group-by dedup
    "sim_topk_pandas",       # Arrow-batched numpy cosine top-k
    "sim_topk_pq",           # product-quantized ADC scan + rerank
    "doc_chunk",             # overlapping-window chunking (explode)
]
# passes timed per batch run: every query is read-only, so each pass does
# the same work, and one slow query weighs less in the medians
BATCH_PASSES = 4

# api_rw deck: every read route (table reads twice), then one write of each
# kind at fixed slots, in the order a round must keep them
READS = ["search_ads", "get_ad", "my_ads", "favorites_of", "is_favorite",
         "conversations_list", "messages_of", "admin_stats", "admin_users",
         "login", "ads_by_key", "ads_by_key", "messages_by_user", "messages_by_user"]
WRITES = ["send_messages", "upsert_ad", "delete_ad", "compact"]
MESSAGES_PER_SEND = 20
ZIPF_A = 1.3

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STREAM_T0 = np.datetime64("2024-03-01T00:00:00", "s")


class _Zipf:
    """Zipf-ranked keys over a seeded permutation of ``keys``."""

    def __init__(self, rng: np.random.Generator, keys):
        self.rng = rng
        self.perm = rng.permutation(np.asarray(keys))

    def __call__(self) -> int:
        return int(self.perm[(int(self.rng.zipf(ZIPF_A)) - 1) % len(self.perm)])


def distinct_kinds(workload: str) -> list[str]:
    """Every operation kind a workload runs."""
    if workload == "api_rw":
        return list(dict.fromkeys(READS)) + WRITES
    return list(OLAP_QUERIES if workload == "olap_sf1" else LLM_QUERIES)


class ApiStream:
    """``api_rw`` operations, one deck at a time. Each op is a dict with
    ``kind`` and its parameters; the writes go to slots 3, 7, 11 and 15 of
    the 18, so the delete is folded by ``compact`` within its own deck.

    Keys are drawn from the key domains of the data: customer keys, order
    keys and the users of ``events``; streamed messages get event ids from
    ``first_event_id`` on, above every id the data holds."""

    def __init__(self, seed: int, customers, orders, event_users, first_event_id: int):
        self.rng = rng = np.random.default_rng(seed)
        self.cust, self.order, self.euser = (
            _Zipf(rng, keys) for keys in (customers, orders, event_users))
        self.event_id0 = first_event_id
        self.n_sent = 0
        self.deleted: set[int] = set()

    def deck(self) -> list[dict]:
        reads = list(READS)
        self.rng.shuffle(reads)
        kinds = []
        for w in WRITES:
            kinds += [reads.pop() for _ in range(3)] + [w]
        kinds += reads
        return [self._op(k) for k in kinds]

    def _live_ad(self) -> int:
        """A Zipf-drawn ad that no earlier op deleted: every upsert rewrites
        one live row and every delete marks one, so write costs do not
        depend on which keys the seed happened to repeat."""
        while True:
            key = self.order()
            if key not in self.deleted:
                return key

    def _op(self, kind: str) -> dict:
        rng = self.rng
        op: dict = {"kind": kind}
        if kind == "search_ads":
            lo = float(rng.integers(1, 40)) * 5000.0
            op["params"] = {
                "status": "O",
                "search": [None, "urgent", "high", "low"][int(rng.integers(0, 4))],
                "min_price": lo,
                "max_price": lo + float(rng.integers(2, 20)) * 10000.0,
                "sort_by": ["newest", "price_low", "price_high"][int(rng.integers(0, 3))],
                "page": int(rng.integers(1, 6)),
                "limit": 20,
            }
        elif kind in ("get_ad", "ads_by_key"):
            op["key"] = self.order()
        elif kind == "delete_ad":
            op["key"] = self._live_ad()
            self.deleted.add(op["key"])
        elif kind == "is_favorite":
            op["key"], op["line"] = self.order(), int(rng.integers(1, 8))
        elif kind in ("my_ads", "favorites_of", "login"):
            op["key"] = self.cust()
        elif kind in ("conversations_list", "messages_of", "messages_by_user"):
            op["key"] = self.euser()
        elif kind == "admin_users":
            op["page"] = int(rng.integers(1, 51))
        elif kind == "upsert_ad":
            op["row"] = {
                "o_orderkey": self._live_ad(),
                "o_custkey": self.cust(),
                "o_orderstatus": STATUSES[int(rng.integers(0, 3))],
                "o_totalprice": round(float(rng.uniform(1000.0, 500000.0)), 2),
                "o_orderdate_day": int(rng.integers(0, 2400)),
                "o_orderpriority": PRIORITIES[int(rng.integers(0, 5))],
            }
        elif kind == "send_messages":
            rows = []
            for _ in range(MESSAGES_PER_SEND):
                eid = self.event_id0 + self.n_sent
                self.n_sent += 1
                rows.append({
                    "event_id": eid,
                    "ts": str(STREAM_T0 + np.timedelta64(eid - self.event_id0, "s")) + "Z",
                    "user_id": self.euser(),
                    "event_type": EVENT_TYPES[int(rng.integers(0, 5))],
                    "value": round(float(rng.exponential(50.0)), 2),
                    "props": '{"k": %d}' % int(rng.integers(0, 100)),
                })
            op["rows"] = rows
        return op


def batch_pass(queries: list[str], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a seeded shuffle of the full list."""
    order = list(queries)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order
