"""Seed determinism and fixed mix of the operation streams."""

from collections import Counter

from perfbench.workloads import (LLM_QUERIES, READS, WRITES, ApiStream,
                                 batch_pass, distinct_kinds)


def decks(seed: int, n: int = 3) -> list[list[dict]]:
    s = ApiStream(seed, customers=range(1500), orders=range(0, 30_000, 2),
                  event_users=range(150), first_event_id=100_000)
    return [s.deck() for _ in range(n)]


def test_same_seed_same_operations():
    assert decks(7) == decks(7)


def test_other_seed_other_operations():
    assert decks(7) != decks(8)


def test_every_deck_has_the_same_mix():
    want = Counter(READS) + Counter(WRITES)
    for seed in (1, 2, 3):
        for deck in decks(seed):
            assert Counter(op["kind"] for op in deck) == want


def test_writes_keep_their_slots_and_order():
    for deck in decks(5):
        kinds = [op["kind"] for op in deck]
        assert [kinds[i] for i in (3, 7, 11, 15)] == WRITES
        # a delete is folded by compact before the next deck's upsert
        assert kinds.index("delete_ad") < kinds.index("compact")


def test_streamed_ids_never_repeat():
    ids = [r["event_id"] for deck in decks(3, 5) for op in deck
           if op["kind"] == "send_messages" for r in op["rows"]]
    assert len(ids) == len(set(ids))
    assert min(ids) == 100_000


def test_keys_come_from_the_given_domains():
    for deck in decks(6, 10):
        for op in deck:
            if op["kind"] in ("get_ad", "ads_by_key", "delete_ad", "is_favorite"):
                assert op["key"] % 2 == 0 and 0 <= op["key"] < 30_000
            elif op["kind"] in ("my_ads", "favorites_of", "login"):
                assert 0 <= op["key"] < 1500
            elif op["kind"] in ("conversations_list", "messages_of", "messages_by_user"):
                assert 0 <= op["key"] < 150


def test_warm_up_deck_covers_every_kind():
    assert {op["kind"] for op in decks(9, 1)[0]} == set(distinct_kinds("api_rw"))


def test_batch_pass_is_a_seeded_permutation():
    a = [batch_pass(LLM_QUERIES, 4, p) for p in range(3)]
    assert a == [batch_pass(LLM_QUERIES, 4, p) for p in range(3)]
    assert all(sorted(x) == sorted(LLM_QUERIES) for x in a)
    assert a != [batch_pass(LLM_QUERIES, 5, p) for p in range(3)]


def test_writes_always_hit_live_ads():
    deleted = set()
    for deck in decks(11, 20):
        for op in deck:
            if op["kind"] == "upsert_ad":
                assert op["row"]["o_orderkey"] not in deleted
            elif op["kind"] == "delete_ad":
                assert op["key"] not in deleted
                deleted.add(op["key"])
