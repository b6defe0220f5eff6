"""The benchmark's Firebase double must serve exactly what the engine's
FakeFirebase serves: the same pages and the same PayloadTooLarge
decisions, on seeded random trees.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import random

import pytest

from firebase_realtime_database_backup_spark.sources.firebase import (
    FakeFirebase,
    FirebaseTransportError,
    PayloadTooLarge,
    extract,
)
from perfbench.datagen import make_tree, mutate_tree
from perfbench.firebase_double import GET, OK, PATCH, REFUSED, TOO_LARGE, IndexedFirebase


def _random_tree(rng: random.Random, depth: int = 0) -> dict:
    out = {}
    for i in range(rng.randint(0, 12 if depth else 40)):
        key = rng.choice(["k", "-N", "é", "a b", "Z", "~"]) + str(rng.randint(0, 999))
        roll = rng.random()
        if roll < 0.3 and depth < 4:
            out[key] = _random_tree(rng, depth + 1)
        elif roll < 0.5:
            out[key] = "x" * rng.randint(0, 300) + "\"é\n"
        elif roll < 0.7:
            out[key] = rng.randint(-10**9, 10**9)
        elif roll < 0.8:
            out[key] = rng.random()
        elif roll < 0.9:
            out[key] = rng.choice([True, False, None])
        else:
            out[key] = {}
    return out


def _dict_paths(node, path="/"):
    yield path
    for k, v in node.items():
        if isinstance(v, dict):
            yield from _dict_paths(v, (path.rstrip("/") or "") + "/" + k)


def _call(server, path, **kw):
    try:
        return ("ok", server.get(path, **kw))
    except PayloadTooLarge:
        return ("too_large", None)


def test_same_pages_and_refusals_as_fake():
    outcomes = {"ok": 0, "too_large": 0}
    for seed in range(12):
        rng = random.Random(seed)
        tree = _random_tree(rng)
        budget = rng.choice([64, 200, 1000, 5000])
        fake = FakeFirebase(tree, max_payload_bytes=budget)
        double = IndexedFirebase(tree, rtt_s=0, max_payload_bytes=budget)
        for path in list(_dict_paths(tree)) + ["/missing", "/missing/deeper"]:
            node = fake._node(path)
            keys = sorted(node) if isinstance(node, dict) else []
            starts = [None, "", "~~~"] + rng.sample(keys, min(3, len(keys)))
            for start_at in starts:
                for limit in (None, 1, 2, 3, 7, 1000):
                    kw = dict(order_by_key=True, limit_to_first=limit, start_at=start_at)
                    want, got = _call(fake, path, **kw), _call(double, path, **kw)
                    assert got == want, (seed, path, kw)
                    outcomes[want[0]] += 1
            assert double.get(path, shallow=True) == fake.get(path, shallow=True)
    assert outcomes["ok"] > 100 and outcomes["too_large"] > 100, outcomes


def test_scalar_and_missing_paths():
    tree = {"a": 1, "b": {"c": "x"}}
    double = IndexedFirebase(tree, rtt_s=0)
    assert double.get("/a") == 1
    assert double.get("/a", shallow=True) == 1
    assert double.get("/nope") is None
    assert double.get("/b/c", order_by_key=True, limit_to_first=5) == "x"


def test_spans_record_every_request():
    double = IndexedFirebase({"a": {"x": "y" * 100}}, rtt_s=0, max_payload_bytes=50)
    double.get("/", shallow=True)
    with pytest.raises(PayloadTooLarge):
        double.get("/a", order_by_key=True, limit_to_first=10)
    double.update("/b", {"k": 1})
    with pytest.raises(FirebaseTransportError):
        IndexedFirebase({}, rtt_s=0, max_patch_bytes=5).update("/", {"k": "long"})
    assert [(s.path, s.kind, s.outcome) for s in double.spans] == [
        ("/", "shallow", OK),
        ("/a", GET, TOO_LARGE),
        ("/b", PATCH, OK),
    ]
    assert all(s.end >= s.start for s in double.spans)
    assert double.tree["b"] == {"k": 1}


def test_patch_budget_refuses_like_fake():
    data = {"k": "v" * 100}
    with pytest.raises(FirebaseTransportError):
        FakeFirebase({}, fail_update_bytes=50).update("/", data)
    double = IndexedFirebase({}, rtt_s=0, max_patch_bytes=50)
    with pytest.raises(FirebaseTransportError):
        double.update("/", data)
    assert double.spans[-1].outcome == REFUSED
    assert double.tree == {}


def test_reads_after_write_see_the_write():
    double = IndexedFirebase({"a": {"x": 1}}, rtt_s=0)
    double.update("/a", {"y": 2})
    assert double.get("/a", order_by_key=True) == {"x": 1, "y": 2}


def test_mutation_counts_are_exact():
    tree = make_tree(3, scale=0.02)
    new, counts = mutate_tree(tree, 3)
    for coll in ["giant"] + [k for k in tree if k.startswith("coll")]:
        old_keys, new_keys = set(tree[coll]), set(new[coll])
        counts["added"] -= len(new_keys - old_keys)
        counts["removed"] -= len(old_keys - new_keys)
        counts["changed"] -= sum(tree[coll][k] != new[coll][k] for k in old_keys & new_keys)
    assert counts == {"added": 0, "removed": 0, "changed": 0}
    assert make_tree(3, scale=0.02) == tree, "the tree must come from the seed"


def test_extract_through_double_matches_fake(spark):
    tree = make_tree(5, scale=0.01)
    kw = dict(max_ipp=50, root_start_ipp=50, parallelism=3)
    via_fake = extract(spark, FakeFirebase(tree, max_payload_bytes=4096), **kw)
    double = IndexedFirebase(tree, rtt_s=0, max_payload_bytes=4096)
    via_double = extract(spark, double, **kw)
    assert sorted(via_double.collect()) == sorted(via_fake.collect())
    assert any(s.outcome == TOO_LARGE for s in double.spans)
