"""Large-star/small-star connected components
(operators/dedup_clusters.py connected_components): equality with a
pure-Python union-find on random graph topologies, the O(log n)-rounds
claim on a long path, long shuffled chains through every caller
(dedup_decision, dedup_decision_by, leakage_safe_split), the
raise-on-cap contract, the round plan, probe/handle contracts and edge
cases."""

from __future__ import annotations

import random

import pytest

from covid19i2b2_spark.operators import dedup_clusters
from covid19i2b2_spark.operators.dedup_clusters import (
    connected_components,
    dedup_decision,
    dedup_decision_by,
)


def _union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min reachable id
    return {x: find(x) for x in parent}


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def _labels(df):
    return {r["node"]: r["component"] for r in df.collect()}


def _shuffled_chain(n_hops, seed):
    """A path of ``n_hops`` edges whose ids are a seeded permutation,
    so neither endpoint order nor id order follows the chain."""
    ids = list(range(n_hops + 1))
    random.Random(seed).shuffle(ids)
    return [(ids[i], ids[i + 1]) for i in range(n_hops)], ids


def test_matches_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    # 4 random graphs exercise the merge/star rounds fully; 6 only
    # added wall (round 16: driver pytest window)
    for trial in range(4):
        n = 40 + trial * 20
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(n // 2 + trial * 10)
        ]
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        want = _union_find(edges)
        got = _labels(connected_components(_pairs(spark, edges)))
        assert got == want, (trial, edges)


def test_long_path_converges_in_log_rounds(spark):
    """A 300-edge path: diameter 300, which a one-hop-per-round label
    propagation would need 300 rounds for; large-star/small-star lands
    the exact answer in ~log2(n) rounds."""
    edges = [(i, i + 1) for i in range(300)]
    want = {i: 0 for i in range(301)}
    probe: dict = {}
    got = _labels(
        connected_components(_pairs(spark, edges), plan_probe=probe)
    )
    assert got == want
    assert probe["n_rounds"] <= 12, probe


def test_long_shuffled_chain_is_one_component(spark):
    """A 64-hop chain with shuffled ids (far past a 10-round budget)
    collapses to ONE survivor through dedup_decision and
    dedup_decision_by, and routes to ONE split through
    leakage_safe_split — never a partial merge straddling train/test."""
    from covid19i2b2_spark.operators.sampling import leakage_safe_split

    edges, ids = _shuffled_chain(64, seed=3)
    pairs = _pairs(spark, edges)
    corpus = spark.createDataFrame(
        [(i, float(i % 7)) for i in ids] + [(1000, 1.0)],
        "doc_id long, quality double",
    )
    assert _union_find(edges) == {i: 0 for i in ids}

    dec = dedup_decision(corpus.select("doc_id"), pairs, "doc_id").collect()
    assert {r["component"] for r in dec if r["doc_id"] != 1000} == {0}
    assert sorted(r["doc_id"] for r in dec if r["keep"]) == [0, 1000]

    by = dedup_decision_by(corpus, pairs, "doc_id", "quality").collect()
    assert {r["component"] for r in by if r["doc_id"] != 1000} == {0}
    # best quality (6.0) wins, ties break to the lowest id
    assert sorted(r["doc_id"] for r in by if r["keep"]) == [6, 1000]

    split = leakage_safe_split(
        corpus.select("doc_id"), pairs, "doc_id",
        {"train": 0.5, "val": 0.25, "test": 0.25},
    ).collect()
    assert {r["component"] for r in split if r["doc_id"] != 1000} == {0}
    assert len({r["split"] for r in split if r["doc_id"] != 1000}) == 1


def test_round_cap_raises(spark, monkeypatch):
    """Hitting the round cap raises instead of returning a partial
    merge; the cap is lowered so a small chain trips it."""
    monkeypatch.setattr(dedup_clusters, "MAX_ROUNDS", 2)
    edges, _ = _shuffled_chain(40, seed=5)
    with pytest.raises(RuntimeError, match="no convergence in 2 rounds"):
        connected_components(_pairs(spark, edges))


def test_self_loops_and_duplicates_ignored(spark):
    edges = [(1, 1), (2, 3), (3, 2), (2, 3)]
    got = _labels(connected_components(_pairs(spark, edges)))
    assert got == {1: 1, 2: 2, 3: 2}


def test_single_edge_and_empty(spark):
    got = _labels(connected_components(_pairs(spark, [(9, 4)])))
    assert got == {9: 4, 4: 4}
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_round_plan_is_windowed_and_join_free(spark):
    """A round reads the previous round's checkpoint as an RDD scan and
    takes each star step's minimum with a window on the key: two
    Window nodes, no join, and at most 3 Exchanges (large-star key,
    small-star key, edge dedup)."""
    probe: dict = {}
    connected_components(
        _pairs(spark, [(1, 2), (2, 3), (3, 4)]), plan_probe=probe
    )
    plan = probe["round_plan"]
    assert "ExistingRDD" in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Window [") == 2, plan
    assert plan.count("Exchange") <= 3, plan


def test_cache_handle_contract(spark):
    handles: list = []
    df = connected_components(_pairs(spark, [(1, 2)]), cache_handles=handles)
    assert len(handles) == 1
    df.count()
    handles[0].unpersist()  # idempotent release surface
