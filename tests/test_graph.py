"""X56 PageRank (operators/graph.py): closed forms (cycle, complete
graph), a pure-python reference over arbitrary graphs, dangling-mass
conservation, early stop, determinism across partitionings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid19i2b2_spark.operators.graph import pagerank


def _ranks(spark, edge_list, **kw):
    e = spark.createDataFrame(edge_list, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(e, **kw).collect()}


def _ref(edge_list, damping=0.85, n_iter=20, tol=1e-6):
    """The same power iteration in pure python."""
    nodes = sorted({x for e in edge_list for x in e})
    n = len(nodes)
    out: dict = {}
    for s, _ in edge_list:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r for v, r in rank.items() if v not in out)
        new = {v: (1.0 - damping) / n + damping * dangling / n for v in nodes}
        for s, d in edge_list:
            new[d] += damping * rank[s] / out[s]
        delta = sum(abs(new[v] - rank[v]) for v in nodes)
        rank = new
        if tol is not None and delta < tol:
            break
    return rank


def test_cycle_is_uniform(spark):
    """A directed cycle is perfectly symmetric: every node 1/n, one
    iteration already at the fixpoint."""
    edges = [(i, (i + 1) % 5) for i in range(5)]
    got = _ranks(spark, edges, n_iter=3)
    for v, r in got.items():
        assert r == pytest.approx(0.2, abs=1e-9), (v, r)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_matches_python_reference_on_asymmetric_graph(spark):
    """Hub-and-authority shape with a dangling node and a duplicate
    edge (multigraph reading: linking twice contributes twice)."""
    edges = [
        (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 3),  # dup edge
        (5, 1),  # 5 has no in-links; 3 is the authority
        (3, 6),  # 6 is dangling (no out-edges)
    ]
    got = _ranks(spark, edges, n_iter=30, tol=None)
    want = _ref(edges, n_iter=30, tol=None)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the authority out-ranks its spokes
    assert got[3] > got[1] > got[5]


def test_dangling_mass_conserved(spark):
    """All mass flows into a sink with no out-edges; without uniform
    redistribution total rank would decay toward (1-d) — it must stay
    1 every iteration."""
    edges = [(1, 3), (2, 3)]  # 3 dangling
    got = _ranks(spark, edges, n_iter=15, tol=None)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    want = _ref(edges, n_iter=15, tol=None)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_early_stop_and_validation(spark):
    """tol stops a symmetric graph after one pass (delta 0); parameter
    validation is loud."""
    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    out = {r["node"]: r["rank"] for r in pagerank(e, n_iter=50, tol=1e-3).collect()}
    assert out[1] == pytest.approx(0.5, abs=1e-9)
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=1.0)
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(e, n_iter=0)


def test_deterministic_across_partitionings(spark):
    edges = [(i, (i * 7) % 11) for i in range(11) if i != (i * 7) % 11]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = {r["node"]: r["rank"] for r in pagerank(e.repartition(7), n_iter=10).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(e.repartition(2), n_iter=10).collect()}
    assert set(a) == set(b)
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12), v


def _ref_weighted(edge_list, damping=0.85, n_iter=20, reset=None):
    """Weighted/personalized power iteration in pure python (weights
    per edge; reset = {node: prob} normalized, None = uniform)."""
    nodes = sorted({x for s, d, _ in edge_list for x in (s, d)})
    n = len(nodes)
    out: dict = {}
    for s, _, w in edge_list:
        out[s] = out.get(s, 0.0) + w
    if reset is None:
        rp = {v: 1.0 / n for v in nodes}
    else:
        tot = sum(reset.values())
        rp = {v: reset.get(v, 0.0) / tot for v in nodes}
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r for v, r in rank.items() if v not in out)
        new = {
            v: (1.0 - damping) * rp[v] + damping * dangling * rp[v]
            for v in nodes
        }
        for s, d, w in edge_list:
            new[d] += damping * rank[s] * w / out[s]
        rank = new
    return rank


def test_weighted_pagerank_matches_reference(spark):
    """Edge weights split a source's rank proportionally; pinned
    against the python reference, with the heavier edge's target
    out-ranking the lighter's; non-positive weights rejected."""
    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)]
    e = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e, weight="w", n_iter=25, tol=None).collect()
    }
    want = _ref_weighted(edges, n_iter=25)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    assert got[2] > got[3]
    bad = spark.createDataFrame(
        [(1, 2, 0.0)], "src long, dst long, w double"
    )
    with pytest.raises(ValueError, match="positive"):
        pagerank(bad, weight="w")


def test_personalized_reset_localizes_rank(spark):
    """Personalized teleport: all restart mass on node 1 — rank must
    concentrate around 1's neighborhood vs the uniform run, dangling
    mass follows the reset distribution, total stays 1; python
    reference at 1e-9; empty reset mass is loud."""
    edges = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 1, 1.0),
             (5, 6, 1.0)]  # a 4-cycle + a disconnected dangling tail
    e = spark.createDataFrame(edges, "src long, dst long, w double")
    reset = spark.createDataFrame([(1, 1.0)], "node long, reset_prob double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e, n_iter=12, tol=None, reset=reset).collect()
    }
    want = _ref_weighted(edges, n_iter=12, reset={1: 1.0})
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    uniform = {
        r["node"]: r["rank"]
        for r in pagerank(e, n_iter=12, tol=None).collect()
    }
    assert got[1] > uniform[1]          # mass concentrates at the seed
    assert got[6] < uniform[6]          # the disconnected tail starves
    with pytest.raises(ValueError, match="positive mass"):
        pagerank(e, reset=spark.createDataFrame(
            [(9, 0.0)], "node long, reset_prob double"))


def test_reset_mass_outside_graph_is_renormalized(spark):
    """ADVICE r10 #2: reset rows naming nodes the graph doesn't contain
    must not leak teleport mass — normalization happens over the
    IN-GRAPH nodes, so {1: 1.0, 99: 3.0} behaves exactly like {1: 1.0}
    and total rank stays 1; a reset that is positive ONLY outside the
    graph is loud."""
    edges = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)]
    e = spark.createDataFrame(edges, "src long, dst long, w double")
    with_ghost = spark.createDataFrame(
        [(1, 1.0), (99, 3.0)], "node long, reset_prob double"
    )
    clean = spark.createDataFrame([(1, 1.0)], "node long, reset_prob double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(e, n_iter=8, tol=None, reset=with_ghost).collect()
    }
    want = {
        r["node"]: r["rank"]
        for r in pagerank(e, n_iter=8, tol=None, reset=clean).collect()
    }
    assert set(got) == set(want) == {1, 2, 3}
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    only_ghost = spark.createDataFrame(
        [(99, 5.0)], "node long, reset_prob double"
    )
    with pytest.raises(ValueError, match="positive mass on the"):
        pagerank(e, reset=only_ghost)


def test_warm_start_converges_in_one_pass_same_fixpoint(spark):
    """init_ranks (round 11): seeding from a converged run must stop
    after ONE pass under tol and land on the same fixpoint; uncovered
    (new) nodes seed at 1/n and the vector renormalizes, so any
    positive init is safe; zero-mass init is loud."""
    edges = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0),
             (4, 1, 1.0)]
    e = spark.createDataFrame(edges, "src long, dst long, w double")
    # damping 0.85 contracts ~0.85/pass: tol=1e-3 from an initial
    # delta ~0.1 needs ~28 passes — reachable, unlike a 1e-10 tol
    # (which needs ~140 and silently exhausts n_iter); 1e-4 (~40
    # passes) proved the same thing for 1.4x the wall (round 16)
    cold_probe: dict = {}
    cold = pagerank(e, tol=1e-3, n_iter=100, plan_probe=cold_probe)
    cold_rows = cold.collect()
    cold_map = {r["node"]: r["rank"] for r in cold_rows}
    assert 2 < cold_probe["n_iterations"] < 100

    warm_probe: dict = {}
    warm = {
        r["node"]: r["rank"]
        for r in pagerank(
            e, tol=1e-3, n_iter=100, init_ranks=cold,
            plan_probe=warm_probe,
        ).collect()
    }
    assert warm_probe["n_iterations"] == 1
    # one extra contraction from cold's point: within tol of cold
    for v in cold_map:
        assert warm[v] == pytest.approx(cold_map[v], abs=1e-3), v
    assert sum(warm.values()) == pytest.approx(1.0, abs=1e-9)

    # stale init missing a node (renormalized, still converges to the
    # same fixpoint) — the evolving-graph case
    stale = spark.createDataFrame(
        [(r["node"], r["rank"]) for r in cold_rows if r["node"] != 4],
        "node long, rank double",
    )
    warm2 = {
        r["node"]: r["rank"]
        for r in pagerank(e, tol=1e-4, n_iter=100,
                          init_ranks=stale).collect()
    }
    # cold (tol 1e-3) sits ~2e-4 per node from the one true fixpoint
    # and this run (tol 1e-4) ~2e-5, so the two agree well inside 1e-3
    for v in cold_map:
        assert warm2[v] == pytest.approx(cold_map[v], abs=1e-3), v
    assert sum(warm2.values()) == pytest.approx(1.0, abs=1e-9)
    # the guard can only trip when EVERY node is covered (uncovered
    # nodes seed at 1/n > 0 by design)
    with pytest.raises(ValueError, match="positive total mass"):
        pagerank(
            e, init_ranks=spark.createDataFrame(
                [(v, 0.0) for v in (1, 2, 3, 4)],
                "node long, rank double",
            ),
        )


def test_top_anchor_texts(spark):
    """X64: per-target top-k anchors by link count — trimmed/lowered,
    empty/NULL dropped, ties to anchor asc, k enforced per target; the
    plan compiles the per-target top-k to WindowGroupLimit."""
    from covid19i2b2_spark.operators.graph import top_anchor_texts

    rows = [
        (1, "Home"), (1, "home "), (1, "start page"), (1, "HOME"),
        (1, "start page"), (1, "zzz"), (1, "aaa"),
        (2, "docs"), (2, None), (2, "  "),
    ]
    links = spark.createDataFrame(rows, "dst long, anchor string")
    out = top_anchor_texts(links, "dst", "anchor", k=2)
    got = [(r["dst"], r["anchor_text"], r["n_links"], r["rank"])
           for r in out.orderBy("dst", "rank").collect()]
    assert got == [
        (1, "home", 3, 1),
        (1, "start page", 2, 2),
        (2, "docs", 1, 1),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    # case-preserving mode keeps spellings distinct
    kept = top_anchor_texts(links, "dst", "anchor", k=3,
                            lowercase=False)
    names = {r["anchor_text"] for r in kept.filter(F.col("dst") == 1).collect()}
    assert "Home" in names or "HOME" in names
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must"):
        top_anchor_texts(links, "dst", "anchor", k=0)


def _ref_hits(edge_list, n_iter=20):
    """The same HITS iteration in pure python (L1-normalized)."""
    nodes = sorted({x for e in edge_list for x in e})
    h = {v: 1.0 / len(nodes) for v in nodes}
    a = {v: 0.0 for v in nodes}
    for _ in range(n_iter):
        a = {v: 0.0 for v in nodes}
        for s, d in edge_list:
            a[d] += h[s]
        z = sum(a.values()) or 1.0
        a = {v: x / z for v, x in a.items()}
        h = {v: 0.0 for v in nodes}
        for s, d in edge_list:
            h[s] += a[d]
        z = sum(h.values()) or 1.0
        h = {v: x / z for v, x in h.items()}
    return a, h


def test_hits_matches_reference_and_separates_roles(spark):
    """X65: a directory page (pure hub) and a cited page (pure
    authority) must separate — python reference at 1e-9, both vectors
    sum to 1, early stop converges to the same fixpoint, determinism
    across partitionings."""
    from covid19i2b2_spark.operators.graph import hits

    # 1 and 2 are directories linking the cited pages 3,4,5; 3 also
    # links 4 (a weak hub)
    edges = [(1, 3), (1, 4), (1, 5), (2, 3), (2, 4), (3, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["authority"], r["hub"])
        for r in hits(e, n_iter=12, tol=None).collect()
    }
    a_ref, h_ref = _ref_hits(edges, n_iter=12)
    for v in a_ref:
        assert got[v][0] == pytest.approx(a_ref[v], abs=1e-9), v
        assert got[v][1] == pytest.approx(h_ref[v], abs=1e-9), v
    assert sum(x for x, _ in got.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(x for _, x in got.values()) == pytest.approx(1.0, abs=1e-9)
    # role separation: 1 is the best hub with zero authority; 4 is the
    # best authority with little hub mass
    assert got[1][1] > got[3][1] and got[1][0] == 0.0
    assert got[4][0] > got[3][0] > 0.0

    # tol early stop lands on the same fixpoint (within tol scale)
    stopped = {
        r["node"]: (r["authority"], r["hub"])
        for r in hits(e, n_iter=100, tol=1e-6).collect()
    }
    a_fix, h_fix = _ref_hits(edges, n_iter=100)
    for v in a_fix:
        assert stopped[v][0] == pytest.approx(a_fix[v], abs=1e-4), v

    # determinism across partitionings
    x = sorted(map(tuple, hits(e.repartition(7), n_iter=10, tol=None).collect()))
    y = sorted(map(tuple, hits(e.repartition(2), n_iter=10, tol=None).collect()))
    assert x == y
    with pytest.raises(ValueError, match="n_iter"):
        hits(e, n_iter=0)


def test_pagerank_with_deg_join_executes_once(spark):
    """VERDICT r11 #1 (pagerank half): ranks⋈degrees feeds two actions
    per pass (the dangling scalar and the contribution join) — pinned,
    the update plan reads it back as an ExistingRDD, leaving exactly
    two joins (contributions ⋈ edges, node_frame ⋈ contribs) instead
    of re-deriving the degree join a second time."""
    from covid19i2b2_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    probe: dict = {}
    pagerank(e, n_iter=3, tol=None, plan_probe=probe)
    p = probe["iteration_plans"][1]     # steady-state pass
    joins = sum(
        p.count(j)
        for j in (
            "SortMergeJoin", "BroadcastHashJoin",
            "ShuffledHashJoin", "BroadcastNestedLoopJoin",
        )
    )
    assert joins == 2, p
    assert "Scan ExistingRDD" in p, p


def test_hits_half_step_aggregate_executes_once(spark):
    """VERDICT r11 #1: each half-step's edge-keyed join + groupBy (the
    pass's dominant work) must execute exactly ONCE — a_raw/h_raw are
    pinned before their normalizer collects, so the normalized-state
    update reads the aggregate back as an ExistingRDD scan instead of
    re-deriving it.  The probe pins the plan shape: no aggregate and
    no edge frame anywhere in either update's plan."""
    from covid19i2b2_spark.operators.graph import hits

    e = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3), (3, 4)], "src long, dst long"
    )
    probe: dict = {}
    ref = {
        r["node"]: (r["authority"], r["hub"])
        for r in hits(e, n_iter=3, tol=None).collect()
    }
    got = {
        r["node"]: (r["authority"], r["hub"])
        for r in hits(e, n_iter=3, tol=None, plan_probe=probe).collect()
    }
    assert got == ref and probe["n_iterations"] == 3
    plans = probe["half_step_plans"]
    assert len(plans) == 2
    for p in plans:
        # the update is nodes ⋈ pinned-aggregate + project: the
        # half-step's HashAggregate and the edge columns must NOT
        # reappear in its plan
        assert "HashAggregate" not in p, p
        assert "__src" not in p and "__dst" not in p, p
        assert "Scan ExistingRDD" in p, p
