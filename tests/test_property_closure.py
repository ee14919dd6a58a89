"""Property-based tests for the path-doubling distance closure — the
seminaive delta composition's exactness argument (path splitting: only
last-round-fresh pairs compose) is the subtlest invariant in
algorithms.py — and for the SCC strategies, against brute-force Python
reachability/shortest-distance references."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=25,
)

prop_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _brute_closure(edges):
    """Floyd-Warshall-ish reference: reachability pairs + min-plus
    distances (dist >= 1; self-pairs only via actual cycles)."""
    import itertools

    nodes = sorted({x for e in edges for x in e})
    INF = float("inf")
    dist = {(a, b): INF for a in nodes for b in nodes}
    for s, t in edges:
        dist[(s, t)] = 1
    for k, a, b in itertools.product(nodes, nodes, nodes):
        if dist[(a, k)] + dist[(k, b)] < dist[(a, b)]:
            dist[(a, b)] = dist[(a, k)] + dist[(k, b)]
    reach = {(a, b) for (a, b), d in dist.items() if d < INF}
    dmap = {(a, b): int(d) for (a, b), d in dist.items() if d < INF}
    return reach, dmap


@given(edges_strategy)
@prop_settings
def test_distance_closure_matches_bruteforce(spark, raw_edges):
    from graphview_spark.algorithms import _distance_closure

    edges = sorted(set(raw_edges))
    _, ref_dist = _brute_closure(edges)
    e = spark.createDataFrame(edges, "src long, sink long")
    got, complete = _distance_closure(e, budget_factor=10 ** 6)
    assert complete
    assert {
        (r["src"], r["sink"]): r["dist"] for r in got.collect()
    } == ref_dist


endpoint = st.one_of(st.none(), st.integers(min_value=0, max_value=11))


@given(
    st.sets(st.integers(min_value=0, max_value=9)),
    st.lists(st.tuples(endpoint, endpoint), max_size=25),
)
@example({1, 2, 3}, [(1, 0), (0, 1), (2, 3), (3, 2), (3, None), (None, 3)])
@example(set(range(5)), [])
@prop_settings
def test_scc_matches_bruteforce(spark, node_set, raw_edges):
    """Both SCC strategies — the driver Tarjan (default) and the
    distributed trim + FW-BW peel (driver_edges=0) — must equal the
    brute-force mutual-reach labels of the subgraph ``nodes`` induces,
    on graphs with self-loops, duplicate edges, null endpoints,
    endpoints outside ``nodes``, isolated nodes and empty edge frames.
    The first example is the one on which the old closure path labelled
    node 1 with 0, an id outside ``nodes``."""
    import graphview_spark.algorithms as A

    nodes = sorted(node_set)
    induced = [(s, t) for s, t in raw_edges
               if s in node_set and t in node_set]
    ref_reach, _ = _brute_closure(induced) if induced else (set(), {})
    ref_scc = {
        a: min([a] + [b for b in nodes
                      if (a, b) in ref_reach and (b, a) in ref_reach])
        for a in nodes
    }
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    e = spark.createDataFrame(raw_edges, "src long, sink long")
    for driver_edges in (None, 0):
        got = A.strongly_connected_components(
            ndf, e, driver_edges=driver_edges).collect()
        assert len(got) == len(nodes), driver_edges
        assert {r["id"]: r["scc"] for r in got} == ref_scc, driver_edges


@given(edges_strategy)
@prop_settings
def test_closure_mass_estimate_matches_bruteforce(spark, raw_edges):
    """With every src sampled (k=1) the mass pre-estimate must equal
    the true closure's FULL pair count — cycle self-pairs included
    (ADVICE r9 #3), since that is the frame count the budget measures —
    on random digraphs: the exact-per-seed property that makes the
    scaled estimate unbiased."""
    import graphview_spark.algorithms as A

    edges = sorted({(s, t) for s, t in raw_edges if s != t})
    if not edges:
        return
    ref_reach, _ = _brute_closure(edges)
    want = float(len(ref_reach))
    e = spark.createDataFrame(edges, "src long, sink long")
    assert A._closure_mass_estimate(
        e, budget=10**9, sample_target=10**9) == want


@given(edges_strategy, st.lists(st.booleans(), min_size=25, max_size=25))
@prop_settings
def test_probe_next_mass_matches_bruteforce(spark, raw_edges, fresh_bits):
    """The src-sampled next-squaring dry run at mod=1 must equal the
    true post-dedup pair count of one seminaive round (g ∪ delta∘g ∪
    g∘delta) for random graphs and random fresh flags."""
    from graphview_spark.algorithms import _probe_next_mass

    edges = sorted(set(raw_edges))
    rows = [(s, t, int(f)) for (s, t), f in zip(edges, fresh_bits)]
    if not rows:
        return
    g = spark.createDataFrame(rows, "src long, sink long, fresh int")
    pairs = {(s, t) for s, t, _ in rows}
    delta = {(s, t) for s, t, f in rows if f}
    nxt = set(pairs)
    nxt |= {(a, t) for a, b in delta for s, t in pairs if s == b}
    nxt |= {(a, t) for a, b in pairs for s, t in delta if s == b}
    assert _probe_next_mass(g, mod=1) == len(nxt)


def _brute_brandes(edges, seeds):
    """Reference σ-weighted Brandes (per-seed BFS forward σ pass +
    reverse δ accumulation, plain Python floats)."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for s, t in sorted(set(edges)):
        adj[s].append(t)
    bt = defaultdict(float)
    for s in seeds:
        dist = {s: 0}
        sigma = {s: 1.0}
        order = [s]
        dq = deque([s])
        while dq:
            v = dq.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    sigma[w] = 0.0
                    dq.append(w)
                    order.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = {v: 0.0 for v in order}
        for v in reversed(order):
            for w in adj[v]:
                if dist.get(w) == dist[v] + 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        for v in order:
            if v != s:
                bt[v] += delta[v]
    return {v: x for v, x in bt.items() if x > 0}


@given(edges_strategy)
@prop_settings
def test_brandes_betweenness_matches_bruteforce(spark, raw_edges):
    """Batched multi-seed Brandes (one (seed,node)-keyed frontier, σ
    summed where fronts meet, reverse δ walk over recorded levels) vs
    the textbook per-seed reference — random digraphs routinely contain
    multiple shortest paths, exercising the σ-fractional case the
    closure pair count deliberately does not handle."""
    from graphview_spark.algorithms import brandes_betweenness

    edges = sorted(set(raw_edges))
    nodes = sorted({x for e in edges for x in e})
    seeds = nodes[::2]  # every other node: sampled-source semantics
    if not seeds:
        return
    ref = _brute_brandes(edges, seeds)
    e = spark.createDataFrame(edges, "src long, sink long")
    sdf = spark.createDataFrame([(n,) for n in seeds], "s long")
    got = {
        r["v"]: r["betweenness"]
        for r in brandes_betweenness(sdf, e).collect()
    }
    assert set(got) == set(ref)
    for v, x in ref.items():
        assert abs(got[v] - x) < 1e-6, (v, got[v], x)


def test_brandes_sigma_fractional_diamond(spark):
    """Pinned multi-shortest-path fixture: s→{a,b}→t (two shortest s→t
    paths) gives a and b betweenness 1/2 each under σ-weighting — the
    stress pair count would say 1 for both."""
    from graphview_spark.algorithms import betweenness

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, sink long")
    seeds = spark.createDataFrame([(0,)], "s long")
    got = {
        r["v"]: r["betweenness"]
        for r in betweenness(seeds, e, variant="brandes").collect()
    }
    assert got == {1: 0.5, 2: 0.5}


@given(edges_strategy)
@prop_settings
def test_seed_betweenness_fallback_matches_closure_on_trees(spark, raw_edges):
    """On unique-shortest-path graphs the budget-tripped Brandes
    fallback must equal the closure pair count exactly. Forests are
    built from the random edges by keeping one parent per child and
    forcing src < sink (acyclic, unique paths)."""
    from graphview_spark.algorithms import (
        _distance_closure, seed_betweenness)

    by_child = {}
    for s, t in sorted(set(raw_edges)):
        a, b = min(s, t), max(s, t)
        if a != b:
            by_child.setdefault(b, a)
    edges = sorted((p, c) for c, p in by_child.items())
    if not edges:
        return
    nodes = sorted({x for e in edges for x in e})
    e = spark.createDataFrame(edges, "src long, sink long")
    sdf = spark.createDataFrame([(n,) for n in nodes], "s long")
    D, complete = _distance_closure(e, budget_factor=10 ** 6)
    assert complete
    closure_path = {
        (r["v"], r["betweenness"])
        for r in seed_betweenness(D, sdf, budget_ok=True).collect()
    }
    fallback = {
        (r["v"], r["betweenness"])
        for r in seed_betweenness(
            D, sdf, budget_ok=False, edges=e, seeds=sdf).collect()
    }
    assert fallback == closure_path


def test_seed_betweenness_budget_trip_without_fallback_raises(spark):
    from graphview_spark.algorithms import seed_betweenness
    import pytest

    D = spark.createDataFrame([(1, 2, 1)], "src long, sink long, dist long")
    with pytest.raises(ValueError, match="budget tripped"):
        seed_betweenness(D, lambda c: c <= 1, budget_ok=False)


@given(edges_strategy)
@prop_settings
def test_stress_betweenness_matches_brandes_on_functional_graphs(
        spark, raw_edges):
    """On unique-shortest-path graphs INCLUDING cycles the closure
    stress count must equal the Brandes fallback exactly (round-7
    review fix: the closure's (s,s,L) self-pairs are not Brandes
    targets). Functional graphs — at most one out-edge per node, built
    by keeping the first edge per source — have unique shortest paths
    and plenty of cycles under the random strategy."""
    from graphview_spark.algorithms import (
        _distance_closure, seed_betweenness)

    by_src = {}
    for s, t in sorted(set(raw_edges)):
        if s != t:
            by_src.setdefault(s, t)
    edges = sorted(by_src.items())
    if not edges:
        return
    nodes = sorted({x for e in edges for x in e})
    e = spark.createDataFrame(edges, "src long, sink long")
    sdf = spark.createDataFrame([(n,) for n in nodes], "s long")
    D, complete = _distance_closure(e, budget_factor=10 ** 6)
    assert complete
    closure_path = {
        (r["v"], r["betweenness"])
        for r in seed_betweenness(D, sdf, budget_ok=True).collect()
    }
    fallback = {
        (r["v"], r["betweenness"])
        for r in seed_betweenness(
            D, sdf, budget_ok=False, edges=e, seeds=sdf).collect()
    }
    assert fallback == closure_path


def test_brandes_raises_past_max_depth(spark):
    from graphview_spark.algorithms import brandes_betweenness
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, sink long")
    seeds = spark.createDataFrame([(0,)], "s long")
    with pytest.raises(ValueError, match="max_depth"):
        brandes_betweenness(seeds, chain, max_depth=3)
    got = {r["v"]: r["betweenness"]
           for r in brandes_betweenness(seeds, chain, max_depth=20).collect()}
    assert got[1] == 9.0  # node 1 sits on paths to the 9 nodes behind it


@given(raw_edges=edges_strategy)
@prop_settings
def test_multi_source_distances_matches_bruteforce(spark, raw_edges):
    """The batched (seed, node)-keyed BFS (round 8's shared forward
    pass for Brandes AND the closeness fallback) must equal the
    brute-force per-seed shortest distances, self-distance 0 included,
    on random directed multigraphs."""
    from graphview_spark.algorithms import multi_source_distances

    edges = [(s, t) for s, t in raw_edges if s != t]
    if not edges:
        return
    nodes = sorted({x for e in edges for x in e})
    seeds = nodes[::2] or nodes[:1]
    _, dist = _brute_closure(edges)

    e = spark.createDataFrame(edges, "src long, sink long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "s long")
    got = {(r["s"], r["id"]): r["dist"]
           for r in multi_source_distances(sdf, e).collect()}
    want = {(s, s): 0 for s in seeds}
    for s in seeds:
        for t in nodes:
            d = dist.get((s, t), float("inf"))
            if d != float("inf") and s != t:
                want[(s, t)] = d
    assert got == want
