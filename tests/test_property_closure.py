"""Property-based tests for the graph algorithms that run on two legs —
SCC labels, closeness and Brandes betweenness, each exactly on the
driver within the edge bound and distributed past it — against
brute-force Python reachability/shortest-distance references."""

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


def _frames(spark, raw_edges):
    """(edge frame as given, its null-free edges, seed ids, seed frame):
    every other endpoint is a seed (sampled-source semantics), node 0
    when there is none."""
    edges = [(s, t) for s, t in raw_edges
             if s is not None and t is not None]
    nodes = sorted({x for e in raw_edges for x in e if x is not None})
    seeds = nodes[::2] or [0]
    e = spark.createDataFrame(raw_edges, "src long, sink long")
    sdf = spark.createDataFrame([(n,) for n in seeds], "s long")
    return e, edges, seeds, sdf


@given(edges_strategy)
@example([])  # empty edge frame
@example([(0, 1), (1, None), (None, 2), (1, 2), (None, None)])  # nulls
@example([(0, 0), (0, 1), (0, 1), (1, 1), (1, 2), (1, 2)])  # loops, dups
@example([(0, 1), (0, 2), (1, 3), (2, 3)])  # σ-fractional diamond
@prop_settings
def test_brandes_betweenness_matches_bruteforce(spark, raw_edges):
    """Both betweenness legs — per-seed Brandes on the driver (default)
    and the batched multi-seed BFS in Spark (driver_edges=0: one
    (seed,node)-keyed frontier, σ summed where fronts meet, reverse δ
    walk over recorded levels) — vs the textbook per-seed reference.
    Random digraphs routinely contain multiple shortest paths,
    exercising the σ-fractional case."""
    from graphview_spark.algorithms import betweenness

    e, edges, seeds, sdf = _frames(spark, raw_edges)
    ref = _brute_brandes(edges, seeds)
    for driver_edges in (None, 0):
        got = {
            r["v"]: r["betweenness"]
            for r in betweenness(sdf, e, driver_edges=driver_edges).collect()
        }
        assert set(got) == set(ref), driver_edges
        for v, x in ref.items():
            assert abs(got[v] - x) < 1e-6, (driver_edges, v, got[v], x)


def test_brandes_sigma_fractional_diamond(spark):
    """Pinned multi-shortest-path fixture: s→{a,b}→t (two shortest s→t
    paths) gives a and b betweenness 1/2 each under σ-weighting on both
    legs — a through-node pair count would say 1 for both."""
    from graphview_spark.algorithms import betweenness

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, sink long")
    seeds = spark.createDataFrame([(0,)], "s long")
    for driver_edges in (None, 0):
        got = {
            r["v"]: r["betweenness"]
            for r in betweenness(
                seeds, e, driver_edges=driver_edges).collect()
        }
        assert got == {1: 0.5, 2: 0.5}, driver_edges


def test_brandes_raises_past_max_depth(spark):
    """A seed whose BFS outlives ``max_depth`` raises instead of
    undercounting — on the distributed leg and on the driver leg of
    ``betweenness`` and ``closeness`` alike, at the same depth, so the
    size gate never decides whether a query fails."""
    from graphview_spark.algorithms import (
        betweenness, brandes_betweenness, closeness)
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, sink long")
    seeds = spark.createDataFrame([(0,)], "s long")
    with pytest.raises(ValueError, match="max_depth"):
        brandes_betweenness(seeds, chain, max_depth=3)
    got = {r["v"]: r["betweenness"]
           for r in brandes_betweenness(seeds, chain, max_depth=20).collect()}
    assert got[1] == 9.0  # node 1 sits on paths to the 9 nodes behind it
    # 10 hops deep: on both legs the horizon must exceed the seed's
    # eccentricity
    for f in (betweenness, closeness):
        for driver_edges in (None, 0):
            with pytest.raises(ValueError, match="max_depth"):
                f(seeds, chain, max_depth=10, driver_edges=driver_edges)
            assert f(seeds, chain, max_depth=11,
                     driver_edges=driver_edges).count() > 0


@given(raw_edges=edges_strategy)
@example([])  # empty edge frame
@example([(0, 1), (1, None), (None, 2), (1, 2), (None, None)])  # nulls
@example([(0, 0), (0, 1), (0, 1), (1, 1), (1, 2), (1, 2)])  # loops, dups
@example([(0, 1), (0, 2), (1, 3), (2, 3)])  # σ-fractional diamond
@prop_settings
def test_multi_source_distances_matches_bruteforce(spark, raw_edges):
    """The batched (seed, node)-keyed BFS (the shared forward pass of
    distributed Brandes and closeness) must equal the brute-force
    per-seed shortest distances, self-distance 0 included, on random
    directed multigraphs; and ``closeness`` — on the driver leg
    (default) and the distributed leg (driver_edges=0) — must report
    each seed's reach count and distance sum from the same distances."""
    from graphview_spark.algorithms import closeness, multi_source_distances

    e, edges, seeds, sdf = _frames(spark, raw_edges)
    _, dist = _brute_closure(edges)
    got = {(r["s"], r["id"]): r["dist"]
           for r in multi_source_distances(sdf, e).collect()}
    want = {(s, s): 0 for s in seeds}
    for (s, t), d in dist.items():
        if s in seeds and s != t:
            want[(s, t)] = d
    assert got == want
    sums = {s: (len([t for (a, t) in want if a == s]) - 1,
                sum(d for (a, _), d in want.items() if a == s))
            for s in seeds}
    for driver_edges in (None, 0):
        got = {r["s"]: (r["n_reach"], r["sum_dist"])
               for r in closeness(sdf, e, driver_edges=driver_edges).collect()}
        assert got == sums, driver_edges
