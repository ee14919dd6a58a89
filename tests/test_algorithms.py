"""Iterative algorithms: exact-value checks against NetworkX-free
hand-computed references on tiny graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphview_spark.algorithms import (
    aggregate_messages,
    connected_components,
    pagerank,
)


@pytest.fixture(scope="module")
def tiny(spark):
    # 1 -> 2, 1 -> 3, 2 -> 3, 4 isolated
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "GlobalNodeId long")
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, sink long"
    )
    return nodes, edges


def _python_pagerank(n_nodes, edges, damping, iters):
    ranks = {i: 1.0 / n_nodes for i in range(1, n_nodes + 1)}
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    for _ in range(iters):
        dangling = sum(r for i, r in ranks.items() if i not in out_deg)
        base = (1 - damping) / n_nodes + damping * dangling / n_nodes
        received = {i: 0.0 for i in ranks}
        for s, t in edges:
            received[t] += ranks[s] / out_deg[s]
        ranks = {i: base + damping * received[i] for i in ranks}
    return ranks


def test_pagerank_exact(spark, tiny):
    nodes, edges = tiny
    got = {r["GlobalNodeId"]: r["rank"]
           for r in pagerank(nodes, edges, iterations=10).collect()}
    want = _python_pagerank(4, [(1, 2), (1, 3), (2, 3)], 0.85, 10)
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    # ranks are a probability distribution
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_connected_components(spark):
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "GlobalNodeId long"
    )
    # components: {1,2,3}, {4,5}, {6}, {7}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, sink long"
    )
    got = {r["GlobalNodeId"]: r["component"]
           for r in connected_components(nodes, edges).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 4
    assert got[6] == 6 and got[7] == 7


def test_aggregate_messages_degree(spark, tiny):
    nodes, edges = tiny
    # message 1 per out-edge to the sink, summed = in-degree
    indeg = aggregate_messages(
        nodes, edges, F.lit(1), lambda m: F.sum(m), direction="out"
    )
    got = {r["GlobalNodeId"]: r["msg"] for r in indeg.collect()}
    assert got == {2: 1, 3: 2}


def test_label_propagation_two_cliques(spark):
    from graphview_spark.algorithms import label_propagation
    from pyspark.sql import functions as F

    # two triangles {1,2,3} and {10,11,12} joined by a weak bridge 3-10
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        ["src", "sink"],
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12)], ["id"]
    )
    got = {
        r["id"]: r["label"]
        for r in label_propagation(nodes, edges, iterations=3).collect()
    }
    # each clique converges on its minimum label
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12]
    assert got[10] != 1


def test_bellman_ford_small_graph(spark):
    from graphview_spark.algorithms import bellman_ford
    from pyspark.sql import functions as F

    # 1 -> 2 (w=4); 1 -> 3 (w=1); 3 -> 2 (w=1): shortest 1->2 is 2 via 3
    edges = spark.createDataFrame(
        [(1, 2, 4), (1, 3, 1), (3, 2, 1), (2, 4, 10)],
        ["src", "sink", "w"],
    )
    src = spark.createDataFrame([(1,)], ["id"])
    got = {r["id"]: r["dist"] for r in bellman_ford(src, edges, 4).collect()}
    assert got == {1: 0, 2: 2, 3: 1, 4: 12}


def test_k_core_matches_bruteforce(spark):
    """k_core vs brute-force peeling on random graphs — the iterative
    DataFrame loop must reproduce exact peeling for every k."""
    import random

    from graphview_spark.algorithms import k_core

    rnd = random.Random(4)
    for trial in range(3):
        n = rnd.randrange(5, 12)
        pairs = sorted(
            {
                (a, b)
                for a in range(n)
                for b in range(a + 1, n)
                if rnd.random() < 0.4
            }
        )
        if not pairs:
            continue
        for k in (1, 2, 3):
            # brute force: peel to fixpoint on plain Python sets
            edges = set(pairs)
            while True:
                deg: dict[int, int] = {}
                for a, b in edges:
                    deg[a] = deg.get(a, 0) + 1
                    deg[b] = deg.get(b, 0) + 1
                low = {v for v, d in deg.items() if d < k}
                if not low:
                    break
                edges = {
                    (a, b) for a, b in edges
                    if a not in low and b not in low
                }
            want = {}
            for a, b in edges:
                want[a] = want.get(a, 0) + 1
                want[b] = want.get(b, 0) + 1

            df = spark.createDataFrame(pairs, "a long, b long")
            got = {
                r["node"]: r["core_degree"]
                for r in k_core(df, k).collect()
            }
            assert got == want, (trial, k, pairs)


def _python_hits(n_nodes, edges, iters):
    hub = {i: 1.0 for i in range(1, n_nodes + 1)}
    auth = dict(hub)
    for _ in range(iters):
        a_raw = {i: 0.0 for i in hub}
        for s, t in edges:
            a_raw[t] += hub[s]
        t_sum = sum(a_raw.values())
        auth = {i: a_raw[i] / t_sum for i in a_raw}
        h_raw = {i: 0.0 for i in hub}
        for s, t in edges:
            h_raw[s] += auth[t]
        t_sum = sum(h_raw.values())
        hub = {i: h_raw[i] / t_sum for i in h_raw}
    return hub, auth


def test_hits_exact(spark, tiny):
    from graphview_spark.algorithms import hits

    nodes, edges = tiny
    got = {r["GlobalNodeId"]: (r["hub"], r["auth"])
           for r in hits(nodes, edges, iterations=5).collect()}
    hub, auth = _python_hits(4, [(1, 2), (1, 3), (2, 3)], 5)
    for k in hub:
        assert abs(got[k][0] - hub[k]) < 1e-9, ("hub", k)
        assert abs(got[k][1] - auth[k]) < 1e-9, ("auth", k)
    # node 1 is the pure hub, node 3 the pure authority, 4 isolated
    assert got[1][0] == max(v[0] for v in got.values())
    assert got[3][1] == max(v[1] for v in got.values())
    assert got[4] == (0.0, 0.0)


def _python_ppr(n_nodes, edges, seeds, damping, iters):
    p = {i: (1.0 / len(seeds) if i in seeds else 0.0)
         for i in range(1, n_nodes + 1)}
    ranks = dict(p)
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    for _ in range(iters):
        dangling = sum(r for i, r in ranks.items() if i not in out_deg)
        received = {i: 0.0 for i in ranks}
        for s, t in edges:
            received[t] += ranks[s] / out_deg[s]
        ranks = {i: (1 - damping) * p[i]
                 + damping * (dangling * p[i] + received[i])
                 for i in ranks}
    return ranks


def test_personalized_pagerank_exact(spark, tiny):
    from graphview_spark.algorithms import personalized_pagerank

    nodes, edges = tiny
    seeds = spark.createDataFrame([(1,)], "GlobalNodeId long")
    got = {r["GlobalNodeId"]: r["rank"]
           for r in personalized_pagerank(
               nodes, edges, seeds, damping=0.85, iterations=10).collect()}
    want = _python_ppr(4, [(1, 2), (1, 3), (2, 3)], {1}, 0.85, 10)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    # teleporting to seed 1 keeps all mass reachable from it; node 4
    # (disconnected from the seed) gets none
    assert got[4] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_node_similarity_exact(spark):
    from graphview_spark.algorithms import node_similarity

    # path 1-2-3-4: undirected; 1&3 share {2}, 2&4 share {3}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, sink long"
    )
    got = {(r["na"], r["nb"]): (r["common"], r["jaccard"])
           for r in node_similarity(edges).collect()}
    # deg: 1→1, 2→2, 3→2, 4→1
    assert got == {
        (1, 3): (1, round(1 / (1 + 2 - 1), 3)),
        (2, 4): (1, round(1 / (2 + 1 - 1), 3)),
    }


def test_node_similarity_degree_cap_drops_hub(spark):
    from graphview_spark.algorithms import node_similarity

    # star: hub 1 connects 2,3,4 → all leaf pairs share the hub
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src long, sink long"
    )
    assert node_similarity(edges).count() == 3
    assert node_similarity(edges, max_degree=2).count() == 0


def test_k_truss_fixture(spark):
    """Two triangles sharing edge (2,3) + a pendant edge: the 3-truss
    keeps exactly the five triangle edges (shared edge support 2, the
    rest 1); the pendant edge and the triangle-free edge peel away.
    The 4-truss of this graph is empty (no edge is in 2 triangles
    after the first peel removes the support-1 edges)."""
    from graphview_spark.algorithms import k_truss

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "a long, b long",
    )
    got = {
        (r["a"], r["b"]): r["support"] for r in k_truss(edges, 3).collect()
    }
    assert got == {
        (1, 2): 1, (1, 3): 1, (2, 3): 2, (2, 4): 1, (3, 4): 1,
    }
    assert k_truss(edges, 4).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k >= 3"):
        k_truss(edges, 2)


def test_scc_small_fixture(spark):
    """3-cycle with NO mutual edge pair (1→2→3→1), a tail hanging off
    it (3→4→5), a mutual pair (6↔7), and an isolated node (8) — covers
    the general coloring path the derived-graph oracle can't."""
    from graphview_spark.algorithms import strongly_connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 7), (7, 6)],
        "src long, sink long",
    )
    scc = strongly_connected_components(nodes, edges)
    got = {r["id"]: r["scc"] for r in scc.collect()}
    assert set(got) == set(range(1, 9))
    # driver_edges=0 forces the distributed trim + FW-BW peel; both
    # strategies must agree exactly
    peel = strongly_connected_components(nodes, edges, driver_edges=0)
    assert {r["id"]: r["scc"] for r in peel.collect()} == got
    # the 3-cycle is one SCC, the mutual pair another, the rest single
    assert got[1] == got[2] == got[3]
    assert got[6] == got[7]
    assert got[1] in (1, 2, 3) and got[6] in (6, 7)
    labels = [got[4], got[5], got[8]]
    assert labels == [4, 5, 8]
    assert got[4] != got[1] and got[6] != got[1]


def test_scc_two_nested_cycles_share_component(spark):
    """Figure-eight: cycles 1→2→3→1 and 3→4→1 (wait—4→3? no: 3→4,
    4→1) share node paths through 1 and 3 → all of 1,2,3,4 mutually
    reachable → ONE SCC."""
    from graphview_spark.algorithms import strongly_connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], "src long, sink long"
    )
    scc = strongly_connected_components(nodes, edges)
    got = {r["id"]: r["scc"] for r in scc.collect()}
    assert got[1] == got[2] == got[3] == got[4]



def test_scc_edge_free_graph(spark):
    """Every node of an edge-free graph is its own singleton SCC, via
    both the driver labelling and the explicit FW-BW peel (whose trim
    pre-pass must dispose of all degree-0 nodes)."""
    from graphview_spark.algorithms import (
        _scc_peel, strongly_connected_components)

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    empty = spark.createDataFrame([], "src long, sink long")
    want = {i: i for i in range(1, 6)}
    got = {r["id"]: r["scc"]
           for r in strongly_connected_components(nodes, empty).collect()}
    assert got == want
    got = {r["id"]: r["scc"] for r in _scc_peel(nodes, empty).collect()}
    assert got == want



def test_closeness_and_betweenness_legs_agree(spark, sf_dir, monkeypatch):
    """On the sf fixture's Refers tree, q_graph_closeness and
    q_graph_betweenness return the same rows from the batched
    distributed BFS (driver bound 0) as from the default driver BFS."""
    import graphview_spark.algorithms as A

    qs = (A.q_graph_closeness, A.q_graph_betweenness)
    drv = [sorted(map(tuple, q(spark, sf_dir).collect())) for q in qs]
    monkeypatch.setattr(A, "_DRIVER_EDGES", 0)
    dist = [sorted(map(tuple, q(spark, sf_dir).collect())) for q in qs]
    assert drv == dist and all(drv)


def test_multi_source_distances_batched(spark):
    """One batched BFS over several seeds = per-seed BFS distances.
    Chain with a shortcut plus a disjoint cycle; seeds {1, 2, 5}."""
    from graphview_spark.algorithms import multi_source_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (5, 6), (6, 5)],
        "src long, sink long",
    )
    seeds = spark.createDataFrame([(1,), (2,), (5,)], "s long")
    got = {(r["s"], r["id"]): r["dist"]
           for r in multi_source_distances(seeds, edges).collect()}
    assert got == {
        (1, 1): 0, (1, 2): 1, (1, 3): 1, (1, 4): 2,
        (2, 2): 0, (2, 3): 1, (2, 4): 2,
        (5, 5): 0, (5, 6): 1,
    }
