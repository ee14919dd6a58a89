"""Loop-scale machinery: the localCheckpoint stats barrier, the SCC
trim pre-pass and FW-BW peel, and the one driver bound that routes SCC,
closeness and betweenness between the driver and the distributed legs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def fb_calls(monkeypatch):
    """Counts FB fixpoints: ``fb_calls["n"]`` after any SCC call."""
    import graphview_spark.algorithms as A

    calls = {"n": 0}
    orig = A._propagate_fb

    def spy(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(A, "_propagate_fb", spy)
    return calls


def test_local_ckpt_stats_stay_flat(spark):
    """Spark 4 propagates sizeInBytes through localCheckpoint, so a
    self-join loop squares the BigInt statistic per round (digits
    double; by round ~40 planning hangs on million-digit multiplies).
    local_ckpt's stats barrier must keep the statistic flat."""
    from graphview_spark.plans.lazy import local_ckpt

    def digits(df):
        s = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return len(str(s))

    g = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, sink long"
    ).localCheckpoint(eager=True)
    base = None
    for _ in range(8):
        g = local_ckpt(
            g.alias("a").join(g.alias("b"), F.col("a.sink") == F.col("b.src"))
            .select(F.col("a.src").alias("src"),
                    F.col("b.sink").alias("sink")),
        )
        d = digits(g)
        base = d if base is None else base
        assert d == base, "stats grew through the barrier"
    assert base <= 20  # the scan default, not a compounded product


def test_local_ckpt_barrier_seam_is_live(spark):
    """VERDICT r8 (minor): the stats barrier rides a private JVM seam
    (internalCreateDataFrame) with a warn-once fallback. The digits
    test above fails when the seam breaks ONLY on Sparks that still
    propagate stats through localCheckpoint; on one that doesn't, a
    broken seam would pass it silently. This test pins the seam itself:
    the fallback's RuntimeWarning is escalated to an error, so ANY trip
    into the fallback, from local_ckpt or counted_ckpt, fails the suite
    loudly."""
    import warnings

    from graphview_spark.plans import lazy as L

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    prev = L._BARRIER_WARNED
    L._BARRIER_WARNED = False  # a prior warn must not mask a break here
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            out = L.local_ckpt(df)
            assert out.count() == 10
            frame, rows = L.counted_ckpt(df)
            assert rows == 10 and frame.count() == 10
        assert not L._BARRIER_WARNED
    finally:
        L._BARRIER_WARNED = prev


def test_local_ckpt_preserves_rows(spark):
    from graphview_spark.plans.lazy import local_ckpt

    df = spark.createDataFrame([(i, i + 1) for i in range(100)],
                               "a long, b long")
    out = local_ckpt(df.filter(F.col("a") % 2 == 0))
    assert out.count() == 50
    assert out.schema == df.schema










def test_scc_trim_peels_acyclic_fringe(spark):
    """Chain 1→2→3 into a 2-cycle 3↔4 with a tail 4→5: trim must peel
    {1, 2, 5} as singletons and leave the cycle core {3, 4}."""
    import graphview_spark.algorithms as A

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 3), (4, 5)], "src long, sink long"
    ).localCheckpoint(eager=True)
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    parts: list = []
    with A._loop_regime(spark) as size_shuffle:
        remaining, e2, n_rem, n_edge = A._scc_trim(
            nodes.localCheckpoint(eager=True), e, parts, size_shuffle)
        rem = sorted(r["id"] for r in remaining.collect())
        left = e2.count()
    assert rem == [3, 4] and n_rem == 2
    assert left == n_edge == 2  # only the cycle edges survive
    trimmed = sorted(r["id"] for p in parts for r in p.collect())
    assert trimmed == [1, 2, 5]
    for p in parts:  # trimmed nodes are their own SCCs
        for r in p.collect():
            assert r["id"] == r["scc"]


def test_peel_residual_within_driver_edges_finishes_on_driver(
        spark, monkeypatch):
    """A peel residual whose edge frame fits ``driver_edges`` is
    labelled on the driver — pinned by making any FB fixpoint an error.
    Graph: two disjoint 3-cycles, which trim cannot shrink (6 edges)."""
    import graphview_spark.algorithms as A

    def boom(*a, **k):
        raise AssertionError("FB fixpoint ran on a residual that fits")

    monkeypatch.setattr(A, "_propagate_fb", boom)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)],
        "src long, sink long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    for driver_edges in (None, 6):
        got = {r["id"]: r["scc"] for r in A._scc_peel(
            nodes, e, driver_edges=driver_edges).collect()}
        assert got == want, driver_edges


def _scc_both_ways(spark, fb_calls, edges, n):
    """Labels and FB round count with driver_edges=0, then the default
    path's labels, which must run no FB round."""
    import graphview_spark.algorithms as A

    e = spark.createDataFrame(edges, "src long, sink long")
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id long")
    fb_calls["n"] = 0
    got = {r["id"]: r["scc"] for r in A.strongly_connected_components(
        nodes, e, driver_edges=0).collect()}
    rounds = fb_calls["n"]
    fb_calls["n"] = 0
    drv = {r["id"]: r["scc"] for r in A.strongly_connected_components(
        nodes, e).collect()}
    assert fb_calls["n"] == 0
    return got, rounds, drv


def test_peel_driver_edges_zero_keeps_fb_leg(spark, fb_calls):
    """driver_edges=0 (the oracle-gated peel fixture's contract) keeps
    the FB fixpoint leg: a 3-cycle, which trim cannot shrink, takes one
    FB round, and the labels equal the driver path's."""
    got, rounds, drv = _scc_both_ways(
        spark, fb_calls, [(1, 2), (2, 3), (3, 1)], 3)
    assert got == drv == {1: 1, 2: 1, 3: 1}
    assert rounds == 1


def test_peel_bridged_cycles_take_two_fb_rounds(spark, fb_calls):
    """Two 2-cycles joined by a bridge: with driver_edges=0 round 1
    peels one cycle and round 2 the other, so exactly two FB rounds
    run, and the labels equal the driver path's."""
    got, rounds, drv = _scc_both_ways(
        spark, fb_calls, [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)], 4)
    assert got == drv == {1: 1, 2: 1, 3: 3, 4: 3}
    assert rounds == 2


def test_scc_full_results_unchanged_by_trim_and_finish(spark):
    """End-to-end SCC vs hand-computed components on every route: the
    driver labelling (default), trim + FB peel only (driver_edges=0),
    and trim + one FB round + the driver finish of the residual
    (driver_edges=5: the 9 edges and the 6 left after trim do not fit,
    the class-restricted residual does)."""
    from graphview_spark.algorithms import strongly_connected_components

    edges = [
        (1, 2), (2, 3),            # tail into
        (3, 4), (4, 5), (5, 3),    # 3-cycle {3,4,5}
        (5, 6),                    # bridge to
        (6, 7), (7, 6),            # 2-cycle {6,7}
        (7, 8),                    # tail out
    ]
    e = spark.createDataFrame(edges, "src long, sink long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    want = {1: 1, 2: 2, 3: 3, 4: 3, 5: 3, 6: 6, 7: 6, 8: 8}
    for driver_edges in (None, 0, 5):
        got = {r["id"]: r["scc"] for r in strongly_connected_components(
            nodes, e, driver_edges=driver_edges).collect()}
        assert got == want, driver_edges



def test_scc_driver_labels_long_cycle(spark):
    """A 200k-node single cycle is one SCC on the driver path: the
    Tarjan walk is iterative, so a 200k-deep DFS hits no recursion
    limit."""
    import graphview_spark.algorithms as A

    n = 200_000
    nodes = spark.range(n).select(F.col("id"))
    e = spark.range(n).select(F.col("id").alias("src"),
                              ((F.col("id") + 1) % n).alias("sink"))
    out = A.strongly_connected_components(nodes, e)
    row = out.agg(F.count(F.lit(1)), F.countDistinct("scc"),
                  F.max("scc")).first()
    assert tuple(row) == (n, 1, 0)


def test_scc_driver_gate_boundary(spark, monkeypatch, fb_calls):
    """The driver bound is inclusive: an n-edge frame runs the FB peel
    when _DRIVER_EDGES is n−1 and is labelled on the driver,
    without one FB fixpoint, when it is n."""
    import graphview_spark.algorithms as A

    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)]
    e = spark.createDataFrame(edges, "src long, sink long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    for bound, fb_runs in ((len(edges) - 1, True), (len(edges), False)):
        monkeypatch.setattr(A, "_DRIVER_EDGES", bound)
        fb_calls["n"] = 0
        got = {r["id"]: r["scc"] for r in A.strongly_connected_components(
            nodes, e).collect()}
        assert got == want, bound
        assert (fb_calls["n"] > 0) == fb_runs, bound


def test_closeness_driver_gate_boundary(spark, monkeypatch):
    """The closeness/betweenness gate is n_seeds × |E| ≤
    CLOSENESS_SEEDS × _DRIVER_EDGES: with at most CLOSENESS_SEEDS seeds
    an n-edge frame runs the batched BFS (multi_source_levels) when the
    bound is n−1 and stays on the driver when it is n; twice as many
    seeds halve the bound. Every route returns the same rows."""
    import graphview_spark.algorithms as A

    calls = {"n": 0}
    orig = A.multi_source_levels

    def spy(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(A, "multi_source_levels", spy)
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (1, 5)]
    n = len(edges)
    e = spark.createDataFrame(edges, "src long, sink long")
    few = spark.createDataFrame([(1,), (4,)], "s long")
    many = spark.createDataFrame(
        [(i,) for i in range(1, 2 * A.CLOSENESS_SEEDS + 1)], "s long")
    want = {}
    for label, seeds, bound, distributed in (
        ("few", few, n - 1, True), ("few", few, n, False),
        ("many", many, 2 * n - 1, True), ("many", many, 2 * n, False),
    ):
        monkeypatch.setattr(A, "_DRIVER_EDGES", bound)
        calls["n"] = 0
        got = sorted(map(tuple, A.closeness(seeds, e).collect()))
        assert (calls["n"] > 0) == distributed, (label, bound)
        assert want.setdefault(label, got) == got, (label, bound)


def test_loops_take_every_size_from_counted_ckpt(spark, monkeypatch):
    """Loops whose control flow reads a size get it from counted_ckpt's
    materializing job: with DataFrame.count and DataFrame.isEmpty made
    errors, shortest_paths, k_core, k_truss, multi_source_levels and a
    WITH RECURSIVE statement still run, and return the right rows."""
    from pyspark.sql import DataFrame

    import graphview_spark.algorithms as A
    from graphview_spark.graph import GraphDatabase

    g = GraphDatabase(spark)
    g.execute("""CREATE TABLE [N] ([ColumnRole:"NodeId"] id INT)""")
    g.execute("INSERT INTO N(id) VALUES(1),(2)")
    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                  "src long, sink long")
    src = spark.createDataFrame([(1,)], "GlobalNodeId long")
    seeds = spark.createDataFrame([(1,)], "s long")
    # a 4-clique plus a pendant edge
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "a long, b long")

    def probe(self):
        raise AssertionError("a loop re-probed a frame it materialized")

    for cls in {DataFrame, type(chain)}:  # the classic subclass overrides
        monkeypatch.setattr(cls, "count", probe)
        monkeypatch.setattr(cls, "isEmpty", probe)
    assert sorted(map(tuple, A.shortest_paths(src, chain).collect())) == [
        (1, 0), (2, 1), (3, 2), (4, 3)]
    assert sorted(r["node"] for r in A.k_core(pairs, 3).collect()) == [
        1, 2, 3, 4]
    assert len(A.k_truss(pairs, 4).collect()) == 6
    levels, _ = A.multi_source_levels(seeds, chain)
    assert len(levels) == 4
    rows = g.execute(
        """WITH nums (n) AS (
               SELECT p.id FROM N p WHERE p.id = 1
               UNION ALL
               SELECT n + 1 FROM nums WHERE n < 5
           )
           SELECT n FROM nums"""
    ).collect()
    assert sorted(r["n"] for r in rows) == [1, 2, 3, 4, 5]
