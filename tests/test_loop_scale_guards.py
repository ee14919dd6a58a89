"""Round-8 loop-scale machinery: the localCheckpoint stats barrier,
the closure compose-size guard, and the SCC trim pre-pass — the three
fixes behind the sf1 graph_scc cliff (SCALECHECK.md round-8 section).
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
    into the fallback fails the suite loudly."""
    import warnings

    from graphview_spark.plans import lazy as L

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    prev = L._BARRIER_WARNED
    L._BARRIER_WARNED = False  # a prior warn must not mask a break here
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            out = L.local_ckpt(df, eager=True)
            assert out.count() == 10
        assert not L._BARRIER_WARNED
    finally:
        L._BARRIER_WARNED = prev


def test_local_ckpt_preserves_rows(spark):
    from graphview_spark.plans.lazy import local_ckpt

    df = spark.createDataFrame([(i, i + 1) for i in range(100)],
                               "a long, b long")
    out = local_ckpt(df.filter(F.col("a") % 2 == 0), eager=True)
    assert out.count() == 50
    assert out.schema == df.schema


def test_compose_pred_counts_enumeration(spark):
    """The guard's prediction = Σ_mid |delta·sink=mid| × |all·src=mid|
    (+ symmetric term) — check against the hand-computed value."""
    from graphview_spark.algorithms import _compose_pred

    # edges 1→2, 3→2, 2→4, 2→5; all fresh
    g = spark.createDataFrame(
        [(1, 2, 1), (3, 2, 1), (2, 4, 1), (2, 5, 1)],
        "src long, sink long, fresh int",
    )
    # delta_is_all: mid=2 has in=2, out=2 → 4
    assert _compose_pred(g, delta_is_all=True).first()["_pred"] == 4
    # both terms: 4 + 4
    assert _compose_pred(g).first()["_pred"] == 8


def test_closure_guard_bails_on_predicted_blowup(spark, monkeypatch):
    """A squaring predicted to enumerate past the slack×budget must
    return incomplete WITHOUT materializing it. Fixture: a dense
    bipartite hub (50×50 through one layer) whose first compose
    enumerates 50·50·... ≫ slack×budget at budget_factor=1."""
    import graphview_spark.algorithms as A

    monkeypatch.setattr(A, "_PREDICT_SLACK", 1)
    monkeypatch.setattr(A, "_PREDICT_MIN_ROWS", 1)
    rows = [(i, 1000) for i in range(50)] + [(1000, 2000 + j)
                                             for j in range(50)]
    e = spark.createDataFrame(rows, "src long, sink long")
    d, complete = A._distance_closure(e, budget_factor=1)
    assert not complete
    # the returned frame is the last SAFE state (the seed here)
    assert d.count() == 100


def test_probe_next_mass_exact_at_mod_one(spark):
    """The src-sampled next-squaring probe is EXACT per sampled src, so
    at mod=1 it must equal the true next-round post-dedup pair count —
    the property that makes the scaled estimate unbiased."""
    import graphview_spark.algorithms as A

    # chain with shortcut + cycle, mixed fresh flags
    g = spark.createDataFrame(
        [(1, 2, 0), (2, 3, 1), (3, 4, 1), (1, 3, 1), (5, 6, 0), (6, 5, 1)],
        "src long, sink long, fresh int",
    )
    est = A._probe_next_mass(g, mod=1)
    # brute-force: g ∪ delta∘g ∪ g∘delta, distinct (src, sink)
    pairs = {(r["src"], r["sink"]) for r in g.collect()}
    delta = {(s, t) for s, t, f in
             [(r["src"], r["sink"], r["fresh"]) for r in g.collect()] if f}
    nxt = set(pairs)
    for a, b in delta:
        nxt |= {(a, t) for (s, t) in pairs if s == b}
    for a, b in pairs:
        nxt |= {(a, t) for (s, t) in delta if s == b}
    assert est == len(nxt)


def test_closure_mass_estimate_exact_when_all_seeds(spark, monkeypatch):
    """With the seed sample covering every src (k=1), the mass estimate
    equals the finished closure FRAME's pair count — cycle self-pairs
    included (ADVICE r9 #3), since that frame count is what the budget
    compares against. Per-seed reach is computed exactly; only the
    seed marginal is sampled."""
    import graphview_spark.algorithms as A

    monkeypatch.setattr(A, "_MASS_SEEDS", 10**9)  # force k=1
    # chain 1→2→3→4 with shortcut 1→3, plus cycle 5→6→5
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (5, 6), (6, 5)],
        "src long, sink long",
    )
    # true closure pairs: 1→{2,3,4}, 2→{3,4}, 3→{4},
    # 5→{5,6}, 6→{5,6} (cycle nodes reach themselves) = 10
    est = A._closure_mass_estimate(e, budget=10**6)
    assert est == 10.0
    # a tiny budget must early-abort to +inf instead of expanding
    assert A._closure_mass_estimate(e, budget=1) == float("inf")
    # self-loop: closure of {(7,7)} is {(7,7)} — counted once
    e2 = spark.createDataFrame([(7, 7)], "src long, sink long")
    assert A._closure_mass_estimate(e2, budget=10**6) == 1.0


def test_calibration_true_mass_exact_and_depth_loud(spark):
    """The calibration tool's exact BFS (the 'true' every estimator
    ratio is judged against) must count a known closure exactly and
    must RAISE — not silently truncate — when the graph outlives its
    depth budget; the first hubbridge run (round 11) under-reported
    'true' by exactly the hub→sink term because a 65-hop family hit
    the silent 64-round cap."""
    import pytest as _pytest

    from tools.calibrate_mass import build_hubbridge, true_mass

    # chain 1→2→3→4 with shortcut 1→3, plus cycle 5→6→5 (same family
    # as the estimator's exactness test: 10 closure pairs)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (5, 6), (6, 5)],
        "src long, sink long",
    )
    assert true_mass(e) == 10
    with _pytest.raises(RuntimeError, match="frontier alive"):
        true_mass(e, max_depth=1)
    # tiny hubbridge: closed-form mass = pad + hubs·(bridge+hubs)
    #                                   + Σ_k((bridge−k)+hubs)
    pad, hubs, bridge = 20, 3, 4
    hb = build_hubbridge(spark, pad, hubs, bridge)
    want = pad + hubs * (bridge + hubs) + sum(
        (bridge - k) + hubs for k in range(1, bridge + 1))
    assert true_mass(hb) == want


def test_mass_verdict_uses_asymmetric_threshold(monkeypatch):
    """The verdict compares the MAX of the forward and reverse
    estimates against a FRACTION of the budget: wrong attempts are
    probe-bounded but grow with scale while wrong skips pay the
    bounded peel, so boundary-noise estimates must route to the safe
    (skip) side, and an under-read must be missed by BOTH directions
    to slip through. Calibration points measured in rounds 9-10: sf1
    SCC true ≥1.12× fwd read 1.10× (must skip, one pass), sf1
    closeness true 0.48× (must attempt), sf3 SCC true ≈1.0× fwd read
    0.39× but rev read ≈1.0× (the max must skip)."""
    import graphview_spark.algorithms as A

    class FakeFrame:
        """Stands in for the edge frame; .select() (the reverse-frame
        construction) returns self."""

        def select(self, *a, **k):
            return self

    calls = {"n": 0}

    def fake_est(e, b, **kw):
        est = fake.ests[min(calls["n"], len(fake.ests) - 1)]
        calls["n"] += 1
        return est

    monkeypatch.setattr(A, "_closure_mass_estimate", fake_est)

    class fake:  # noqa: N801 — holder
        ests = (0.0,)

    budget = 1000
    frame = FakeFrame()
    for ests, doomed, n_passes in (
        ((0.48 * budget, 0.48 * budget), False, 2),
        ((A._MASS_SKIP_FRACTION * budget - 1,) * 2, False, 2),
        ((A._MASS_SKIP_FRACTION * budget + 1,), True, 1),  # short-circuit
        ((1.10 * budget,), True, 1),
        # the sf3 shape: forward under-reads, reverse catches it
        ((0.39 * budget, 1.0 * budget), True, 2),
        ((float("inf"),), True, 1),
    ):
        fake.ests = ests
        calls["n"] = 0
        assert A._closure_mass_doomed(frame, budget) is doomed, ests
        assert calls["n"] == n_passes, ests


def test_mass_estimate_skips_doomed_attempt(spark, monkeypatch):
    """With the edge threshold lowered, a closure whose estimated mass
    exceeds the budget is skipped OUTRIGHT: the loop returns incomplete
    without a single squaring (pinned by failing any compose probe)."""
    import graphview_spark.algorithms as A

    monkeypatch.setattr(A, "_MASS_ESTIMATE_MIN_EDGES", 1)
    monkeypatch.setattr(A, "_MASS_SEEDS", 10**9)  # exact estimate

    def boom(*a, **k):  # no squaring may run after the skip
        raise AssertionError("squaring ran despite mass-estimate skip")

    monkeypatch.setattr(A, "_pred_if_big", boom)
    # chain 1→2→…→8: closure mass 28 > budget 1×7 → skip
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "src long, sink long")
    d, complete = A._distance_closure(e, budget_factor=1)
    assert not complete and d.count() == 7  # the seed, untouched


def test_mass_verdict_routes_both_ways_across_threshold(spark, monkeypatch):
    """End-to-end straddle of the 0.7×budget boundary on REAL frames
    (VERDICT r9 Next #8): one synthetic family — a directed chain of 8
    edges, exact verdict via k=1 seeds — parameterized only by
    budget_factor so the same graph's mass/budget ratio lands on
    either side of _MASS_SKIP_FRACTION. Chain mass = 36 pairs over 8
    edges: factor 7 → 36/56 ≈ 0.64 < 0.7 must ATTEMPT (and complete);
    factor 6 → 36/48 = 0.75 > 0.7 must SKIP without one squaring.
    Asserts which strategy RAN, not just the output."""
    import graphview_spark.algorithms as A

    monkeypatch.setattr(A, "_MASS_ESTIMATE_MIN_EDGES", 1)
    monkeypatch.setattr(A, "_MASS_SEEDS", 10**9)  # exact estimate
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "src long, sink long")

    squarings = {"n": 0}
    orig = A._pred_if_big

    def spy(*a, **k):
        squarings["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(A, "_pred_if_big", spy)

    # 0.64× of budget: the verdict routes to the ATTEMPT, which runs
    # squarings and completes the closure (36 pairs ≤ 56 budget)
    d, complete = A._distance_closure(e, budget_factor=7)
    assert complete and d.count() == 36
    assert squarings["n"] > 0, "attempt route must run the squaring loop"

    # 0.75× of budget: the verdict routes to the SKIP — incomplete,
    # seed frame untouched, zero squarings
    squarings["n"] = 0
    d, complete = A._distance_closure(e, budget_factor=6)
    assert not complete and d.count() == 8
    assert squarings["n"] == 0, "skip route must not run a single squaring"


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
        remaining, e2 = A._scc_trim(
            nodes.localCheckpoint(eager=True), e, parts, size_shuffle)
        rem = sorted(r["id"] for r in remaining.collect())
        left = e2.count()
    assert rem == [3, 4]
    assert left == 2  # only the cycle edges survive
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


def test_mass_estimate_driver_path_matches_distributed(spark, monkeypatch):
    """Round 13: edge frames under _MASS_DRIVER_EDGES run the sampled
    BFS on the driver over one collected copy (the per-hop job floor
    dominated the sf1 strategy verdicts — 60 s of graph_scc's 128 s).
    The gate must never change the VERDICT, only where it is computed:
    both paths must return the same float on every family and budget,
    including inf aborts, the k>1 hash-sampled regime and null
    endpoints (which must not chain the driver BFS through None). The
    driver path also needs abort_at, its pair-set bound, within
    _MASS_DRIVER_EDGES."""
    import graphview_spark.algorithms as A

    hub = [(0, i) for i in range(1, 600)]  # shallow, n_src big enough
    hub += [(i, i + 1) for i in range(50, 600, 50)]  # a few 2-chains
    hub += [(i + 1, i) for i in range(50, 600, 50)]  # ... made mutual
    fams = {
        "chain_shortcut_cycle": [(1, 2), (2, 3), (3, 4), (1, 3),
                                 (5, 6), (6, 5)],
        "self_loop": [(7, 7)],
        "deep_chain": [(i, i + 1) for i in range(1, 200)],  # inf: depth
        "hub_sampled_k_gt_1": hub,
        "null_endpoints": [(1, 2), (2, None), (None, 3), (2, 3), (3, 1),
                           (None, None), (4, None), (None, 1)],
    }
    for name, edges in fams.items():
        e = spark.createDataFrame(edges, "src long, sink long")
        for budget in (1, 40, 10**6):
            monkeypatch.setattr(A, "_MASS_DRIVER_EDGES", 10**9)
            drv = A._closure_mass_estimate(e, budget=budget)
            monkeypatch.setattr(A, "_MASS_DRIVER_EDGES", -1)
            dist = A._closure_mass_estimate(e, budget=budget)
            assert drv == dist, (name, budget, drv, dist)

    # abort_at above the bound: the 6 edges fit, yet the BFS may not
    # hold its pair sets on the driver — the distributed loop runs
    calls = {"n": 0}
    orig = A._mass_bfs_driver

    def spy(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(A, "_mass_bfs_driver", spy)
    monkeypatch.setattr(A, "_MASS_DRIVER_EDGES", 6)
    e = spark.createDataFrame(fams["chain_shortcut_cycle"],
                              "src long, sink long")
    # all 5 srcs are seeds: abort_at = 2·budget
    assert A._closure_mass_estimate(e, budget=10**6) == 10.0
    assert calls["n"] == 0
    assert A._closure_mass_estimate(e, budget=1) == float("inf")
    assert calls["n"] == 1  # abort_at = 2 ≤ 6: the driver path


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
    when _MASS_DRIVER_EDGES is n−1 and is labelled on the driver,
    without one FB fixpoint, when it is n."""
    import graphview_spark.algorithms as A

    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)]
    e = spark.createDataFrame(edges, "src long, sink long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    for bound, fb_runs in ((len(edges) - 1, True), (len(edges), False)):
        monkeypatch.setattr(A, "_MASS_DRIVER_EDGES", bound)
        fb_calls["n"] = 0
        got = {r["id"]: r["scc"] for r in A.strongly_connected_components(
            nodes, e).collect()}
        assert got == want, bound
        assert (fb_calls["n"] > 0) == fb_runs, bound
