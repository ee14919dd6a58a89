"""Calibrate the closure-mass verdict on the Refers-derived graphs.

Prints, for a given SF dir and graph variant, the forward and reverse
256-seed mass estimates (as multiples of the 32×|E| budget), the
out-degree distribution (the evidence for/against degree-stratified
seeding), and — with --true — the exact closure mass from a full
multi-source BFS (expensive; minutes at sf3).

Usage: python tools/calibrate_mass.py <sf_dir> [scc|closeness|hubbridge]
           [--true] [--pad P] [--hubs H] [--bridge B]

The ``hubbridge`` variant (round 11, VERDICT r10 "Next #7") is the
ADVERSARIAL family where BOTH marginals are heavy only at rare nodes —
the construction bidirectional max(fwd, rev) cannot rescue by design:
H source hubs feed a shared B-node bridge chain that drains into H
sink hubs (so fwd reach is huge exactly at the H+B rare src-side
nodes, and rev reach is huge exactly at the H+B rare sink-side nodes),
padded with P disjoint a→b bulk pairs whose reach is 1 both ways. The
sf_dir is ignored for graph content (the frame is synthetic and
deterministic); pass any existing dir.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

# the distance closure's default budget_factor: the verdict is read
# against the budget the closure it guards would use
BUDGET_FACTOR = 32


def build_graph(spark, sf_dir: str, variant: str):
    """The two calibration graphs SCALECHECK's round-9 numbers used:
    ``scc`` = Refers + deterministic back-edges (q_graph_scc's frame),
    ``closeness`` = the plain Refers tree (q_graph_closeness's)."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    key = g.nodes["Customer"].select("GlobalNodeId", "c_custkey")
    refers = (
        g.edge_with_id("Customer.Refers")
        .join(key.select(F.col("GlobalNodeId").alias("src"),
                         F.col("c_custkey").alias("src_key")), "src")
        .join(key.select(F.col("GlobalNodeId").alias("sink"),
                         F.col("c_custkey").alias("sink_key")), "sink")
        .select(F.col("src_key").alias("src"),
                F.col("sink_key").alias("sink"))
    )
    if variant == "closeness":
        return refers
    return refers.unionByName(
        refers.filter(F.col("sink") % 5 == 0)
        .select(F.col("sink").alias("src"), F.col("src").alias("sink"))
    )


def build_hubbridge(spark, pad: int, hubs: int, bridge: int):
    """H sources → shared bridge chain (B) → H sinks, plus ``pad``
    disjoint a→b pairs. Node ids: bulk a=i, b=pad+i; sources
    2·pad+1..+H; bridge 2·pad+H+1..+B; sinks 2·pad+H+B+1..+H. All
    deterministic — the xxhash seed draw is then a fixed property of
    (pad, hubs, bridge), exactly like production (a bad draw is a
    bias, not a re-rollable fluke)."""
    base = 2 * pad
    bulk = spark.range(pad).select(
        (F.col("id") + 1).alias("src"),
        (F.col("id") + pad + 1).alias("sink"))
    src_hub = spark.range(hubs).select(
        (F.col("id") + base + 1).alias("src"),
        F.lit(base + hubs + 1).cast("long").alias("sink"))
    chain = spark.range(bridge - 1).select(
        (F.col("id") + base + hubs + 1).alias("src"),
        (F.col("id") + base + hubs + 2).alias("sink"))
    tail = base + hubs + bridge
    sink_hub = spark.range(hubs).select(
        F.lit(tail).cast("long").alias("src"),
        (F.col("id") + tail + 1).alias("sink"))
    return bulk.unionByName(src_hub).unionByName(chain).unionByName(sink_hub)


def build_hubflip(spark, pad: int, hubs: int):
    """The verdict-FLIPPING regime (round 12, VERDICT r11 "Next #7"):
    the r11 bound says max(fwd, rev) can under-read past n_src² ≳
    1.6e5·|E| because doubly-hidden mass ≤ |S_f|·|S_r|; this family
    REALIZES that worst case — S = T = ``hubs`` source/sink hubs
    around one mid node (src hubs → mid → sink hubs, so hub closure
    mass ≈ S·T), with every hub id (and the mid) placed ADVERSARIALLY
    on hash-UNSAMPLED ids in the relevant direction, plus ``pad``
    reach-1 bulk pairs. Every sampled seed is then a bulk node in both
    passes, the estimates read ~0.03× budget, the verdict says
    "attempt", and the true mass (exact by construction: pad +
    S·(T+1) + T — no BFS needed, diameter is 2) exceeds the budget
    manyfold. The point is NOT that the verdict fails (the bound
    documents it can, and random placement needs the ~5%² tail this
    placement forces); it is to MEASURE that the in-loop guards bound
    the wrong attempt's cost — see --attempt. Returns (edges,
    true_mass, n_src)."""
    n_src = pad + hubs + 1        # bulk a + src hubs + mid
    n_rev = pad + hubs + 1        # bulk b + sink hubs + mid
    k_fwd = max(1, n_src // 256)
    k_rev = max(1, n_rev // 256)

    def pick(start: int, count: int, ks: list[int]) -> list[int]:
        cand = spark.range(start, start + 20 * count + 20)
        cond = F.lit(True)
        for k in ks:
            cond = cond & (F.pmod(F.xxhash64(F.col("id")), F.lit(k)) != 0)
        ids = [r[0] for r in
               cand.filter(cond).orderBy("id").limit(count).collect()]
        assert len(ids) == count, "candidate range too small"
        return ids

    base = 3 * pad
    mid = pick(base, 1, [k_fwd, k_rev])[0]
    src_ids = pick(base + pad, hubs, [k_fwd])
    sink_ids = pick(base + 2 * pad, hubs, [k_rev])
    bulk = spark.range(pad).select(
        (F.col("id") + 1).alias("src"),
        (F.col("id") + pad + 1).alias("sink"))
    src_hub = spark.createDataFrame(
        [(i, mid) for i in src_ids], "src long, sink long")
    sink_hub = spark.createDataFrame(
        [(mid, i) for i in sink_ids], "src long, sink long")
    e = bulk.unionByName(src_hub).unionByName(sink_hub)
    t = pad + hubs * (hubs + 1) + hubs
    return e, t, n_src


def true_mass(e, max_depth: int = 64) -> int:
    """Exact closure pair count (cycle self-pairs included) via
    multi-source BFS — every node is its own seed; O(mass) rows.
    Raises if the graph outlives ``max_depth`` (a silent truncation
    here would label an under-count as "true" — which is exactly what
    the first hubbridge run did with a 64-hop bridge)."""
    settled = e.select(F.col("src").alias("s"), F.col("src").alias("id"))
    settled = settled.distinct().localCheckpoint(eager=True)
    frontier = settled
    mass = 0
    depth_ok = False
    for _ in range(max_depth):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select("s", F.col("sink").alias("id"))
            .distinct()
            .join(settled, ["s", "id"], "left_anti")
            .localCheckpoint(eager=True)
        )
        c = nxt.count()
        if c == 0:
            depth_ok = True
            break
        mass += c
        settled = settled.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    if not depth_ok:
        raise RuntimeError(
            f"true_mass: frontier alive after {max_depth} rounds — "
            "raise max_depth; a truncated count is not a 'true' mass")
    cyc = (
        settled.join(e, settled["id"] == e["src"])
        .filter(F.col("sink") == F.col("s"))
        .select("s").distinct().count()
    )
    return mass + cyc


def _opt(flag: str, default: int) -> int:
    return int(sys.argv[sys.argv.index(flag) + 1]) if flag in sys.argv \
        else default


def main() -> None:
    sf_dir = sys.argv[1]
    variant = sys.argv[2] if len(sys.argv) > 2 else "scc"
    want_true = "--true" in sys.argv

    import graphview_spark.algorithms as A
    from bench import provenance
    from graphview_spark.session import get_spark

    spark = get_spark("calibrate")
    flip_true = flip_nsrc = None
    if variant == "hubbridge":
        pad = _opt("--pad", 262_144)
        hubs = _opt("--hubs", 512)
        bridge = _opt("--bridge", 64)
        e = build_hubbridge(spark, pad, hubs, bridge).distinct()
    elif variant == "hubflip":
        pad = _opt("--pad", 262_144)
        hubs = _opt("--hubs", 8_192)
        e, flip_true, flip_nsrc = build_hubflip(spark, pad, hubs)
        e = e.distinct()
    else:
        e = build_graph(spark, sf_dir, variant).distinct()
    e = e.localCheckpoint(eager=True)
    n_e = e.count()
    budget = BUDGET_FACTOR * n_e

    deg = e.groupBy("src").count()
    deg_stats = deg.agg(
        F.max("count").alias("max"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.expr("percentile_approx(count, 0.5)").alias("p50"),
    ).first().asDict()

    fwd = A._closure_mass_estimate(e, budget)
    rev = A._closure_mass_estimate(
        e.select(F.col("sink").alias("src"), F.col("src").alias("sink")),
        budget)

    out = {
        "sf_dir": sf_dir, "variant": variant, "edges": n_e,
        **({"pad": pad, "hubs": hubs, "bridge": bridge}
           if variant == "hubbridge" else {}),
        **({"pad": pad, "hubs": hubs} if variant == "hubflip" else {}),
        "budget": budget, "out_degree": deg_stats,
        "fwd_x_budget": round(fwd / budget, 3),
        "rev_x_budget": round(rev / budget, 3),
        "max_x_budget": round(max(fwd, rev) / budget, 3),
        "skip_fraction": A._MASS_SKIP_FRACTION,
        "verdict": "skip" if max(fwd, rev) > A._MASS_SKIP_FRACTION * budget
        else "attempt",
        **provenance(),
    }
    if variant == "hubflip":
        # exact by construction (diameter 2): pad + S·(T+1) + T
        out["true_mass"] = flip_true
        out["true_x_budget"] = round(flip_true / budget, 3)
        out["n_src"] = flip_nsrc
        out["bound_ratio"] = round(flip_nsrc**2 / (1.6e5 * n_e), 2)
    elif want_true:
        t = true_mass(e)
        out["true_mass"] = t
        out["true_x_budget"] = round(t / budget, 3)
    if "--attempt" in sys.argv:
        # the r11 claim under measurement: when the verdict wrongly
        # attempts, the in-loop guards (materialized budget; compose-
        # size prediction once the frame tops _PREDICT_MIN_ROWS) bound
        # the cost. Wall-clock the real _distance_closure.
        import time

        t0 = time.time()
        _, complete = A._distance_closure(e, budget_factor=BUDGET_FACTOR)
        out["attempt_sec"] = round(time.time() - t0, 2)
        out["attempt_complete"] = complete
        out["predict_guard_engaged"] = n_e >= A._PREDICT_MIN_ROWS
    print(json.dumps(out))


if __name__ == "__main__":
    main()
