"""Iterative graph algorithms as driver-side DataFrame loops.

The reference has no built-in algorithms; its README claims iterative
computation via T-SQL WHILE loops around MATCH queries (README.md:16,
WSql.cs:405-454 — SURVEY.md §2.6 'Graph algorithms' row). The Spark
equivalent is a Pregel-style loop: per-iteration message aggregation by
join + groupBy, driver-controlled convergence, checkpoints to cut
lineage. ``aggregate_messages`` is the one primitive both algorithms
here build on — the PySpark-idiomatic analog of GraphX
aggregateMessages (GraphX itself is JVM/RDD-only, SURVEY §2.6).

Scale notes: every iteration is one shuffle on node id (the same
partitioning each round — bucketed edge storage makes it co-located);
state per node is O(1); a loop checkpoint every iteration keeps plan
depth constant — ``local_ckpt``, or ``counted_ckpt`` where the loop
reads a size, so that size comes from the job that materializes the
round (plans/lazy.py).
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# the loop checkpoints (see plans/lazy.py): local_ckpt when the loop
# reads no size, counted_ckpt when its control flow reads one
from graphview_spark.plans.lazy import counted_ckpt, local_ckpt


# Below this frame size the iterative loops size their own shuffles
# (see _loop_regime); above it they defer to the session defaults + AQE.
_LOOP_SMALL_ROWS = 50_000_000
_LOOP_ROWS_PER_PARTITION = 100_000


@contextmanager
def _loop_regime(spark):
    """Shuffle regime for driver-synchronized iterative loops.

    AQE earns its keep on one-shot analytical plans, but inside a
    tight fixpoint loop it materializes every shuffle stage as its own
    sub-job and re-optimizes between them — measured ~0.5s/round of
    pure scheduling overhead on frames of a few hundred thousand rows,
    which DOMINATES loops whose per-round data cost is tens of ms.
    Inside this context the loop takes over AQE's one useful decision
    (partition-count sizing) itself via ``_loop_partitions``: callers
    know their live frame size each round (their counted checkpoint
    already measured it) and set shuffle partitions proportional to
    it, exactly the coalescing AQE would pick but decided once on the
    driver for free. Frames above _LOOP_SMALL_ROWS keep the session
    defaults — at cluster scale the loop body is data-dominated and
    AQE's skew splitting matters more than its scheduling overhead.
    Yields a ``size(n_rows)`` callable the loop invokes before
    building each round's plan; session config is restored on exit.

    Concurrency contract (ADVICE r6 #1): this mutates SESSION-GLOBAL
    conf, so it assumes a single-threaded driver — the repo's execution
    model throughout (one query at a time per SparkSession; the driver
    gate, bench harness and tests all run queries serially). A
    concurrent query on the same session would inherit the loop regime
    for actions scheduled inside the window. Corollary for loop
    authors: the regime only governs actions EXECUTED inside the
    context — a lazily-checkpointed frame that escapes materializes
    under the restored session conf, so materialize any frame whose
    shuffle shape matters (a counted checkpoint, or a job that reads
    it) BEFORE the context exits."""
    conf = spark.conf
    prev_aqe = conf.get("spark.sql.adaptive.enabled")
    prev_parts = conf.get("spark.sql.shuffle.partitions")

    def size(n_rows: int) -> None:
        if n_rows >= _LOOP_SMALL_ROWS:
            conf.set("spark.sql.adaptive.enabled", prev_aqe)
            conf.set("spark.sql.shuffle.partitions", prev_parts)
            return
        # floor of 8: fewer leaves cores idle on the shuffle-heavy
        # rounds (measured ~15% slower at 4 on the sf0.1 loop this
        # regime was tuned on)
        parts = max(8, min(int(prev_parts),
                           n_rows // _LOOP_ROWS_PER_PARTITION + 1))
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(parts))

    try:
        yield size
    finally:
        conf.set("spark.sql.adaptive.enabled", prev_aqe)
        conf.set("spark.sql.shuffle.partitions", prev_parts)


def aggregate_messages(
    nodes: DataFrame,
    edges: DataFrame,
    msg_expr,
    agg_expr,
    direction: str = "out",
) -> DataFrame:
    """One Pregel superstep: each edge sends ``msg_expr`` (may reference
    source-node columns and edge columns) to its sink (``direction=
    'out'``) or source ('in'); messages aggregate per receiver with
    ``agg_expr``. Returns (GlobalNodeId, msg)."""
    send_key, recv_key = ("src", "sink") if direction == "out" else ("sink", "src")
    joined = edges.join(
        nodes, edges[send_key] == nodes["GlobalNodeId"], "inner"
    )
    return (
        joined.select(F.col(recv_key).alias("__recv"), msg_expr.alias("__msg"))
        .groupBy("__recv")
        .agg(agg_expr(F.col("__msg")).alias("msg"))
        .withColumnRenamed("__recv", "GlobalNodeId")
    )


# Per-iteration score snap for the float-sum algorithms (pagerank/HITS/
# PPR): parallel SUM over doubles adds in partition order, so reruns can
# differ in the last ~2 ulps (~1e-15 relative). Snapping each round's
# scores to a 1e-12 grid — on BOTH engines, at the SAME points of the
# recurrence — absorbs that jitter before it compounds across rounds,
# while staying 10⁴× finer than the 8-decimal final output. The same
# discipline as the fixed-order folds in search.py/clustering.py, for
# loops where a fold can't fix the order (distributed aggregation).
SCORE_GRID = 12


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    grid: int | None = SCORE_GRID,
) -> DataFrame:
    """PageRank over (GlobalNodeId) nodes and (src, sink) edges; fixed
    iteration count → deterministic. Dangling mass is redistributed
    uniformly (the standard formulation). ``grid`` snaps each round's
    ranks to that many decimals (see SCORE_GRID; None disables). An
    empty node frame gives an empty (GlobalNodeId, rank) frame.

    Fixed iterations + no driver-side probe → the per-round checkpoints
    are ``local_ckpt``: shallow plans via LogicalRDD and no size probe,
    but under AQE the stats barrier's ``toRdd()`` runs every round's
    shuffle stages while the frame is built, one round after another
    (graph_pagerank: 65 jobs at build, sf0.01); same pattern as
    hits()."""
    n = nodes.count()
    if n == 0:
        return nodes.select("GlobalNodeId", F.lit(0.0).alias("rank"))
    ranks = nodes.select("GlobalNodeId").withColumn("rank", F.lit(1.0 / n))
    # scanned every round — materialize the edge lineage once
    edges = edges.select("src", "sink").transform(local_ckpt)
    degrees = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        # consumed by TWO joins per round — materialize once up front
        .transform(local_ckpt)
    )

    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["GlobalNodeId"])
            .join(degrees, "src")
            .select(
                F.col("sink").alias("GlobalNodeId"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("GlobalNodeId")
            .agg(F.sum("c").alias("received"))
        )
        # dangling mass as a broadcast 1-row aggregate inside the SAME job
        # as the rank update — no .first() driver sync per iteration (the
        # checkpoint materialization is the only action per round)
        dangling = (
            ranks.join(degrees, ranks["GlobalNodeId"] == degrees["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        new_rank = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping)
            * (
                F.col("_dang") / F.lit(float(n))
                + F.coalesce(F.col("received"), F.lit(0.0))
            )
        )
        if grid is not None:
            new_rank = F.round(new_rank, grid)
        ranks = (
            nodes.select("GlobalNodeId")
            .join(contribs, "GlobalNodeId", "left")
            .join(F.broadcast(dangling))
            .select("GlobalNodeId", new_rank.alias("rank"))
            .transform(local_ckpt)
        )
    return ranks


def shortest_paths(sources: DataFrame, edges: DataFrame) -> DataFrame:
    """Unweighted single/multi-source shortest paths (BFS) — min hop
    distance from any node in ``sources`` following edge direction.
    Returns (GlobalNodeId, dist) for reachable nodes only.

    Frontier formulation: each round joins only the nodes SETTLED LAST
    ROUND against the edge list, so total work is O(sum of frontier
    degrees) = O(E) across the whole run — not O(E) per round like a
    dense Bellman-Ford sweep. Each round is one shuffle on node id and
    one counted checkpoint; the settled set grows monotonically so the
    anti-join is the BFS visited check, and the loop ends on the first
    empty frontier — within |V| rounds, with no depth cap."""
    dist = sources.select(
        "GlobalNodeId", F.lit(0).cast("long").alias("dist")
    ).transform(local_ckpt)
    frontier = dist
    while True:
        frontier, rows = counted_ckpt(
            frontier.join(edges, frontier["GlobalNodeId"] == edges["src"])
            .select(
                F.col("sink").alias("GlobalNodeId"),
                (F.col("dist") + 1).alias("dist"),
            )
            .groupBy("GlobalNodeId")
            .agg(F.min("dist").alias("dist"))
            .join(dist, "GlobalNodeId", "left_anti")
        )
        if rows == 0:
            return dist
        dist = dist.unionByName(frontier).transform(local_ckpt)


def triangle_count(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global triangle count over an undirected simple graph given as
    canonically oriented (a < b) edge pairs. Pure declarative two-path
    join + closing-edge join — no iteration, no Python:
    triangle {x<y<z} is counted exactly once as (x,y)+(y,z) closed by
    (x,z). Returns one row (n_nodes, n_edges, n_triangles).

    Scale: the orientation bounds join fan-out by min-degree endpoints
    (the standard compact-forward optimization); at 100 TB the two
    equi-joins shuffle on node id and AQE handles skewed hubs."""
    e = (
        pairs.select(F.col(a).alias("a"), F.col(b).alias("b"))
        .distinct()
        .transform(local_ckpt)
    )
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.b") == F.col("bc.a"))
        .join(
            ac,
            (F.col("ac.a") == F.col("ab.a")) & (F.col("ac.b") == F.col("bc.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        e.select(F.col("a").alias("id"))
        .union(e.select("b"))
        .agg(F.countDistinct("id").alias("n_nodes"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return nodes.crossJoin(n_edges).crossJoin(tri)


def k_core(
    pairs: DataFrame, k: int, a: str = "a", b: str = "b"
) -> DataFrame:
    """The k-core of an undirected simple graph (canonical a<b pairs):
    iteratively peel nodes of degree < k until fixpoint. Returns the
    surviving nodes with their in-core degree ``(node, core_degree)``.

    Driver loop like the other algorithms here: each round is one
    degree aggregate + two anti-joins on node id (same partitioning
    every round; checkpointed so lineage stays O(1)). Rounds are
    bounded by the peeling depth — in practice a handful; each round
    strictly shrinks the node set, so termination is guaranteed."""
    und = (
        pairs.select(F.col(a).alias("s"), F.col(b).alias("t"))
        .union(pairs.select(F.col(b).alias("s"), F.col(a).alias("t")))
        .distinct()
        .transform(local_ckpt)
    )
    cur = und
    while True:
        deg = cur.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
        low, n_low = counted_ckpt(deg.filter(F.col("d") < k).select("s"))
        if n_low == 0:
            break
        cur = (
            cur.join(low, "s", "left_anti")
            .join(low.withColumnRenamed("s", "t"), "t", "left_anti")
            .select("s", "t")
            .transform(local_ckpt)
        )
    return (
        cur.groupBy("s")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .withColumnRenamed("s", "node")
    )


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    scale: float | None = None,
    grid: int | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg), exact-arithmetic
    formulation. HITS is scale-invariant — normalizing every half-step
    only controls magnitude, the final ranking vector is identical —
    so the loop carries UN-normalized scores divided by ``scale`` (an
    exact power of two ≥ |E|, derived from the edge count when not
    given) and L1-normalizes ONCE after the last round. Dividing a
    double by a power of two is lossless, so every in-loop value is a
    dyadic rational (integer × 2⁻ᵏ) and every sum is EXACT while the
    integer magnitudes stay under 2⁵³ — partition-order independent
    with no grid snap at all, a stronger determinism guarantee than the
    SCORE_GRID discipline pagerank/PPR need for their non-dyadic
    damping constants. The power-of-two divisor keeps magnitudes from
    compounding: each half-step multiplies by at most the max degree
    and divides by scale ≥ |E| ≥ max degree.

    Plan shape (the VERDICT-r6 creep fix): ONE join+aggregate shuffle
    per half-step and nothing else — no per-round normalization joins,
    no 1-row broadcast-exchange jobs, no full-node-frame join (zero-
    score nodes contribute zero to every sum; the full frame is
    assembled once at the end). Every round checkpoints through
    ``local_ckpt`` and nothing probes a size, but under AQE the stats
    barrier's ``toRdd()`` runs each half-step's shuffle stages while
    the frame is built (graph_hits: 42 jobs at build, sf0.01); only
    the last stages wait for the caller's action. Fixed iteration
    count → deterministic and oracle-checkable as unrolled CTEs.

    Exactness bound: the dyadic numerators are path counts, so the
    no-snap guarantee holds while the number of ≤2·iterations-edge
    paths into any node stays under 2⁵³ — every sparse/moderate graph,
    but a very dense graph (avg degree ≳ 40 at 5 iterations) can
    exceed the double mantissa, where sums regress to partition-order
    float addition. For that regime pass ``grid`` (e.g. SCORE_GRID) to
    snap each half-step's scores — the pre-round-7 discipline: drift
    is absorbed per round before it compounds, at the cost of the
    bit-exactness the default mode has."""
    if iterations < 1:
        raise ValueError("hits needs at least one iteration")
    import math

    from graphview_spark.plans import lazy as _lazy

    # 2 scans per round × iterations — materialize the edge lineage
    # once: counted when the scale must come from |E|, else pinned
    # (pass-through under the lazy plan audit, so auditing graph_hits
    # neither runs a job nor truncates the audited plan)
    edges = edges.select("src", "sink")
    if scale is None:
        edges, n_e = counted_ckpt(edges)
        scale = math.ldexp(1.0, max(n_e - 1, 1).bit_length())
    else:
        edges = _lazy.pin(edges)
    inv = 1.0 / scale  # exact: scale is a power of two

    def _step(c):
        return F.round(c, grid) if grid is not None else c
    # non-zero support frames: (GlobalNodeId, score). hub starts at 1.0
    # on every node with an outgoing edge — nodes without one have hub
    # multiplied into nothing, and their own hub is re-derived from
    # auth flows anyway, so the initial support can be edge sources.
    hub = (
        edges.select(F.col("src").alias("GlobalNodeId")).distinct()
        .select("GlobalNodeId", F.lit(1.0).alias("score"))
        .transform(local_ckpt)
    )
    auth = None
    for _ in range(iterations):
        auth = (
            edges.join(hub, edges["src"] == hub["GlobalNodeId"])
            .groupBy(F.col("sink").alias("GlobalNodeId"))
            .agg(_step(F.sum("score") * inv).alias("score"))
            .transform(local_ckpt)
        )
        hub = (
            edges.join(auth, edges["sink"] == auth["GlobalNodeId"])
            .groupBy(F.col("src").alias("GlobalNodeId"))
            .agg(_step(F.sum("score") * inv).alias("score"))
            .transform(local_ckpt)
        )
    # single L1 normalization + full-node assembly, once: nodes outside
    # a support set have exactly 0.0 (they received no mass). The two
    # totals are sums of same-scale dyadic rationals — exact, so the
    # output quotients are deterministic IEEE divisions.
    a_tot = auth.agg(F.sum("score").alias("_at"))
    h_tot = hub.agg(F.sum("score").alias("_ht"))
    return (
        nodes.select("GlobalNodeId")
        .join(hub.withColumnRenamed("score", "hub"), "GlobalNodeId", "left")
        .join(auth.withColumnRenamed("score", "auth"), "GlobalNodeId", "left")
        .join(F.broadcast(a_tot))
        .join(F.broadcast(h_tot))
        .select(
            "GlobalNodeId",
            F.coalesce(F.col("hub") / F.col("_ht"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("auth") / F.col("_at"), F.lit(0.0)).alias("auth"),
        )
    )


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    sources: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    grid: int | None = SCORE_GRID,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the ``sources``
    set (uniformly) instead of to all nodes — the standard seeded
    relevance ranking. Same loop shape as :func:`pagerank` (one shuffle
    per round on node id, dangling mass redistributed to the teleport
    vector, per-round SCORE_GRID snap, ``local_ckpt`` per round, whose
    stats barrier runs each round's shuffle stages while the frame is
    built — graph_ppr: 68 jobs at build, sf0.01)."""
    n_src = sources.count()
    if n_src == 0:
        raise ValueError(
            "personalized_pagerank: empty teleport set — the sources "
            "DataFrame matched no rows"
        )
    pref = nodes.select("GlobalNodeId").join(
        sources.select("GlobalNodeId").withColumn("_p", F.lit(1.0 / n_src)),
        "GlobalNodeId",
        "left",
    ).select(
        "GlobalNodeId", F.coalesce(F.col("_p"), F.lit(0.0)).alias("p")
    ).transform(local_ckpt)
    ranks = pref.select("GlobalNodeId", F.col("p").alias("rank"))
    edges = edges.select("src", "sink").transform(local_ckpt)
    degrees = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        .transform(local_ckpt)
    )

    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["GlobalNodeId"])
            .join(degrees, "src")
            .select(
                F.col("sink").alias("GlobalNodeId"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("GlobalNodeId")
            .agg(F.sum("c").alias("received"))
        )
        dangling = (
            ranks.join(degrees, ranks["GlobalNodeId"] == degrees["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        new_rank = (
            F.lit(1.0 - damping) * F.col("p")
            + F.lit(damping)
            * (
                F.col("_dang") * F.col("p")
                + F.coalesce(F.col("received"), F.lit(0.0))
            )
        )
        if grid is not None:
            new_rank = F.round(new_rank, grid)
        ranks = (
            pref.join(contribs, "GlobalNodeId", "left")
            .join(F.broadcast(dangling))
            .select("GlobalNodeId", new_rank.alias("rank"))
            .transform(local_ckpt)
        )
    return ranks


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Label propagation to a fixpoint: every node adopts the minimum
    component id among itself and its neighbors (edges treated as
    undirected). Returns (GlobalNodeId, component)."""
    labels = nodes.select(
        "GlobalNodeId", F.col("GlobalNodeId").alias("component")
    ).transform(local_ckpt)
    sym = edges.select("src", "sink").union(
        edges.select(F.col("sink").alias("src"), F.col("src").alias("sink"))
    ).transform(local_ckpt)

    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["src"] == labels["GlobalNodeId"])
            .select(F.col("sink").alias("GlobalNodeId"), "component")
            .groupBy("GlobalNodeId")
            .agg(F.min("component").alias("nbr_min"))
        )
        # carry a per-row changed flag through the checkpoint: the
        # convergence test becomes one cheap aggregate that reads every
        # partition, so it also fills the lazy checkpoint, instead of a
        # second join+filter recompute per round
        updated = labels.join(neighbor_min, "GlobalNodeId", "left").select(
            "GlobalNodeId",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
            (F.col("nbr_min") < F.col("component")).cast("int").alias("_chg"),
        )
        # pointer-jumping compression: follow each label to ITS label
        # (component ← component's component). Plain propagation needs
        # O(graph diameter) rounds — a depth-d path/tree walks one hop
        # per round; with compression label chains halve every round, so
        # convergence is O(log diameter). One extra self-join on the
        # same id partitioning per round buys a ~5× round reduction on
        # tree-shaped graphs.
        ptr = updated.select(
            F.col("GlobalNodeId").alias("__lbl"),
            F.col("component").alias("__lbl_comp"),
        )
        compressed = F.coalesce(F.col("__lbl_comp"), F.col("component"))
        updated = (
            updated.join(ptr, updated["component"] == ptr["__lbl"], "left")
            .select(
                "GlobalNodeId",
                compressed.alias("component"),
                # a compression-only improvement must also count as
                # "changed" or the loop could stop one round early
                F.greatest(
                    F.col("_chg"),
                    (compressed < F.col("component")).cast("int"),
                ).alias("_chg"),
            )
            .transform(local_ckpt)
        )
        changed = updated.agg(F.coalesce(F.max("_chg"), F.lit(0))).first()[0]
        labels = updated.drop("_chg")
        if changed == 0:
            break
    return labels


# --------------------------------------------------------------------------
# correctness-gate entries. Iterative fixpoints ARE oracle-expressible when
# the iteration count is fixed: PageRank unrolls its 5 rounds into chained
# CTEs; components is a min-label fixpoint via DuckDB's recursive CTE.
# Exact small-fixture values are additionally asserted in
# tests/test_algorithms.py.
# --------------------------------------------------------------------------

def q_graph_pagerank(spark, sf_dir: str) -> DataFrame:
    """PageRank over the Refers tree (driver-loop iterative algorithm —
    SURVEY §2.6 'Graph algorithms' row; deliberately no oracle_sql:
    iterative fixpoints are not expressible in one SQL statement)."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    edges = g.edge_with_id("Customer.Refers")
    pr = pagerank(nodes, edges, iterations=5)
    return (
        pr.join(nodes, "GlobalNodeId")
        .select("c_custkey", F.round("rank", 8).alias("rank"))
    )


def q_graph_components(spark, sf_dir: str) -> DataFrame:
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    edges = g.edge_with_id("Customer.Refers")
    cc = connected_components(nodes, edges)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.count(F.lit(1)).alias("n_components"),
                F.max("n_nodes").alias("largest"))
    )


def q_graph_shortest_paths(spark, sf_dir: str) -> DataFrame:
    """BFS hop distance from the root customer (c_custkey=1) over the
    Refers edges — frontier loop, oracle = recursive CTE closure."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    edges = g.edge_with_id("Customer.Refers")
    src = nodes.filter(F.col("c_custkey") == 1).select("GlobalNodeId")
    sp = shortest_paths(src, edges)
    return sp.join(nodes, "GlobalNodeId").select("c_custkey", "dist")


def q_graph_triangles(spark, sf_dir: str) -> DataFrame:
    """Triangle count over the MinHash near-duplicate pair graph (docs as
    nodes, verified pairs at T=0.7 as undirected edges) — composes the
    dedup LSH operator with the declarative triangle join."""
    from graphview_spark.operators.dedup import (
        MINHASH_JACCARD_T,
        N_BANDS,
        _lsh_verified_pairs,
    )

    pairs = _lsh_verified_pairs(spark, sf_dir, N_BANDS, MINHASH_JACCARD_T)
    return triangle_count(pairs, "doc_a", "doc_b")


def _oracle_shortest_paths() -> str:
    """Min-hop BFS as a recursive closure; UNION dedups exact (id, d)
    pairs and depth is bounded by the tree height, so it terminates."""
    from graphview_spark.graph_queries import _ORACLE_REFERS

    return f"""
WITH RECURSIVE refers AS ({_ORACLE_REFERS}),
walk(id, d) AS (
  SELECT c_custkey, 0::BIGINT FROM customer WHERE c_custkey = 1
  UNION
  SELECT e.sink, w.d + 1 FROM walk w JOIN refers e ON e.src = w.id
)
SELECT id AS c_custkey, min(d) AS dist FROM walk GROUP BY id
"""


def _oracle_triangles() -> str:
    from graphview_spark.operators.dedup import (
        MINHASH_JACCARD_T,
        N_BANDS,
        _oracle_lsh_verified,
    )

    pair_sql = _oracle_lsh_verified(N_BANDS, MINHASH_JACCARD_T)
    return f"""
WITH pairs AS ({pair_sql}),
e AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM pairs)
SELECT
  (SELECT count(DISTINCT id)
   FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)) AS n_nodes,
  (SELECT count(*) FROM e) AS n_edges,
  (SELECT count(*)
   FROM e ab JOIN e bc ON ab.b = bc.a
   JOIN e ac ON ac.a = ab.a AND ac.b = bc.b) AS n_triangles
"""


def _oracle_pagerank(iterations: int = 5, damping: float = 0.85) -> str:
    """Fixed-iteration PageRank as plain SQL: each round is one chained CTE
    (r1..rN), so DuckDB evaluates exactly the same recurrence the Spark
    loop does — same dangling-mass redistribution, same double arithmetic."""
    from graphview_spark.graph_queries import _ORACLE_REFERS

    def step(prev: str) -> str:
        return f"""
  SELECT nd.id AS id,
         round({1.0 - damping} / nn.N
         + {damping} * (dang.s / nn.N + coalesce(ct.contrib, 0)),
         {SCORE_GRID}) AS rank
  FROM (SELECT c_custkey AS id FROM customer) nd
  CROSS JOIN nn
  CROSS JOIN (SELECT coalesce(sum(p.rank), 0) AS s
              FROM {prev} p LEFT JOIN deg ON deg.src = p.id
              WHERE deg.src IS NULL) dang
  LEFT JOIN (SELECT e.sink AS id, sum(p.rank / deg.d) AS contrib
             FROM {prev} p
             JOIN deg ON deg.src = p.id
             JOIN refers e ON e.src = p.id
             GROUP BY e.sink) ct ON ct.id = nd.id"""

    ctes = [
        f"refers AS ({_ORACLE_REFERS})",
        "nn AS (SELECT count(*)::DOUBLE AS N FROM customer)",
        "deg AS (SELECT src, count(*) AS d FROM refers GROUP BY src)",
        "r0 AS (SELECT c_custkey AS id, 1.0 / (SELECT N FROM nn) AS rank "
        "FROM customer)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"r{i} AS ({step(f'r{i - 1}')})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id AS c_custkey, round(rank, 8) AS rank FROM r{iterations}"
    )


def _oracle_components(rounds: int = 10) -> str:
    """Min-label connected components as UNROLLED propagate+compress
    rounds (each O(E)): l_{k+1}(v) = min(l_k(v), min over neighbors
    l_k(u)), then one compression hop l ← l(l). Label chains halve every
    round, so ``rounds`` rounds reach the fixpoint for any component of
    diameter ≤ 2^rounds — the synthetic Refers tree's undirected
    diameter is ~2·log₂(N) (≈34 at sf1), far under 2¹⁰. Replaces the
    earlier recursive reach closure, which was quadratic in component
    size (535 s at sf0.1 vs seconds for this form)."""
    from graphview_spark.graph_queries import _ORACLE_REFERS

    parts = [
        f"refers AS ({_ORACLE_REFERS})",
        "sym AS (SELECT src, sink FROM refers "
        "UNION ALL SELECT sink, src FROM refers)",
        "l0 AS (SELECT c_custkey AS id, c_custkey AS label FROM customer)",
    ]
    for i in range(1, rounds + 1):
        prev = f"l{i - 1}"
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT n.id, "
            f"least(n.label, coalesce(min(l.label), n.label)) AS label "
            f"FROM {prev} n LEFT JOIN sym e ON e.sink = n.id "
            f"LEFT JOIN {prev} l ON l.id = e.src "
            f"GROUP BY n.id, n.label)"
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT a.id, coalesce(b.label, a.label) AS label "
            f"FROM p{i} a LEFT JOIN p{i} b ON b.id = a.label)"
        )
    return (
        "WITH " + ",\n".join(parts) + f""",
comp AS (SELECT id, label AS component FROM l{rounds}),
sizes AS (SELECT component, count(*) AS n_nodes FROM comp GROUP BY component)
SELECT count(*) AS n_components, max(n_nodes) AS largest FROM sizes
"""
    )


def bellman_ford(
    source: DataFrame, edges: DataFrame, iterations: int
) -> DataFrame:
    """Fixed-round Bellman-Ford: dist_{k+1}(v) = min(dist_k(v),
    min over in-edges (dist_k(u) + w)). ``source`` is (id) rows at
    distance 0; ``edges`` is (src, sink, w). A fixed iteration count
    makes the result deterministic and oracle-expressible as unrolled
    CTEs; k rounds give exact distances for all shortest paths of ≤ k
    edges (run diameter-many rounds for the full fixpoint). One
    join+groupBy shuffle per round on the stable node-id key, with a
    ``local_ckpt`` per round (shallow plans and no size probe; under
    AQE each round's shuffle stages run while the frame is built —
    same posture as pagerank above)."""
    dist = source.select("id", F.lit(0).cast("long").alias("dist"))
    edges = edges.select("src", "sink", "w").transform(local_ckpt)
    for _ in range(iterations):
        relaxed = (
            edges.join(dist, edges["src"] == dist["id"])
            .select(F.col("sink").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            .unionByName(dist)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .transform(local_ckpt)
        )
        dist = relaxed
    return dist


def q_graph_weighted_paths(spark, sf_dir: str) -> DataFrame:
    """Weighted shortest distances from customer 1 over Refers edges,
    edge weight derived deterministically from the sink key (the synth
    edges carry no attributes): w = sink % 7 + 1. 8 Bellman-Ford rounds
    in the c_custkey domain (oracle = 8 unrolled relax CTEs)."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    key = nodes.select("GlobalNodeId", "c_custkey")
    edges = (
        g.edge_with_id("Customer.Refers")
        .join(key.select(F.col("GlobalNodeId").alias("src"),
                         F.col("c_custkey").alias("src_key")), "src")
        .join(key.select(F.col("GlobalNodeId").alias("sink"),
                         F.col("c_custkey").alias("sink_key")), "sink")
        .select(
            F.col("src_key").alias("src"),
            F.col("sink_key").alias("sink"),
            (F.col("sink_key") % 7 + 1).cast("long").alias("w"),
        )
    )
    src = nodes.filter(F.col("c_custkey") == 1).select(
        F.col("c_custkey").alias("id")
    )
    return bellman_ford(src, edges, iterations=8).select(
        F.col("id").alias("c_custkey"), "dist"
    )


def _oracle_weighted_paths(iterations: int = 8) -> str:
    from graphview_spark.graph_queries import _ORACLE_REFERS

    parts = [
        f"refers AS ({_ORACLE_REFERS})",
        "e AS (SELECT src, sink, sink % 7 + 1 AS w FROM refers)",
        "d0 AS (SELECT 1::BIGINT AS id, 0::BIGINT AS dist)",
    ]
    for i in range(1, iterations + 1):
        prev = f"d{i - 1}"
        parts.append(
            f"d{i} AS (SELECT id, min(dist) AS dist FROM ("
            f"SELECT e.sink AS id, d.dist + e.w AS dist "
            f"FROM e JOIN {prev} d ON e.src = d.id "
            f"UNION ALL SELECT id, dist FROM {prev}) GROUP BY id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id AS c_custkey, dist FROM d{iterations}"
    )


def label_propagation(
    nodes: DataFrame, edges: DataFrame, iterations: int = 3
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    adopts the most frequent label among its neighbors each round, ties
    broken by the smallest label — fully deterministic, so a fixed
    iteration count is oracle-expressible as unrolled CTEs. ``nodes`` is
    (id), ``edges`` (src, sink) in the same id domain; edges are treated
    undirected. Returns (id, label).

    Scale: one shuffle per round (neighbor-label count groupBy + the
    argmax window share the receiver-id partitioning), per-node state is
    one label, and localCheckpoint keeps plan depth constant — the same
    posture as pagerank/components above."""
    from pyspark.sql import Window as W

    # fixed iterations, no driver probe → local_ckpt throughout:
    # shallow per-round plans, no size probe (same pattern as
    # pagerank/hits, whose docstrings say what AQE still runs at build)
    sym = (
        edges.select("src", "sink")
        .union(edges.select(F.col("sink").alias("src"), F.col("src").alias("sink")))
        .transform(local_ckpt)
    )
    labels = nodes.select("id", F.col("id").alias("label")).transform(
        local_ckpt)
    for _ in range(iterations):
        counts = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy(F.col("sink").alias("__id"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # argmax as ONE hash aggregate: min over (−count, label) structs
        # picks the most frequent label with smallest-label tie-break —
        # the identical total order the previous row_number window used
        # (r12 optimization, guide §2.3/§2.4: map-side partial min over
        # narrow structs replaces a sort-based window whose partition
        # key differed from the count's grouping key, dropping the
        # per-round sort and shuffling integer pairs instead of ranked
        # rows; counts are ≥ 1 so the negation cannot overflow)
        pick = (
            counts.groupBy("__id")
            .agg(F.min(F.struct((-F.col("__c")).alias("__nc"),
                                F.col("label"))).alias("__m"))
            .select("__id", F.col("__m.label").alias("__new"))
        )
        labels = (
            labels.join(pick, labels["id"] == pick["__id"], "left")
            .select(
                "id",
                F.coalesce(F.col("__new"), F.col("label")).alias("label"),
            )
            .transform(local_ckpt)
        )
    return labels


def q_graph_communities(spark, sf_dir: str) -> DataFrame:
    """LPA communities over the Refers edges in the c_custkey domain (so
    labels are oracle-comparable — GlobalNodeIds are engine-internal)."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    key = nodes.select("GlobalNodeId", "c_custkey")
    edges = (
        g.edge_with_id("Customer.Refers")
        .join(key.select(F.col("GlobalNodeId").alias("src"),
                         F.col("c_custkey").alias("src_key")), "src")
        .join(key.select(F.col("GlobalNodeId").alias("sink"),
                         F.col("c_custkey").alias("sink_key")), "sink")
        .select(F.col("src_key").alias("src"), F.col("sink_key").alias("sink"))
    )
    lp = label_propagation(
        nodes.select(F.col("c_custkey").alias("id")), edges, iterations=3
    )
    return lp.select(F.col("id").alias("c_custkey"),
                     F.col("label").alias("community"))


def _oracle_communities(iterations: int = 3) -> str:
    from graphview_spark.graph_queries import _ORACLE_REFERS

    parts = [
        f"refers AS ({_ORACLE_REFERS})",
        "sym AS (SELECT src, sink FROM refers "
        "UNION ALL SELECT sink, src FROM refers)",
        "l0 AS (SELECT c_custkey AS id, c_custkey AS label FROM customer)",
    ]
    for i in range(1, iterations + 1):
        prev = f"l{i - 1}"
        parts.append(
            f"p{i} AS (SELECT id, label FROM ("
            f"SELECT e.sink AS id, l.label, "
            f"row_number() OVER (PARTITION BY e.sink "
            f"ORDER BY count(*) DESC, l.label ASC) AS rn "
            f"FROM sym e JOIN {prev} l ON e.src = l.id "
            f"GROUP BY e.sink, l.label) WHERE rn = 1)"
        )
        parts.append(
            f"l{i} AS (SELECT {prev}.id, "
            f"coalesce(p{i}.label, {prev}.label) AS label "
            f"FROM {prev} LEFT JOIN p{i} USING (id))"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id AS c_custkey, label AS community FROM l{iterations}"
    )


QUERIES = {
    "graph_pagerank": q_graph_pagerank,
    "graph_components": q_graph_components,
    "graph_shortest_paths": q_graph_shortest_paths,
    "graph_triangles": q_graph_triangles,
}

ORACLES = {
    "graph_pagerank": _oracle_pagerank(),
    "graph_components": _oracle_components(),
    "graph_shortest_paths": _oracle_shortest_paths(),
    "graph_triangles": _oracle_triangles(),
}

KCORE_K = 2


def q_graph_kcore(spark, sf_dir: str) -> DataFrame:
    """2-core of the MinHash near-duplicate pair graph — the dense part
    of the duplicate structure (nodes on cycles of near-dup relations),
    peeled iteratively. Oracle: the same peeling unrolled as chained
    CTEs (fixpoint reached well within the unroll depth on this data;
    the Spark side runs to true fixpoint)."""
    from graphview_spark.operators.dedup import (
        MINHASH_JACCARD_T,
        N_BANDS,
        _lsh_verified_pairs,
    )

    pairs = _lsh_verified_pairs(spark, sf_dir, N_BANDS, MINHASH_JACCARD_T)
    core = k_core(pairs, KCORE_K, "doc_a", "doc_b")
    return core.select(F.col("node").alias("doc_id"), "core_degree")


def _oracle_kcore(rounds: int = 24) -> str:
    from graphview_spark.operators.dedup import (
        MINHASH_JACCARD_T,
        N_BANDS,
        _oracle_lsh_verified,
    )

    pair_sql = _oracle_lsh_verified(N_BANDS, MINHASH_JACCARD_T)
    # MATERIALIZED: each u{i+1} references u{i} twice (directly and via
    # r{i}) — inlined CTEs would expand the LSH pair scan exponentially.
    # The unroll depth must cover the data's true peeling depth (the
    # Spark side peels to fixpoint); near-dup pair graphs peel in a
    # handful of rounds, and each extra round is cheap on a shrinking
    # set, so 24 is generous headroom. If check.py ever flags this
    # query, raise `rounds` before suspecting the operator.
    ctes = [
        f"pairs AS MATERIALIZED ({pair_sql})",
        "u0 AS MATERIALIZED (SELECT DISTINCT doc_a AS s, doc_b AS t "
        "FROM pairs UNION SELECT doc_b, doc_a FROM pairs)",
    ]
    for i in range(rounds):
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT s FROM u{i} GROUP BY s "
            f"HAVING count(*) < {KCORE_K})"
        )
        ctes.append(
            f"u{i + 1} AS MATERIALIZED (SELECT s, t FROM u{i} "
            f"WHERE s NOT IN (SELECT s FROM r{i}) "
            f"AND t NOT IN (SELECT s FROM r{i}))"
        )
    # fixpoint sentinel: if the LAST peel round still removed nodes, the
    # unroll depth was insufficient — error() loudly instead of silently
    # diverging from the Spark side's true-fixpoint peel
    # the sentinel must be load-bearing (multiplied into the output) or
    # DuckDB's optimizer prunes the unused 1-row join and never evaluates
    # the CASE — verified: an unused CROSS JOIN sentinel does NOT fire
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT s AS doc_id,
       (count(*) * (SELECT CASE WHEN (SELECT count(*) FROM r{rounds - 1}) > 0
          THEN error('k-core oracle: unroll depth {rounds} did not reach fixpoint - raise rounds')
          ELSE 1 END))::BIGINT AS core_degree
FROM u{rounds} GROUP BY s"""
    )


def k_truss(
    pairs: DataFrame, k: int, a: str = "a", b: str = "b"
) -> DataFrame:
    """The k-truss of an undirected simple graph (canonical a<b pairs):
    the maximal subgraph where every edge participates in ≥ k-2
    triangles. Stricter than the k-core (every k-truss is inside the
    (k-1)-core) — the standard cohesive-subgraph refinement. Returns the
    surviving edges with their in-truss support ``(a, b, support)``.

    Edge-peeling driver loop: each round enumerates triangles with the
    same oriented two-path + closing-edge join as
    :func:`triangle_count` (fan-out bounded by min-degree endpoints),
    credits each triangle to its three edges with one
    map-side-combinable groupBy, and drops under-supported edges.
    Rounds are bounded by the peeling depth (a handful in practice);
    every round strictly shrinks the edge set, so it terminates;
    localCheckpoint caps lineage. Requires k ≥ 3."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3")
    e, n_edges = counted_ckpt(
        pairs.select(F.col(a).alias("a"), F.col(b).alias("b")).distinct()
    )
    while True:
        ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
        tri = (
            ab.join(bc, F.col("ab.b") == F.col("bc.a"))
            .join(
                ac,
                (F.col("ac.a") == F.col("ab.a"))
                & (F.col("ac.b") == F.col("bc.b")),
            )
            .select(
                F.col("ab.a").alias("x"),
                F.col("ab.b").alias("y"),
                F.col("bc.b").alias("z"),
            )
        )
        sup = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .union(tri.select(F.col("y"), F.col("z")))
            .union(tri.select(F.col("x"), F.col("z")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        kept, n_kept = counted_ckpt(sup.filter(F.col("support") >= k - 2))
        if n_kept == n_edges:
            return kept
        n_edges = n_kept
        e = kept.select("a", "b")


KTRUSS_K = 3


def q_graph_ktruss(spark, sf_dir: str) -> DataFrame:
    """3-truss of the MinHash near-duplicate pair graph — every
    surviving near-dup relation is corroborated by a third mutually
    similar document (the cohesive core the k-core approximates, one
    notch stricter). Oracle: the same peeling unrolled as chained CTEs
    with a fixpoint sentinel."""
    from graphview_spark.operators.dedup import (
        MINHASH_JACCARD_T,
        N_BANDS,
        _lsh_verified_pairs,
    )

    pairs = _lsh_verified_pairs(spark, sf_dir, N_BANDS, MINHASH_JACCARD_T)
    truss = k_truss(pairs, KTRUSS_K, "doc_a", "doc_b")
    return truss.select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "support"
    )


def _oracle_ktruss(rounds: int = 16) -> str:
    from graphview_spark.operators.dedup import (
        MINHASH_JACCARD_T,
        N_BANDS,
        _oracle_lsh_verified,
    )

    pair_sql = _oracle_lsh_verified(N_BANDS, MINHASH_JACCARD_T)
    ctes = [
        f"pairs AS MATERIALIZED ({pair_sql})",
        "e0 AS MATERIALIZED (SELECT DISTINCT doc_a AS a, doc_b AS b "
        "FROM pairs)",
    ]
    for i in range(rounds):
        ctes += [
            f"t{i} AS MATERIALIZED (SELECT ab.a AS x, ab.b AS y, bc.b AS z "
            f"FROM e{i} ab JOIN e{i} bc ON ab.b = bc.a "
            f"JOIN e{i} ac ON ac.a = ab.a AND ac.b = bc.b)",
            f"e{i + 1} AS MATERIALIZED (SELECT a, b, count(*) AS support "
            f"FROM (SELECT x AS a, y AS b FROM t{i} "
            f"UNION ALL SELECT y, z FROM t{i} "
            f"UNION ALL SELECT x, z FROM t{i}) "
            f"GROUP BY a, b HAVING count(*) >= {KTRUSS_K - 2})",
        ]
    # load-bearing fixpoint sentinel (k-core oracle lesson): the last
    # round must have removed nothing, else the unroll was too shallow
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT a AS doc_a, b AS doc_b,
       (support * (SELECT CASE WHEN
          (SELECT count(*) FROM e{rounds}) <>
          (SELECT count(*) FROM e{rounds - 1})
          THEN error('k-truss oracle: unroll depth {rounds} did not reach fixpoint - raise rounds')
          ELSE 1 END))::BIGINT AS support
FROM e{rounds}"""
    )


def node_similarity(
    edges: DataFrame,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor Jaccard similarity between node pairs of an
    undirected graph given as directed (src, sink) edges.

    Plan: symmetrize → self-join on the shared neighbor → pair-count
    aggregate → join per-node degrees. Cost is Σ_n C(deg(n), 2), which
    a hub node makes quadratic — ``max_degree`` drops hubs before the
    self-join (the standard mitigation; at 100 TB you cap and handle
    hubs separately, e.g. via sketches). The (capped) symmetrized edge
    list is pinned once (lazy under ``lazy_plans()``): it feeds the
    degree aggregate and BOTH self-join sides, so an unpinned frame
    would re-run its shuffles 3×.
    The Jaccard is computed with exact integer arithmetic so the oracle
    agrees bit-for-bit."""
    from graphview_spark.operators.text import _ratio_r
    from graphview_spark.plans import lazy as _lazy

    sym = _lazy.pin(
        edges.select("src", "sink")
        .union(edges.select(F.col("sink").alias("src"), F.col("src").alias("sink")))
        .distinct()
    )
    if max_degree is not None:
        deg_all = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg_all.filter(F.col("d") <= max_degree).select("src")
        sym = _lazy.pin(
            sym.join(keep, "src")
            .join(keep.withColumnRenamed("src", "sink"), "sink")
            .select("src", "sink")
        )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    a = sym.select(F.col("src").alias("na"), F.col("sink").alias("n"))
    b = sym.select(F.col("src").alias("nb"), F.col("sink").alias("n"))
    common = (
        a.join(b, "n")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(deg.withColumnRenamed("src", "na"), "na")
        .withColumnRenamed("d", "da")
        .join(deg.withColumnRenamed("src", "nb"), "nb")
        .withColumnRenamed("d", "db")
        .select(
            "na",
            "nb",
            "common",
            _ratio_r(
                F.col("common"), F.col("da") + F.col("db") - F.col("common")
            ).alias("jaccard"),
        )
    )


NODE_SIM_MAX_DEGREE = 64


def q_graph_node_sim(spark, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard over the Refers tree (undirected):
    sibling / parent-grandchild structural similarity. The hub cap is ON
    by default so the gate exercises the scale-safe path — a no-op on
    the Refers tree (max undirected degree 3), so the oracle is the
    uncapped SQL; at 100 TB the cap bounds the Σ C(deg,2) self-join
    blowup (asserted present in the plan by tests/test_plans.py)."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    edges = g.edge_with_id("Customer.Refers")
    sim = node_similarity(edges, max_degree=NODE_SIM_MAX_DEGREE)
    na = nodes.select(
        F.col("GlobalNodeId").alias("na"), F.col("c_custkey").alias("cust_a")
    )
    nb = nodes.select(
        F.col("GlobalNodeId").alias("nb"), F.col("c_custkey").alias("cust_b")
    )
    # canonicalize on custkey: the Spark-side a<b order is on internal
    # GlobalNodeIds, whose ordering need not match custkey ordering
    return (
        sim.join(na, "na")
        .join(nb, "nb")
        .select(
            F.least("cust_a", "cust_b").alias("cust_a"),
            F.greatest("cust_a", "cust_b").alias("cust_b"),
            "common",
            "jaccard",
        )
    )


def _oracle_node_sim() -> str:
    from graphview_spark.graph_queries import _ORACLE_REFERS
    from graphview_spark.operators.text import _sql_ratio_r

    jac = _sql_ratio_r("common", "da + db - common")
    return f"""
WITH refers AS MATERIALIZED ({_ORACLE_REFERS}),
sym AS MATERIALIZED (
  SELECT src, sink FROM refers UNION SELECT sink, src FROM refers
),
deg AS (SELECT src, count(*)::BIGINT AS d FROM sym GROUP BY src),
common AS (
  SELECT a.src AS na, b.src AS nb, count(*)::BIGINT AS common
  FROM sym a JOIN sym b ON a.sink = b.sink AND a.src < b.src
  GROUP BY 1, 2
),
j AS (
  SELECT c.na, c.nb, c.common, x.d AS da, y.d AS db
  FROM common c JOIN deg x ON x.src = c.na JOIN deg y ON y.src = c.nb
)
SELECT na AS cust_a, nb AS cust_b, common, {jac} AS jaccard FROM j
"""


HITS_ITERS = 5
PPR_ITERS = 5
PPR_DAMPING = 0.85
PPR_SEED_MAX = 10  # teleport set: customers with c_custkey <= this


HITS_SCALE = float(1 << 20)  # fixed so the static oracle SQL matches


def q_graph_hits(spark, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the Refers tree, 5 exact-arithmetic
    rounds with one final L1 normalization — oracle = the same
    recurrence unrolled as chained CTEs. ``scale`` is pinned to 2²⁰
    (≥ the Refers edge count at every gate SF) so the oracle text is
    static; standalone callers let hits() derive it from |E|."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    edges = g.edge_with_id("Customer.Refers")
    hs = hits(nodes, edges, iterations=HITS_ITERS, scale=HITS_SCALE)
    return hs.join(nodes, "GlobalNodeId").select(
        "c_custkey",
        F.round("hub", 8).alias("hub"),
        F.round("auth", 8).alias("auth"),
    )


def _oracle_hits(iterations: int = HITS_ITERS) -> str:
    """HITS unrolled (exact-arithmetic recurrence: per-half-step
    division by the fixed power-of-two HITS_SCALE, single L1
    normalization at the end — mirrors hits()); every aggregate CTE
    MATERIALIZED so DuckDB doesn't expand the edge scan exponentially
    (the k-core oracle lesson). All in-loop values are dyadic
    rationals, so both engines compute identical doubles."""
    from graphview_spark.graph_queries import _ORACLE_REFERS

    inv = repr(1.0 / HITS_SCALE)
    ctes = [
        f"refers AS MATERIALIZED ({_ORACLE_REFERS})",
        "h0 AS MATERIALIZED (SELECT DISTINCT src AS id, 1.0::DOUBLE "
        "AS score FROM refers)",
    ]
    for i in range(1, iterations + 1):
        ctes += [
            f"a{i} AS MATERIALIZED (SELECT e.sink AS id, "
            f"sum(p.score) * {inv} AS score "
            f"FROM h{i - 1} p JOIN refers e ON e.src = p.id GROUP BY e.sink)",
            f"h{i} AS MATERIALIZED (SELECT e.src AS id, "
            f"sum(p.score) * {inv} AS score "
            f"FROM a{i} p JOIN refers e ON e.sink = p.id GROUP BY e.src)",
        ]
    n = iterations
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
at AS (SELECT sum(score) AS t FROM a{n}),
ht AS (SELECT sum(score) AS t FROM h{n})
SELECT c.c_custkey,
       round(coalesce(h.score / ht.t, 0), 8) AS hub,
       round(coalesce(a.score / at.t, 0), 8) AS auth
FROM customer c
LEFT JOIN h{n} h ON h.id = c.c_custkey
LEFT JOIN a{n} a ON a.id = c.c_custkey
CROSS JOIN at CROSS JOIN ht
"""
    )


def q_graph_ppr(spark, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on customers 1..10 over the Refers
    tree — seeded relevance ranking, teleport mass back to the seeds."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    edges = g.edge_with_id("Customer.Refers")
    src = nodes.filter(F.col("c_custkey") <= PPR_SEED_MAX).select("GlobalNodeId")
    pr = personalized_pagerank(
        nodes, edges, src, damping=PPR_DAMPING, iterations=PPR_ITERS
    )
    return pr.join(nodes, "GlobalNodeId").select(
        "c_custkey", F.round("rank", 8).alias("rank")
    )


def _oracle_ppr(
    iterations: int = PPR_ITERS, damping: float = PPR_DAMPING
) -> str:
    from graphview_spark.graph_queries import _ORACLE_REFERS

    def step(prev: str) -> str:
        return f"""
  SELECT pv.id, round({1.0 - damping} * pv.p
         + {damping} * (dang.s * pv.p + coalesce(ct.contrib, 0)),
         {SCORE_GRID}) AS rank
  FROM pref pv
  CROSS JOIN (SELECT coalesce(sum(p.rank), 0) AS s
              FROM {prev} p LEFT JOIN deg ON deg.src = p.id
              WHERE deg.src IS NULL) dang
  LEFT JOIN (SELECT e.sink AS id, sum(p.rank / deg.d) AS contrib
             FROM {prev} p
             JOIN deg ON deg.src = p.id
             JOIN refers e ON e.src = p.id
             GROUP BY e.sink) ct ON ct.id = pv.id"""

    ctes = [
        f"refers AS MATERIALIZED ({_ORACLE_REFERS})",
        "deg AS MATERIALIZED (SELECT src, count(*) AS d FROM refers GROUP BY src)",
        f"ns AS (SELECT count(*)::DOUBLE AS n FROM customer "
        f"WHERE c_custkey <= {PPR_SEED_MAX})",
        f"pref AS MATERIALIZED (SELECT c_custkey AS id, "
        f"CASE WHEN c_custkey <= {PPR_SEED_MAX} "
        f"THEN 1.0 / (SELECT n FROM ns) ELSE 0.0::DOUBLE END AS p "
        f"FROM customer)",
        "r0 AS MATERIALIZED (SELECT id, p AS rank FROM pref)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"r{i} AS MATERIALIZED ({step(f'r{i - 1}')})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id AS c_custkey, round(rank, 8) AS rank FROM r{iterations}"
    )


# rotated into the driver gate in round 4
QUERIES.update({
    "graph_communities": q_graph_communities,
    "graph_weighted_paths": q_graph_weighted_paths,
    "graph_hits": q_graph_hits,
})
ORACLES.update({
    "graph_communities": _oracle_communities(),
    "graph_weighted_paths": _oracle_weighted_paths(),
    "graph_hits": _oracle_hits(),
})
# --------------------------------------------------------------------------
# Strongly connected components. An induced edge frame within
# _DRIVER_EDGES rows is collected once and labelled exactly on the
# driver (iterative Tarjan). Larger frames run GraphX-style trim + pivot
# coloring (the same structure as org.apache.spark.graphx.lib.Strongly
# ConnectedComponents — trim DAG fringes, then peel SCCs by forward/
# backward min-label agreement; that public implementation is
# RDD/JVM-only, this is the DataFrame re-expression) until the residual
# fits the driver bound. Dense-cycle worst cases take more peel rounds
# (bounded by ``max_rounds`` with a hard failure, never a silent wrong
# answer).
# --------------------------------------------------------------------------

_SCC_PROBE_EVERY = 4   # propagation rounds between convergence probes


# The one bound on edge frames collected to the driver (_collect_edges):
# at or below it, SCCs are labelled on the driver (top level and the
# peel's residual finish), and closeness and betweenness run one BFS per
# seed there (scaled down for more than CLOSENESS_SEEDS seeds, see
# _driver_bfs). A frame that ships to every executor as a broadcast is
# small enough for one driver copy (measured on a 4-CPU host: 1M random
# edges label in 1.5–2.3 s at a ≤ 350 MiB process peak); tests lower it
# to force the distributed path
_DRIVER_EDGES = 1_000_000


def _collect_edges(e: DataFrame, bound: int):
    """(src, sink) of ``e`` as two numpy arrays with null endpoints
    dropped, or None when more than ``bound`` such rows exist. The size
    check and the collect are ONE ``limit(bound + 1)`` action, so the
    driver never holds more than bound + 1 rows."""
    t = e.select("src", "sink").dropna().limit(bound + 1).toArrow()
    if t.num_rows > bound:
        return None
    return t.column("src").to_numpy(), t.column("sink").to_numpy()


def _propagate_fb(lab: DataFrame, e: DataFrame,
                  max_iter: int = 64) -> DataFrame:
    """BOTH FW-BW fixpoints in one message stream: state is two rows
    per node tagged dir='f' (min reachable-ancestor label, flowing
    src→sink) and dir='b' (min reachable-descendant, sink→src); labels
    are (h, id) structs so the min travels by hash and carries the
    pivot's id. Fusing the directions halves the per-round job count —
    one join+groupBy shuffle per round on the stable (id, dir) key
    moves both fixpoints one step. Per-round checkpoints are
    ``local_ckpt``: lineage still truncates every round (shallow plans,
    no exponential recompute), but only the convergence probe — every
    ``_SCC_PROBE_EVERY`` rounds — actually materializes, so the driver
    pays ~0.25 jobs/round instead of 1.25. Up to 3 no-op rounds of
    waste per probe window is the trade, which wins on fixpoint-deep
    graphs. Returns (id, f, b)."""
    msgs_edges = e.select(
        F.col("src").alias("send"), F.col("sink").alias("recv"),
        F.lit("f").alias("dir"),
    ).unionByName(e.select(
        F.col("sink").alias("send"), F.col("src").alias("recv"),
        F.lit("b").alias("dir"),
    )).transform(local_ckpt)
    cur = lab.select("id", F.lit("f").alias("dir"), "p").unionByName(
        lab.select("id", F.lit("b").alias("dir"), "p")
    ).transform(local_ckpt)
    snap = cur

    def _step(cur):
        msgs = (
            msgs_edges.join(
                cur,
                (msgs_edges["send"] == cur["id"])
                & (msgs_edges["dir"] == cur["dir"]),
            )
            .select(F.col("recv").alias("id"), msgs_edges["dir"], "p")
            .groupBy("id", "dir")
            .agg(F.min("p").alias("nbr"))
        )
        return cur.join(msgs, ["id", "dir"], "left").select(
            "id", "dir",
            F.least(F.col("p"),
                    F.coalesce(F.col("nbr"), F.col("p"))).alias("p"),
        )

    # one propagation step per lazy checkpoint (a fused two-step
    # variant was measured 2× SLOWER at the sf0.1 bench: the doubled
    # plan costs more per materialization than the saved planning)
    for i in range(1, max_iter + 1):
        cur = _step(cur).transform(local_ckpt)
        if i % _SCC_PROBE_EVERY == 0:
            changed = (
                cur.join(snap.withColumnRenamed("p", "p0"), ["id", "dir"])
                .filter(F.col("p") != F.col("p0"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
            snap = cur
    else:
        raise RuntimeError("min-label propagation did not converge in "
                           f"{max_iter} rounds")
    return (
        cur.groupBy("id")
        .agg(
            F.min(F.when(F.col("dir") == "f", F.col("p"))).alias("f"),
            F.min(F.when(F.col("dir") == "b", F.col("p"))).alias("b"),
        )
    )


def strongly_connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 20,
    driver_edges: int | None = None,
) -> DataFrame:
    """SCC labels over directed (src, sink) edges. Returns (id, scc)
    for every row of ``nodes``, where scc is the component's minimum
    member id. Components are those of the subgraph ``nodes`` induces:
    edges with a null endpoint or an endpoint outside ``nodes`` are
    dropped before either strategy runs, so both return the same
    answer and no label names an id outside ``nodes``.

    One measured size picks the strategy (``driver_edges``, default
    _DRIVER_EDGES, the bound closeness and betweenness share; 0 forces
    the distributed path):

    - **Driver (preferred):** an induced edge frame of at most
      ``driver_edges`` rows is collected ONCE — the size check and the
      collect are one ``limit(bound + 1)`` action — and labelled
      exactly by an iterative Tarjan over a numpy CSR
      (_scc_on_driver). At the bound, 1M random edges label in
      1.5–2.3 s at a ≤ 350 MiB process peak, so the bound is also this
      path's memory bound.
    - **Trim + FW-BW peel (_scc_peel):** larger frames run the
      bounded-memory coloring loop — O(V) state per round, one shuffle
      per propagation step — the same structure as the public GraphX
      StronglyConnectedComponents. The peel hands its residual to the
      driver labelling as soon as the residual edge frame fits
      ``driver_edges``."""
    bound = _DRIVER_EDGES if driver_edges is None else driver_edges
    ids = nodes.select("id")
    # the lazy checkpoint materializes inside the first action (the
    # collect, else the trim's count), so the peel never recomputes the
    # caller's lineage, and it keeps Catalyst from pushing the
    # restriction into the caller's joins, where each copy costs
    # another broadcast job
    e = (
        edges.select("src", "sink").transform(local_ckpt)
        .join(ids.select(F.col("id").alias("src")), "src", "semi")
        .join(ids.select(F.col("id").alias("sink")), "sink", "semi")
    )
    if bound:
        collected = _collect_edges(e, bound)
        if collected is not None:
            return _scc_on_driver(ids, collected)
    return _scc_peel(ids, e, max_rounds, driver_edges=bound)


def _scc_labels(src, sink):
    """Exact SCCs of the (src, sink) arrays: iterative Tarjan (no
    recursion, so path depth is bounded by memory, not the interpreter
    stack) over a CSR built with numpy. Returns (ids, labels) for every
    node that is NOT the minimum of its component — the other nodes,
    and nodes without edges, label themselves."""
    ids, inv = np.unique(np.concatenate([src, sink]), return_inverse=True)
    n, m = len(ids), len(src)
    s, t = inv[:m], inv[m:]
    start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(s, minlength=n), out=start[1:])
    adj = t[np.argsort(s, kind="stable")].tolist()
    start = start.tolist()
    index = [-1] * n
    low = [0] * n
    on_stack = [False] * n
    label = list(range(n))
    stack: list[int] = []
    counter = 0
    for root in range(n):
        if index[root] >= 0:
            continue
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack[root] = True
        work = [(root, start[root])]  # (node, next edge offset)
        while work:
            v, i = work[-1]
            end = start[v + 1]
            while i < end:
                w = adj[i]
                i += 1
                if index[w] < 0:
                    work[-1] = (v, i)
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack[w] = True
                    work.append((w, start[w]))
                    break
                if on_stack[w] and index[w] < low[v]:
                    low[v] = index[w]
            else:
                work.pop()
                if low[v] == index[v]:
                    # v roots a component: its members sit above it on
                    # the stack; ids are sorted, so the min index is the
                    # min member id
                    at = len(stack) - 1
                    while stack[at] != v:
                        at -= 1
                    members = stack[at:]
                    del stack[at:]
                    lo = min(members)
                    for w in members:
                        on_stack[w] = False
                        label[w] = lo
                if work:
                    u = work[-1][0]
                    if low[v] < low[u]:
                        low[u] = low[v]
    label = np.asarray(label, dtype=np.int64)
    moved = label != np.arange(n)
    return ids[moved], ids[label[moved]]


def _scc_on_driver(ids: DataFrame, collected) -> DataFrame:
    """(id, scc) for every row of ``ids`` from the collected (src, sink)
    arrays of the edges among them: only the labels that differ from
    the node's own id are shipped back and left-joined on."""
    node, scc = _scc_labels(*collected)
    if len(node) == 0:
        return ids.select("id", F.col("id").alias("scc"))
    lab = ids.sparkSession.createDataFrame(
        pa.table({"id": node, "scc": scc}))
    return ids.join(lab, "id", "left").select(
        "id", F.coalesce(F.col("scc"), F.col("id")).alias("scc"))


def _scc_peel(nodes: DataFrame, e: DataFrame,
              max_rounds: int = 20,
              driver_edges: int | None = None) -> DataFrame:
    """Iterative FW-BW/coloring SCC peel — the bounded-memory path for
    edge frames larger than the driver bound. ``e`` must already be
    restricted to ``nodes`` (strongly_connected_components does this).

    Each round computes f = min reachable-ancestor label and b = min
    reachable-descendant label as (xxhash64(id), id) structs in ONE
    fused fixpoint (_propagate_fb). Three peel rules then fire
    together, all consequences of the FW-BW partition theorem (every
    SCC lies inside one (f, b) class):

    - f == b → the node is in the SCC of that pivot (the pivot is both
      its ancestor and its descendant); whole SCCs share (f, b), so
      they peel atomically;
    - |class| == 1 → the node is a singleton SCC even when f != b
      (its SCC can't extend beyond the class) — this disposes of DAG
      fringes in the first round instead of one layer per round;
    - surviving nodes keep only edges whose endpoints agree on the
      full (f, b) class, so the graph disconnects into shrinking
      independent classes and later fixpoints span class diameters,
      not the whole graph.

    Each round peels at least every class's min-hash pivot, so the
    peel always progresses. Hashed pivot order keeps monotone-id
    graphs from degrading to one SCC per round. Once the residual edge
    frame fits ``driver_edges`` (default _DRIVER_EDGES; 0 never)
    the remainder is labelled on the driver. Labels are then
    canonicalized to the component minimum so both strategies return
    identical frames.

    A TRIM pre-pass (the standard FW-BW companion step — Slota,
    Rajamanickam & Madduri, "BFS and Coloring-Based Parallel
    Algorithms for Strongly Connected Components", IPDPS 2014) first
    peels nodes with zero in- or out-degree in the residual graph
    iteratively: none can lie on a cycle, so each is a singleton SCC.
    Trim rounds are two semi-joins on node id — ~20× cheaper than an
    FB fixpoint round — and on tree-plus-cycles graphs (the sf1 scale
    fixture) they dispose of the entire acyclic fringe so the FB
    fixpoints run only on the small cyclic core (measured: the first
    FB fixpoint alone cost 45 s at 150k nodes pre-trim)."""
    parts: list[DataFrame] = []
    with _loop_regime(nodes.sparkSession) as size_shuffle:
        residual = _scc_trim(nodes.select("id"), e, parts, size_shuffle)
        _scc_peel_rounds(
            residual, parts, max_rounds, size_shuffle,
            _DRIVER_EDGES if driver_edges is None else driver_edges)
    if not parts:
        return nodes.sparkSession.createDataFrame(
            [], "id long, scc long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    canon = out.groupBy("scc").agg(F.min("id").alias("cmin"))
    return out.join(canon, "scc").select("id", F.col("cmin").alias("scc"))


def _scc_trim(remaining, e, parts, size_shuffle, max_rounds: int = 256):
    """Iterative trim (see _scc_peel): peel nodes whose residual in- or
    out-degree is zero as singleton SCCs until a fixpoint. Each round
    is two distinct projections + semi/anti joins on node id and two
    counted checkpoints; rounds = the graph's trim depth (tree height
    for the acyclic fringe). Returns the cyclic core as (remaining,
    edges, n_remaining, n_edges), the counts measured by those
    checkpoints.

    Shuffle sizing rides the EDGE count, not the node residual (ADVICE
    r8 #3): the dominant per-round jobs — the two distinct projections
    and the two edge semi-joins — shuffle the edge frame, which on the
    high-fanout graphs trim targets can be orders of magnitude larger
    than the node set; sizing on nodes alone under-partitioned them
    with AQE off. The per-round edge count is the job that materializes
    the edge checkpoint (the next round's scans reuse the materialized
    RDD), so it promotes work that was due anyway rather than adding a
    pass."""
    remaining, n_rem = counted_ckpt(remaining)
    e, n_edge = counted_ckpt(e)
    for _ in range(max_rounds):
        if n_rem == 0:
            break
        size_shuffle(max(n_rem, n_edge))
        srcs = e.select(F.col("src").alias("id")).distinct()
        sinks = e.select(F.col("sink").alias("id")).distinct()
        # Round 13 probe: fusing the two per-round count jobs (n_keep +
        # n_edge) into one tagged union count was tried and MEASURED
        # SLOWER at sf1 (trim 11.1 → 12.5 s, graph_scc 31.4 → 33.4 s):
        # the fused job serializes keep's and the restriction's
        # materialization and pays a deeper plan, the same failure mode
        # as _propagate_fb's rejected two-step fusion. The two-job
        # shape below stands.
        keep, n_keep = counted_ckpt(
            remaining.join(srcs, "id", "semi").join(sinks, "id", "semi"))
        if n_keep == n_rem:
            break
        parts.append(
            remaining.join(keep, "id", "anti")
            .select("id", F.col("id").alias("scc"))
            .transform(local_ckpt)
        )
        e, n_edge = counted_ckpt(
            e.join(keep.select(F.col("id").alias("src")), "src", "semi")
            .join(keep.select(F.col("id").alias("sink")), "sink", "semi")
            .select("src", "sink")
        )
        remaining, n_rem = keep, n_keep
    # fixpoint, or the depth cap: the peel handles whatever is left
    return remaining, e, n_rem, n_edge


def _scc_peel_rounds(residual, parts, max_rounds, size_shuffle,
                     driver_edges: int):
    """Peel loop body (see _scc_peel): mutates ``parts`` in place so the
    caller can union outside the loop regime. As soon as the residual
    edge frame fits ``driver_edges`` rows, the remainder is labelled
    exactly on the driver (_scc_on_driver) — after trim and a few class
    restrictions the residual is usually a sliver whose FB fixpoints
    would pay the per-job floor for nothing. ``driver_edges=0`` keeps
    every round on the FB leg (the oracle-gated peel fixture).
    ``residual`` is _scc_trim's (remaining, edges, n_remaining,
    n_edges); each round's counted checkpoints measure the next."""
    remaining, e, n_remaining, n_edge = residual
    for _ in range(max_rounds):
        if n_remaining == 0:
            return
        if driver_edges and n_edge <= driver_edges:
            parts.append(_scc_on_driver(
                remaining, _collect_edges(e, driver_edges)))
            return
        size_shuffle(n_remaining)
        lab = remaining.select(
            "id", F.struct(F.xxhash64("id").alias("h"),
                           F.col("id").alias("pid")).alias("p")
        )
        cls = (
            _propagate_fb(lab, e)
            .withColumn(
                "n", F.count(F.lit(1)).over(
                    W.partitionBy("f", "b")
                )
            )
            .transform(local_ckpt)
        )
        peel = (F.col("f") == F.col("b")) | (F.col("n") == 1)
        sccs = (
            cls.filter(peel)
            .select(
                "id",
                F.when(F.col("f") == F.col("b"), F.col("f.pid"))
                .otherwise(F.col("id")).alias("scc"),
            )
            .transform(local_ckpt)
        )
        parts.append(sccs)
        survivors, n_remaining = counted_ckpt(cls.filter(~peel))
        remaining = survivors.select("id")
        # class restriction: only same-(f,b)-class edges can sit inside
        # a still-unresolved SCC. Node-sized side tables: plain
        # equi-joins on the stable src/sink partitioning (broadcasting
        # them would ship the whole node set to every executor at
        # scale).
        lhs = survivors.select(F.col("id").alias("src"),
                               F.col("f").alias("_fs"),
                               F.col("b").alias("_bs"))
        rhs = survivors.select(F.col("id").alias("sink"),
                               F.col("f").alias("_ft"),
                               F.col("b").alias("_bt"))
        e, n_edge = counted_ckpt(
            e.join(lhs, "src")
            .join(rhs, "sink")
            .filter((F.col("_fs") == F.col("_ft"))
                    & (F.col("_bs") == F.col("_bt")))
            .select("src", "sink")
        )
    raise RuntimeError(f"SCC did not converge in {max_rounds} rounds")


CLOSENESS_SEEDS = 8
# BFS horizon of the closeness and betweenness queries: both legs fail
# LOUD past it (a silent cut would under-report sum_dist and δ for every
# seed that reaches beyond it). 240 hops ≈ 4× the default horizon; a
# Refers chain deeper than that raises with the instruction to raise
# this constant rather than return wrong sums.
CLOSENESS_MAX_DEPTH = 240


def _refers_edges(g):
    nodes = g.nodes["Customer"]
    key = nodes.select("GlobalNodeId", "c_custkey")
    return (
        g.edge_with_id("Customer.Refers")
        .join(key.select(F.col("GlobalNodeId").alias("src"),
                         F.col("c_custkey").alias("src_key")), "src")
        .join(key.select(F.col("GlobalNodeId").alias("sink"),
                         F.col("c_custkey").alias("sink_key")), "sink")
        .select(F.col("src_key").alias("src"),
                F.col("sink_key").alias("sink"))
    )


def _bfs_on_driver(src, sink, seeds, max_depth: int, brandes: bool = True):
    """Brandes from each seed over the collected (src, sink) arrays
    (null endpoints already dropped; duplicate edges count once, as in
    multi_source_levels). Per seed, a level-synchronous BFS over a
    numpy CSR carries hop distance and σ (shortest-path count); a
    reverse sweep over the recorded levels accumulates δ. Returns
    ``(n_reach, sum_dist, ids, bt)``: per-seed reach and total hop
    distance, aligned with ``seeds`` (0 for a seed without edges), and
    Σ_s δ_s(v) for every node id in ``ids``; ``brandes=False`` runs the
    forward levels only (no σ, no δ sweep: ``bt`` stays 0), all that
    closeness reads. Raises, like the
    distributed leg, when a seed's BFS is still live after
    ``max_depth`` levels — which also bounds the fixed per-level numpy
    cost on deep graphs (measured ≈60 µs a level on a 4-CPU host: a
    20k-deep chain from 8 seeds takes 9 s)."""
    ids, inv = np.unique(np.concatenate([src, sink]), return_inverse=True)
    n, m = len(ids), len(src)
    pair = np.unique(inv[:m] * n + inv[m:])
    adj = pair % max(n, 1)
    start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(pair // max(n, 1), minlength=n), out=start[1:])
    pos = np.searchsorted(ids, seeds)
    found = pos < n
    found[found] = ids[pos[found]] == seeds[found]
    n_reach = np.zeros(len(seeds), dtype=np.int64)
    sum_dist = np.zeros(len(seeds), dtype=np.int64)
    bt = np.zeros(n)

    def _out(front):
        """(out-degree, offset into the edge list, successors) of the
        nodes in ``front``."""
        lo = start[front]
        cnt = start[front + 1] - lo
        off = np.cumsum(cnt) - cnt
        at = np.repeat(lo - off, cnt) + np.arange(off[-1] + cnt[-1])
        return cnt, off, adj[at]

    for k in np.flatnonzero(found):
        dist = np.full(n, -1, dtype=np.int64)
        sigma = np.zeros(n)
        delta = np.zeros(n)
        front = pos[k:k + 1]
        dist[front] = 0
        sigma[front] = 1.0
        levels = [front]
        while True:
            cnt, _, w = _out(front)
            new = dist[w] < 0
            if not new.any():
                break
            if len(levels) == max_depth:
                raise ValueError(
                    f"_bfs_on_driver: BFS frontier still live after "
                    f"max_depth={max_depth} levels — the graph is deeper "
                    "than the horizon; raise max_depth")
            w = w[new]
            if brandes:
                np.add.at(sigma, w, np.repeat(sigma[front], cnt)[new])
            front = np.unique(w)
            dist[front] = len(levels)
            levels.append(front)
        n_reach[k] = sum(len(lvl) for lvl in levels) - 1
        sum_dist[k] = sum(d * len(lvl) for d, lvl in enumerate(levels))
        if not brandes:
            continue
        # δ(v) = σ_v · Σ_{w: v→w, dist w = dist v + 1} (1 + δ_w) / σ_w;
        # the deepest level keeps δ = 0 and the seed's own δ is not
        # counted
        for d in range(len(levels) - 2, -1, -1):
            front = levels[d]
            cnt, off, w = _out(front)
            # every successor of a reached node is reached: σ_w > 0
            part = np.where(dist[w] == d + 1,
                            (1.0 + delta[w]) / sigma[w], 0.0)
            has = cnt > 0
            delta[front[has]] = (sigma[front[has]]
                                 * np.add.reduceat(part, off[has]))
            if d:
                bt[front] += delta[front]
    return n_reach, sum_dist, ids, bt


def _driver_bfs(seeds: DataFrame, edges: DataFrame, driver_edges,
                max_depth: int, brandes: bool = True):
    """The closeness/betweenness size gate: ``(seed ids, *_bfs_on_driver
    result)`` when n_seeds × |E| ≤ CLOSENESS_SEEDS × the driver bound
    (``driver_edges``, default _DRIVER_EDGES; 0 never), else None. A
    seed's BFS is linear in the edges it reaches (plus a fixed cost per
    level, at most ``max_depth`` levels), so the product bounds driver
    time as well as memory. Two ``limit``ed actions: the
    distinct non-null seed ids (at most CLOSENESS_SEEDS × bound of
    them), then the edge frame under the bound the seed count leaves."""
    bound = _DRIVER_EDGES if driver_edges is None else driver_edges
    if not bound:
        return None
    cap = CLOSENESS_SEEDS * bound
    s = (seeds.select(seeds.columns[0]).dropna().distinct()
         .limit(cap + 1).toArrow().column(0))
    if len(s) > cap:
        return None
    collected = _collect_edges(
        edges, cap // max(len(s), CLOSENESS_SEEDS))
    if collected is None:
        return None
    return (s, *_bfs_on_driver(*collected, s.to_numpy(), max_depth,
                               brandes))


def closeness(seeds: DataFrame, edges: DataFrame, max_depth: int = 60,
              driver_edges: int | None = None) -> DataFrame:
    """Seed-sampled closeness inputs over directed (src, sink) edges:
    ``(s, n_reach, sum_dist)`` for every distinct non-null seed — the
    number of nodes s reaches (itself excluded) and their total hop
    distance; (0, 0) for a seed without out-edges. Null endpoints and
    duplicate edges are ignored on both legs.

    One measured size picks the leg (see _driver_bfs): within the
    driver bound, the edges are collected once and each seed runs an
    exact BFS on the driver; past it (or with ``driver_edges=0``) one
    batched (seed, node)-keyed BFS runs in Spark
    (multi_source_distances: job count = graph depth, independent of
    seed count). Both legs raise when a seed reaches deeper than
    ``max_depth`` hops, so the gate never changes the answer."""
    got = _driver_bfs(seeds, edges, driver_edges, max_depth, brandes=False)
    if got is not None:
        s, n_reach, sum_dist, _, _ = got
        return seeds.sparkSession.createDataFrame(pa.table(
            {"s": s, "n_reach": n_reach, "sum_dist": sum_dist}))
    sp = multi_source_distances(
        seeds.select(F.col(seeds.columns[0]).alias("s")).dropna(), edges,
        max_depth=max_depth)
    return sp.groupBy("s").agg(
        (F.count(F.lit(1)) - 1).alias("n_reach"),
        F.sum("dist").alias("sum_dist"),
    )


def q_graph_closeness(spark, sf_dir: str) -> DataFrame:
    """Closeness centrality for the customers with c_custkey ≤
    CLOSENESS_SEEDS over the Refers tree: n_reach (reachable nodes),
    sum_dist (total hop distance) and closeness = n_reach / sum_dist
    (NULL when sum_dist = 0, mirrored by the oracle's CASE guard), from
    ``closeness`` — one collect plus a driver BFS per seed through sf1,
    else one batched BFS in Spark.
    Every sampled seed emits a row, even with zero outgoing reach, so
    the query is not silently coupled to the tree shape of the tested
    data. The ratio is rounded with the integer round-half-up identity
    so both engines agree at decimal halfway points."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    seeds = g.nodes["Customer"].filter(
        F.col("c_custkey") <= CLOSENESS_SEEDS).select("c_custkey")
    agg = closeness(seeds, _refers_edges(g), max_depth=CLOSENESS_MAX_DEPTH)
    scale = 10 ** 6
    ratio = F.when(
        F.col("sum_dist") > 0,
        F.floor((2 * scale * F.col("n_reach") + F.col("sum_dist"))
                / (2 * F.col("sum_dist"))) / F.lit(float(scale)),
    )
    return agg.select(
        F.col("s").alias("c_custkey"), "n_reach", "sum_dist",
        ratio.alias("closeness"),
    )


def _oracle_closeness() -> str:
    from graphview_spark.graph_queries import _ORACLE_REFERS

    scale = 10 ** 6
    ratio = (f"CASE WHEN sum_dist > 0 THEN "
             f"((({2 * scale} * n_reach + sum_dist) // (2 * sum_dist))"
             f" / {scale}.0) END")
    return f"""
WITH RECURSIVE refers AS ({_ORACLE_REFERS}),
bfs AS (
  SELECT c_custkey AS seed, c_custkey AS id, 0 AS dist
  FROM customer WHERE c_custkey <= {CLOSENESS_SEEDS}
  UNION ALL
  SELECT b.seed, e.sink, b.dist + 1 FROM bfs b JOIN refers e ON e.src = b.id
),
agg AS (
  SELECT seed, count(*) - 1 AS n_reach, sum(dist)::BIGINT AS sum_dist
  FROM bfs GROUP BY seed
)
SELECT seed AS c_custkey, n_reach, sum_dist, {ratio} AS closeness
FROM agg
"""


def multi_source_levels(
    seeds: DataFrame, edges: DataFrame, max_depth: int = 60
) -> tuple[list[DataFrame], DataFrame]:
    """Batched multi-source BFS: ALL seeds advance together as one
    (seed, node)-keyed frontier, so the job count is the graph depth
    regardless of how many seeds are sampled, and per-round work is one
    shuffle on (seed, node). Returns ``(levels, edges)`` where
    ``levels[d]`` is the frame of (s, id, sigma) settled at hop d
    (sigma = number of shortest s→id paths, summed where fronts meet)
    and ``edges`` is the deduplicated, checkpointed (src, sink) frame —
    returned so callers (the Brandes reverse sweep) reuse the
    materialized lineage instead of re-scanning.

    Shared forward pass for ``brandes_betweenness`` AND the
    distributed closeness leg (``multi_source_distances``) — memory is
    bounded by the per-level frontier. Null endpoints are dropped, as
    on the driver leg (_bfs_on_driver). Raises if the frontier is still
    live after ``max_depth`` levels: a silent cut would undercount
    distances/δ for every node beyond the horizon."""
    sid = seeds.columns[0]
    spark = seeds.sparkSession
    with _loop_regime(spark) as size_shuffle:
        edges, n_edges = counted_ckpt(
            edges.select("src", "sink").dropna().distinct())
        size_shuffle(n_edges)
        lvl = (
            seeds.select(F.col(sid).alias("s"))
            .distinct()
            .select("s", F.col("s").alias("id"),
                    F.lit(1.0).alias("sigma"))
            .transform(local_ckpt)
        )
        levels = [lvl]
        # settled = plain union of already-checkpointed level frames:
        # no checkpoint of its own (the lineage is just LogicalRDD
        # unions, nothing recomputes), and each level's counted
        # checkpoint is ONE job per BFS level (level 0 materializes in
        # level 1's job)
        settled = lvl.select("s", "id")
        for _ in range(max_depth):
            frontier = levels[-1]
            nxt, rows = counted_ckpt(
                frontier.join(edges, frontier["id"] == edges["src"])
                .select("s", F.col("sink").alias("id"), "sigma")
                .groupBy("s", "id")
                .agg(F.sum("sigma").alias("sigma"))
                .join(settled, ["s", "id"], "left_anti")
            )
            if rows == 0:
                return levels, edges
            levels.append(nxt)
            settled = settled.unionByName(nxt.select("s", "id"))
    raise ValueError(
        f"multi_source_levels: BFS frontier still live after "
        f"max_depth={max_depth} levels — the graph is deeper "
        "than the horizon; raise max_depth"
    )


def multi_source_distances(
    seeds: DataFrame, edges: DataFrame, max_depth: int = 60
) -> DataFrame:
    """Hop distances from every seed as ONE batched (seed, node) BFS —
    (s, id, dist) for each reachable pair, dist 0 at the seed itself.
    This is the distributed leg of ``closeness``: job count is the
    graph depth, not depth × seed count."""
    levels, _ = multi_source_levels(seeds, edges, max_depth=max_depth)
    out = levels[0].select("s", "id", F.lit(0).cast("long").alias("dist"))
    for d, lvl in enumerate(levels[1:], start=1):
        out = out.unionByName(
            lvl.select("s", "id", F.lit(d).cast("long").alias("dist"))
        )
    return out


def brandes_betweenness(
    seeds: DataFrame, edges: DataFrame, max_depth: int = 60
) -> DataFrame:
    """σ-weighted Brandes betweenness restricted to a sampled source
    set (Brandes 2001, "A Faster Algorithm for Betweenness
    Centrality"), with ALL sources advanced together as one
    (seed, node)-keyed frontier — not one driver loop per seed, so the
    round count is the graph depth regardless of how many seeds are
    sampled, and per-round work is one shuffle on (seed, node).

    Forward pass: multi-source BFS carrying σ (the number of shortest
    s→v paths, summed across predecessors when fronts meet — the
    groupBy below). Reverse pass: walk the recorded levels deepest-
    first accumulating δ_s(v) = Σ_{w ∈ succ(v)} (σ_sv/σ_sw)(1 + δ_s(w))
    where succ(v) = BFS-tree successors (edge v→w with w settled one
    level deeper for the same seed). Betweenness(v) = Σ_s δ_s(v), the
    source level excluded.

    Memory is bounded by the per-level frontier (≤ |seeds|·|V| rows
    total across levels, in practice far less) — this is the
    distributed leg of ``betweenness``, as multi_source_distances is
    of ``closeness`` (both ride ``multi_source_levels``). Reference
    analog: iterative computation via T-SQL WHILE loops is GraphView's
    advertised path for algorithms (/root/reference/README.md:16).

    ``seeds``: one-column DataFrame of source node ids. ``edges``:
    (src, sink) directed. Returns (v, betweenness double) for every v
    with δ > 0. On unique-shortest-path graphs every σ is 1 and each
    δ_s(v) is the integer count of targets behind v, so the result
    coincides exactly with the through-node pair count; on multi-path
    graphs it is the σ-fractional centrality (property-tested against
    brute-force Brandes in tests/test_property_closure.py)."""
    spark = seeds.sparkSession
    # forward pass: shared batched multi-seed BFS (also the closeness
    # distributed leg's distance engine); raises rather than silently
    # undercounting past max_depth
    levels, edges = multi_source_levels(seeds, edges, max_depth=max_depth)
    # reverse sweep: δ at the deepest level is 0; each shallower level
    # joins its BFS-tree successors one level down. local_ckpt keeps
    # the δ-chain's plan linear; the sweep runs outside the loop
    # regime, where AQE plans each level (the loop-regime caveat
    # applies only to the per-level counted jobs above).
    zero = F.lit(0.0).alias("delta")
    deltas = levels[-1].select("s", "id", zero)
    acc = [deltas] if len(levels) > 1 else []
    for d in range(len(levels) - 2, -1, -1):
        cur = levels[d]
        succ = (
            levels[d + 1].join(deltas, ["s", "id"])
            .select("s", F.col("id").alias("w"),
                    F.col("sigma").alias("sigma_w"), "delta")
        )
        contrib = (
            cur.join(edges, cur["id"] == edges["src"])
            .select("s", "id", "sigma", F.col("sink").alias("w"))
            .join(succ, ["s", "w"])
            .groupBy("s", "id")
            .agg(F.sum(
                F.col("sigma") / F.col("sigma_w") * (1 + F.col("delta"))
            ).alias("delta"))
        )
        deltas = (
            cur.select("s", "id")
            .join(contrib, ["s", "id"], "left")
            .select("s", "id", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            .transform(local_ckpt)
        )
        if d >= 1:  # level 0 is the sources themselves: excluded
            acc.append(deltas)
    if not acc:
        return spark.createDataFrame([], "v long, betweenness double")
    out = acc[0]
    for a in acc[1:]:
        out = out.unionByName(a)
    return (
        out.groupBy(F.col("id").alias("v"))
        .agg(F.sum("delta").alias("betweenness"))
        .filter(F.col("betweenness") > 0)
    )


def betweenness(seeds: DataFrame, edges: DataFrame, max_depth: int = 60,
                driver_edges: int | None = None) -> DataFrame:
    """Seed-sampled σ-weighted Brandes betweenness over directed
    (src, sink) edges: ``(v, betweenness double)`` for every v with
    Σ_s δ_s(v) > 0, sources s from the one-column ``seeds`` frame.

    Same leg choice as ``closeness`` (see _driver_bfs): within the
    driver bound, one exact Brandes pass per seed on the driver; past
    it (or with ``driver_edges=0``) the batched multi-seed BFS in Spark
    (``brandes_betweenness``). Both legs raise when a seed reaches
    deeper than ``max_depth`` hops."""
    got = _driver_bfs(seeds, edges, driver_edges, max_depth)
    if got is None:
        return brandes_betweenness(seeds, edges, max_depth=max_depth)
    *_, ids, bt = got
    keep = bt > 0
    return seeds.sparkSession.createDataFrame(pa.table(
        {"v": ids[keep], "betweenness": bt[keep]}))


def q_graph_betweenness(spark, sf_dir: str) -> DataFrame:
    """Betweenness for the Refers tree's interior nodes w.r.t. the
    CLOSENESS_SEEDS sampled sources — the remaining classic centrality
    (degree/closeness/PageRank/HITS/k-core live elsewhere in the
    family). Paths in the tree are unique, so every σ is 1 and each
    δ is the integer count of seed-pair shortest paths through the node
    (the oracle's through-node pair count); rounded to long. Output:
    every node on ≥1 seed-pair shortest path, with its pair count."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    seeds = g.nodes["Customer"].filter(
        F.col("c_custkey") <= CLOSENESS_SEEDS).select("c_custkey")
    bt = betweenness(seeds, _refers_edges(g), max_depth=CLOSENESS_MAX_DEPTH)
    return bt.select(
        F.col("v").alias("c_custkey"),
        F.round("betweenness").cast("long").alias("betweenness"),
    )


def _oracle_betweenness() -> str:
    from graphview_spark.graph_queries import _ORACLE_REFERS

    return f"""
WITH RECURSIVE refers AS ({_ORACLE_REFERS}),
d AS (
  SELECT src, sink, 1 AS dist FROM refers
  UNION
  SELECT d.src, e.sink, d.dist + 1 FROM d JOIN refers e ON e.src = d.sink
),
sv AS (SELECT src AS s, sink AS v, dist AS d1 FROM d
       WHERE src <= {CLOSENESS_SEEDS}),
st AS (SELECT src AS s, sink AS t, dist AS dd FROM d
       WHERE src <= {CLOSENESS_SEEDS}),
vt AS (SELECT src AS v, sink AS t, dist AS d2 FROM d)
SELECT sv.v AS c_custkey, count(*) AS betweenness
FROM sv JOIN vt USING (v) JOIN st ON st.s = sv.s AND st.t = vt.t
WHERE sv.d1 + vt.d2 = st.dd AND sv.v <> vt.t
GROUP BY sv.v
"""


def q_graph_scc(spark, sf_dir: str) -> DataFrame:
    """SCC summary over the Refers tree plus deterministic back-edges
    (every edge whose child key is divisible by 5 also gets the reverse
    direction) — the reversals thread mutual chains k ↔ 2k ↔ 4k…
    through the heap-shaped tree, so nontrivial SCCs exist at every
    scale. Output is label-agnostic (counts and sizes only). Through
    sf1 (~180k directed edges) the edge frame fits _DRIVER_EDGES,
    so the labelling is one collect plus a driver Tarjan;
    q_graph_scc_peel keeps the distributed trim + peel leg under its
    own oracle.

    Oracle note: on THIS derived graph, every directed cycle descends a
    tree path and must climb back up the same unique parent chain, so
    all cycle edges are bidirectional — hence SCCs coincide with the
    connected components of the mutual-edge subgraph, which is what the
    DuckDB oracle computes (unrolled propagate+compress, same form as
    _oracle_components). The Spark side runs the general algorithm; the
    3-cycle fixture in tests/test_algorithms.py covers cycles with no
    mutual edges, which the oracle's specialization cannot."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    nodes = g.nodes["Customer"]
    key = nodes.select("GlobalNodeId", "c_custkey")
    refers = (
        g.edge_with_id("Customer.Refers")
        .join(key.select(F.col("GlobalNodeId").alias("src"),
                         F.col("c_custkey").alias("src_key")), "src")
        .join(key.select(F.col("GlobalNodeId").alias("sink"),
                         F.col("c_custkey").alias("sink_key")), "sink")
        .select(F.col("src_key").alias("src"), F.col("sink_key").alias("sink"))
    )
    directed = refers.unionByName(
        refers.filter(F.col("sink") % 5 == 0)
        .select(F.col("sink").alias("src"), F.col("src").alias("sink"))
    )
    scc = strongly_connected_components(
        nodes.select(F.col("c_custkey").alias("id")), directed
    )
    sizes = scc.groupBy("scc").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_sccs"),
        F.max("n").alias("largest"),
        F.count(F.when(F.col("n") >= 2, 1)).alias("n_nontrivial"),
    )


def _oracle_scc(rounds: int = 8) -> str:
    """CC of the mutual-edge subgraph (valid for the derived graph —
    see q_graph_scc docstring) via unrolled propagate+compress; mutual
    chains k↔2k↔4k… have diameter ≤ log₂(max key), far under 2⁸."""
    from graphview_spark.graph_queries import _ORACLE_REFERS

    parts = [
        f"refers AS ({_ORACLE_REFERS})",
        "mutual AS (SELECT src, sink FROM refers WHERE sink % 5 = 0)",
        "sym AS (SELECT src, sink FROM mutual "
        "UNION ALL SELECT sink, src FROM mutual)",
        "l0 AS (SELECT c_custkey AS id, c_custkey AS label FROM customer)",
    ]
    for i in range(1, rounds + 1):
        prev = f"l{i - 1}"
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT n.id, "
            f"least(n.label, coalesce(min(l.label), n.label)) AS label "
            f"FROM {prev} n LEFT JOIN sym e ON e.sink = n.id "
            f"LEFT JOIN {prev} l ON l.id = e.src "
            f"GROUP BY n.id, n.label)"
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT a.id, "
            f"coalesce(b.label, a.label) AS label "
            f"FROM p{i} a LEFT JOIN p{i} b ON b.id = a.label)"
        )
    return (
        "WITH " + ",\n".join(parts) + f""",
sizes AS (SELECT label, count(*) AS n FROM l{rounds} GROUP BY label)
SELECT count(*) AS n_sccs, max(n) AS largest,
       count(*) FILTER (n >= 2) AS n_nontrivial
FROM sizes
"""
    )


_PEEL_CYCLE = 6       # cycle length per block in the peel-gate graph
_PEEL_EDGE_MAX = 480  # keys with edges (80 six-cycles)
_PEEL_NODE_MAX = 500  # 20 extra keys stay singleton SCCs


def q_graph_scc_peel(spark, sf_dir: str) -> DataFrame:
    """Drives the distributed trim + FW-BW peel (_scc_peel) END-TO-END
    under an oracle — the leg q_graph_scc never reaches because its
    edge frame fits the driver bound. The derived graph is 80 directed
    6-cycles over c_custkey ≤ 480 (block b = (k-1) div 6, edge k → next
    position in the block's cycle) plus 20 isolated keys ≤ 500:
    driver_edges=0 skips the driver labelling at the top AND as the
    peel's residual finish, so the trim pre-pass disposes of the
    isolated keys and f==b peels every cycle whole — the FB fixpoint
    leg itself stays under the oracle (the query's whole purpose). The
    DuckDB oracle does an honest recursive reachability closure +
    mutual-reach minimum, not the generator's closed form. Summary
    output is label-agnostic, same shape as q_graph_scc."""
    from graphview_spark.session import read_table

    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    nodes = cust.filter(F.col("c_custkey") <= _PEEL_NODE_MAX).select(
        F.col("c_custkey").alias("id"))
    b = _PEEL_CYCLE
    edges = (
        cust.filter(F.col("c_custkey") <= _PEEL_EDGE_MAX)
        .select(
            F.col("c_custkey").alias("src"),
            (F.expr(f"(c_custkey - 1) div {b}") * b
             + F.pmod(F.col("c_custkey"), F.lit(b)) + 1
             ).alias("sink"),
        )
    )
    scc = strongly_connected_components(nodes, edges, driver_edges=0)
    sizes = scc.groupBy("scc").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_sccs"),
        F.max("n").alias("largest"),
        F.count(F.when(F.col("n") >= 2, 1)).alias("n_nontrivial"),
    )


def _oracle_scc_peel() -> str:
    b = _PEEL_CYCLE
    return f"""
WITH RECURSIVE cyc AS (
  SELECT c_custkey AS src,
         ((c_custkey - 1) // {b}) * {b}
           + ((c_custkey - 1) % {b} + 1) % {b} + 1 AS sink
  FROM customer WHERE c_custkey <= {_PEEL_EDGE_MAX}
),
reach AS (
  SELECT src, sink FROM cyc
  UNION
  SELECT r.src, e.sink FROM reach r JOIN cyc e ON e.src = r.sink
),
mutual AS (
  SELECT a.src AS id, a.sink AS partner
  FROM reach a JOIN reach rev ON rev.src = a.sink AND rev.sink = a.src
),
lab AS (
  SELECT n.c_custkey AS id,
         least(n.c_custkey, coalesce(min(m.partner), n.c_custkey)) AS scc
  FROM customer n LEFT JOIN mutual m ON m.id = n.c_custkey
  WHERE n.c_custkey <= {_PEEL_NODE_MAX}
  GROUP BY n.c_custkey
),
sizes AS (SELECT scc, count(*) AS n FROM lab GROUP BY scc)
SELECT count(*) AS n_sccs, max(n) AS largest,
       count(*) FILTER (n >= 2) AS n_nontrivial
FROM sizes
"""


_BFS_BT_SEED_MAX = 9  # block 0 fully seeded + half of block 1: varied counts


def q_graph_betweenness_bfs(spark, sf_dir: str) -> DataFrame:
    """Drives the distributed Brandes leg of ``betweenness`` END-TO-END
    under an oracle — the leg q_graph_betweenness never reaches because
    its Refers edges fit the driver bound. Same derived graph as
    q_graph_scc_peel (80 directed 6-cycles over c_custkey ≤ 480):
    driver_edges=0 runs the batched multi-seed Brandes BFS (forward σ
    pass + reverse δ accumulation), as q_graph_scc_peel does for the
    peel. Directed cycles have UNIQUE shortest paths, so the σ-weighted
    accumulation is integral (rounded to long) and equals the
    through-node pair count the DuckDB oracle computes (depth-capped
    recursive closure + min-dist fold). Seeds ≤ 9 leave block 1
    partially seeded, so per-node counts vary (1..10) rather than
    collapsing to one constant."""
    from graphview_spark.session import read_table

    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    b = _PEEL_CYCLE
    edges = (
        cust.filter(F.col("c_custkey") <= _PEEL_EDGE_MAX)
        .select(
            F.col("c_custkey").alias("src"),
            (F.expr(f"(c_custkey - 1) div {b}") * b
             + F.pmod(F.col("c_custkey"), F.lit(b)) + 1
             ).alias("sink"),
        )
    )
    seeds = cust.filter(F.col("c_custkey") <= _BFS_BT_SEED_MAX).select(
        F.col("c_custkey").alias("s"))
    bt = betweenness(seeds, edges, driver_edges=0)
    return bt.select(
        F.col("v").alias("c_custkey"),
        F.round("betweenness").cast("long").alias("betweenness"),
    )


def _oracle_betweenness_bfs() -> str:
    """Depth-capped recursive distance closure (dist < cycle length
    bounds the recursion on the cyclic graph) + min-dist fold, then the
    same through-node pair count as _oracle_betweenness with the
    cycle-specific guards: t ≠ s and v ≠ s (the closure of a cycle
    contains (x, x, L) self-pairs that Brandes never visits — its BFS
    settles the source at distance 0)."""
    b = _PEEL_CYCLE
    return f"""
WITH RECURSIVE cyc AS (
  SELECT c_custkey AS src,
         ((c_custkey - 1) // {b}) * {b}
           + ((c_custkey - 1) % {b} + 1) % {b} + 1 AS sink
  FROM customer WHERE c_custkey <= {_PEEL_EDGE_MAX}
),
d AS (
  SELECT src, sink, 1 AS dist FROM cyc
  UNION
  SELECT d.src, e.sink, d.dist + 1 FROM d JOIN cyc e ON e.src = d.sink
  WHERE d.dist < {b}
),
dm AS (SELECT src, sink, min(dist) AS dist FROM d GROUP BY src, sink),
sv AS (SELECT src AS s, sink AS v, dist AS d1 FROM dm
       WHERE src <= {_BFS_BT_SEED_MAX} AND sink <> src),
st AS (SELECT src AS s, sink AS t, dist AS dd FROM dm
       WHERE src <= {_BFS_BT_SEED_MAX} AND sink <> src),
vt AS (SELECT src AS v, sink AS t, dist AS d2 FROM dm)
SELECT sv.v AS c_custkey, count(*) AS betweenness
FROM sv JOIN vt USING (v) JOIN st ON st.s = sv.s AND st.t = vt.t
WHERE sv.d1 + vt.d2 = st.dd AND sv.v <> vt.t
GROUP BY sv.v
"""


EXTRA_QUERIES: dict = {
    "graph_betweenness": q_graph_betweenness,
    "graph_betweenness_bfs": q_graph_betweenness_bfs,
    "graph_scc_peel": q_graph_scc_peel,
    "graph_kcore": q_graph_kcore,
    "graph_ppr": q_graph_ppr,
    "graph_node_sim": q_graph_node_sim,
    "graph_ktruss": q_graph_ktruss,
    "graph_scc": q_graph_scc,
    "graph_closeness": q_graph_closeness,
}
EXTRA_ORACLES: dict = {
    "graph_betweenness": _oracle_betweenness(),
    "graph_betweenness_bfs": _oracle_betweenness_bfs(),
    "graph_scc_peel": _oracle_scc_peel(),
    "graph_kcore": _oracle_kcore(),
    "graph_ppr": _oracle_ppr(),
    "graph_node_sim": _oracle_node_sim(),
    "graph_ktruss": _oracle_ktruss(),
    "graph_scc": _oracle_scc(),
    "graph_closeness": _oracle_closeness(),
}
