"""Variable-length paths (``*``, ``*min..max``) — iterative DataFrame BFS.

Reference semantics (generated recursive CTE, GraphView/
DeployScriptTemplate.cs:208-341): trails, not simple walks —
**edge-uniqueness** within one path (ExclusiveEdgeGenerator,
NodeTableGraphViewCodeTemplate.cs:475-587); ``min=0`` contributes the
source itself as an empty path; per-hop attribute predicates apply at
every expansion; the ``bfsPath_DifferNodes`` variant
(DeployScriptTemplate.cs:355-468) enforces **node**-uniqueness instead.
Path display reproduces PathMessageDecoder's per-hop messages
(TranslateMatchClauseVisitor.cs:519-618): ``nodeId-[edge]->nodeId`` for
plain edges, ``nodeId-[edge {attr:value, ...}]->nodeId`` for attributed
ones (the encoder/decoder pair serializes typed edge-attribute values
per hop, NodeTableGraphViewCodeTemplate.cs:1000-1260).

Spark realization: a driver-side loop that builds one frontier frame
per hop. Each hop joins the previous frontier's ``end`` against the edge
DF's ``src`` and filters used edges with ``array_contains`` on the
accumulated key array. The loop runs exactly ``max_len`` hops; unbounded
``*`` uses |E| (a trail uses each edge at most once) and stops early on
an empty frontier. A lazy hop is derived once by its own part of the
output union and once more by every later lazy hop, so the last two hops
stay lazy (each derived at most twice, inside the caller's query) and
hop *j* ≤ ``max_len − 2`` is materialized with
``plans.lazy.counted_ckpt`` (localCheckpoint + stats barrier; the job
that materializes it also counts it, so the empty-frontier test costs no
extra job). Materializing every hop would add jobs for frames read at
most twice; inlining every hop would re-derive hop *j*
``max_len − j + 1`` times and grow the plan quadratically.

Scale notes: the frontier join shuffles on node id each hop — the same
partitioning every iteration, so on a real cluster pre-partitioning the
edge DF by ``src`` (bucketing) makes every hop a local join. Path state
(key array + display string) stays columnar; no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphview_spark.matching.pattern import PatternEdge
from graphview_spark.plans.lazy import counted_ckpt


def var_length_paths(
    g,
    e: PatternEdge,
    src_name: str,
    sink_name: str,
    node_unique: bool | None = None,
    start_nodes: DataFrame | None = None,
) -> DataFrame:
    """Paths of length [min_len, max_len] (max_len=-1 → unbounded).

    Returns columns ``{alias}_start``, ``{alias}_end``, ``{alias}_hops``,
    ``{alias}_path_str``. ``start_nodes`` (one column of GlobalNodeIds)
    restricts the traversal to paths starting there — the pushed-down
    source-alias predicate pruning the whole BFS instead of its result.
    """
    from graphview_spark.matching.planner import (
        _edge_df,
        _member_tables,
        _resolve_edge_types,
    )

    if node_unique is None:
        node_unique = getattr(g, "path_semantics", "trail") == "simple"
    alias = e.alias

    # pin each edge type's ordinals: every hop joins this set, deriving
    # it repeats the edge_id window otherwise (one recompute per hop),
    # and a later DELETE EDGE of the same table version reuses the pin
    for et in _resolve_edge_types(g, e, src_name, sink_name):
        g.edge_ordinals(et.qualified, pin=True)
    edges = _edge_df(g, e, src_name, sink_name, raw=True)
    ekey = F.concat_ws(":", F.col("_etype"), F.col("src"), F.col("edge_id"))
    # _emsg is the per-edge display message (edge name + attribute
    # values for attributed edges — the PathMessageDecoder parity, see
    # _one_edge_df).
    edges = edges.select(
        "src", "sink", "_etype", ekey.alias("_ekey"), "_emsg")

    seed = edges
    if start_nodes is not None:
        key = start_nodes.columns[0]
        # no broadcast hint: start_nodes is caller-provided and can be any
        # size (e.g. "all customers in a region"); AQE broadcast-converts
        # the semi join when runtime stats show it small.
        seed = edges.join(
            start_nodes,
            edges["src"] == start_nodes[key],
            "left_semi",
        )

    min_len = e.min_len
    max_len = e.max_len
    if max_len == -1:
        # exact trail bound: one path can't reuse an edge
        max_len = edges.count()

    def first_hop() -> DataFrame:
        hop1 = seed.select(
            F.col("src").alias("start"),
            F.col("sink").alias("end"),
            F.lit(1).alias("hops"),
            F.array(F.col("_ekey")).alias("used_edges"),
            F.array(F.col("src"), F.col("sink")).alias("used_nodes"),
            F.concat_ws(
                "",
                F.col("src").cast("string"),
                F.lit("-["),
                F.col("_emsg"),
                F.lit("]->"),
                F.col("sink").cast("string"),
            ).alias("path_str"),
        )
        if node_unique:
            hop1 = hop1.filter(F.col("start") != F.col("end"))
        return hop1

    def next_hop(frontier: DataFrame) -> DataFrame:
        nxt = (
            frontier.join(edges, frontier["end"] == edges["src"])
            .filter(~F.array_contains(F.col("used_edges"), F.col("_ekey")))
        )
        if node_unique:
            nxt = nxt.filter(~F.array_contains(F.col("used_nodes"), F.col("sink")))
        return nxt.select(
            F.col("start"),
            F.col("sink").alias("end"),
            (F.col("hops") + 1).alias("hops"),
            F.array_append(F.col("used_edges"), F.col("_ekey")).alias("used_edges"),
            F.array_append(F.col("used_nodes"), F.col("sink")).alias("used_nodes"),
            F.concat_ws(
                "",
                F.col("path_str"),
                F.lit("-["),
                F.col("_emsg"),
                F.lit("]->"),
                F.col("sink").cast("string"),
            ).alias("path_str"),
        )

    collected: list[DataFrame] = []
    frontier = None
    for hop in range(1, max_len + 1):
        frontier = first_hop() if frontier is None else next_hop(frontier)
        # the at-most-twice rule (module docstring): only the last two
        # hops stay lazy; a materialized empty frontier ends the loop
        if hop <= max_len - 2:
            frontier, rows = counted_ckpt(frontier)
            if rows == 0:
                break
        if hop >= min_len:
            collected.append(frontier)

    parts = []
    if min_len == 0:
        # the empty path: every node of the source binding reaches itself
        # (DeployScriptTemplate.cs:208-341 seeds the CTE with the source)
        src_nodes = None
        for tbl in _member_tables(g, src_name):
            nd = g.nodes[g.catalog.table(tbl).name].select(
                F.col("GlobalNodeId").alias("start")
            )
            src_nodes = nd if src_nodes is None else src_nodes.unionByName(nd)
        if start_nodes is not None:
            key = start_nodes.columns[0]
            src_nodes = src_nodes.join(
                start_nodes,
                src_nodes["start"] == start_nodes[key],
                "left_semi",
            )
        parts.append(
            src_nodes.select(
                "start",
                F.col("start").alias("end"),
                F.lit(0).alias("hops"),
                F.col("start").cast("string").alias("path_str"),
            )
        )
    parts.extend(
        c.select("start", "end", "hops", "path_str") for c in collected
    )
    if not parts:
        schema = "start long, end long, hops int, path_str string"
        out = g.spark.createDataFrame([], schema)
    else:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
    return out.select(
        F.col("start").alias(f"{alias}_start"),
        F.col("end").alias(f"{alias}_end"),
        F.col("hops").alias(f"{alias}_hops"),
        F.col("path_str").alias(f"{alias}_path_str"),
    )
