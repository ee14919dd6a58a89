"""Var-length path semantics (SURVEY §2.6, DeployScriptTemplate.cs:
208-341): trails (edge-unique, not node-unique), min=0 empty path,
unbounded *, bounds, and the node-unique variant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphview_spark.graph import GraphDatabase
from graphview_spark.matching.pattern import parse_match_paths
from graphview_spark.matching.paths import var_length_paths


@pytest.fixture()
def diamond(spark):
    """1→2, 2→3, 3→2 (cycle), 2→4: trails can revisit node 2 via the
    3→2 back-edge but never reuse an edge."""
    g = GraphDatabase(spark)
    g.execute(
        """CREATE TABLE [N] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge", Reference:"N"] E VARBINARY(max) )"""
    )
    g.execute("INSERT INTO N(id) VALUES(1),(2),(3),(4)")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 2), (2, 4)], "a int, b int"
    )
    base = g.catalog.table("N").gid_base()
    g.insert_edges_df(
        "N", "E",
        pairs.select(
            (F.lit(base) + F.col("a")).cast("long").alias("src"),
            (F.lit(base) + F.col("b")).cast("long").alias("sink"),
        ),
    )
    return g


def _paths(g, spec, **kw):
    e = parse_match_paths(f"x-[{spec}]->y").edges[0]
    base = g.catalog.table("N").gid_base()
    rows = var_length_paths(g, e, "N", "N", **kw).collect()
    return sorted(
        (r[f"{e.alias}_start"] - base, r[f"{e.alias}_end"] - base,
         r[f"{e.alias}_hops"]) for r in rows
    )


def test_bounded_1_2(diamond):
    got = _paths(diamond, "E*1..2")
    assert got == sorted([
        (1, 2, 1), (2, 3, 1), (3, 2, 1), (2, 4, 1),          # 1 hop
        (1, 3, 2), (1, 4, 2), (2, 2, 2), (3, 3, 2), (3, 4, 2),  # 2 hops
    ])


def test_zero_zero_is_only_the_empty_path(diamond):
    """``*0..0`` builds no hop: each node reaches itself and nothing
    else, through the function and through a MATCH statement."""
    assert _paths(diamond, "E*0..0") == [(n, n, 0) for n in (1, 2, 3, 4)]
    rows = diamond.execute(
        "SELECT x.id AS s, y.id AS t FROM N x, N y MATCH x-[E*0..0]->y"
    ).collect()
    assert sorted((r["s"], r["t"]) for r in rows) == [
        (n, n) for n in (1, 2, 3, 4)]


def test_trail_semantics_edge_unique_not_node_unique(diamond):
    """1→2→3→2→4 is a valid TRAIL (node 2 twice, all edges distinct) —
    the reference's ExclusiveEdgeGenerator semantics."""
    got = _paths(diamond, "E*1..4")
    assert (1, 4, 4) in got                  # 1-2-3-2-4
    # but no edge is ever reused: the 5-hop walk 1-2-3-2-3... is illegal
    assert all(h <= 4 for _, _, h in got)


def test_unbounded_star_includes_empty_path(diamond):
    got = _paths(diamond, "E*")
    # min=0: every node reaches itself with 0 hops
    for n in (1, 2, 3, 4):
        assert (n, n, 0) in got
    # unbounded converges at the trail bound (4 edges)
    assert max(h for _, _, h in got) == 4
    assert (1, 4, 4) in got


def test_node_unique_variant(diamond):
    """bfsPath_DifferNodes: node 2 may not repeat → the 4-hop trail
    disappears, max useful length is 3."""
    got = _paths(diamond, "E*1..4", node_unique=True)
    assert (1, 4, 4) not in got
    assert (2, 2, 2) not in got              # 2-3-2 revisits start
    assert (1, 3, 2) in got and (1, 4, 2) in got


def test_start_nodes_pushdown_prunes(diamond, spark):
    base = diamond.catalog.table("N").gid_base()
    start = spark.createDataFrame([(base + 1,)], "gid long")
    got = _paths(diamond, "E*1..3", start_nodes=start)
    assert got and all(s == 1 for s, _, _ in got)


def test_per_hop_attr_predicates(spark):
    """{attr:value} applies at EVERY expansion of the path."""
    g = GraphDatabase(spark)
    g.execute(
        """CREATE TABLE [M] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge", Reference:"M",
             Attributes:{kind:"string"}] E VARBINARY(max) )"""
    )
    g.execute("INSERT INTO M(id) VALUES(1),(2),(3)")
    base = g.catalog.table("M").gid_base()
    pairs = spark.createDataFrame(
        [(1, 2, "good"), (2, 3, "bad")], "a int, b int, kind string"
    )
    g.insert_edges_df(
        "M", "E",
        pairs.select(
            (F.lit(base) + F.col("a")).cast("long").alias("src"),
            (F.lit(base) + F.col("b")).cast("long").alias("sink"),
            "kind",
        ),
    )
    e = parse_match_paths("x-[E*1..2 {kind:'good'}]->y").edges[0]
    rows = var_length_paths(g, e, "M", "M").collect()
    got = sorted(
        (r[f"{e.alias}_start"] - base, r[f"{e.alias}_end"] - base) for r in rows
    )
    assert got == [(1, 2)]                   # the 'bad' hop never expands


def test_path_display_string(diamond):
    e = parse_match_paths("x-[E*2..2 AS p]->y").edges[0]
    base = diamond.catalog.table("N").gid_base()
    rows = var_length_paths(diamond, e, "N", "N").collect()
    strs = {r["p_path_str"] for r in rows}
    want = f"{base+1}-[E]->{base+2}-[E]->{base+3}"
    assert want in strs


def test_path_display_with_edge_attribute_messages(spark):
    """Attributed edges render their per-hop attribute values into the
    path string — PathMessageEncoder/Decoder parity (the tutorial's
    ``Placed {prio}`` shape, NodeTableGraphViewCodeTemplate.cs:1000-1260).
    Null attribute values render as ``null``."""
    g = GraphDatabase(spark)
    g.execute(
        """CREATE TABLE [P] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge", Reference:"P",
             Attributes:{prio:"string", w:"int"}] Placed VARBINARY(max) )"""
    )
    g.execute("INSERT INTO P(id) VALUES(1),(2),(3)")
    base = g.catalog.table("P").gid_base()
    pairs = spark.createDataFrame(
        [(1, 2, "urgent", 5), (2, 3, None, 7)],
        "a int, b int, prio string, w int",
    )
    g.insert_edges_df(
        "P", "Placed",
        pairs.select(
            (F.lit(base) + F.col("a")).cast("long").alias("src"),
            (F.lit(base) + F.col("b")).cast("long").alias("sink"),
            "prio", "w",
        ),
    )
    e = parse_match_paths("x-[Placed*2..2 AS p]->y").edges[0]
    rows = var_length_paths(g, e, "P", "P").collect()
    strs = {r["p_path_str"] for r in rows}
    want = (
        f"{base+1}-[Placed {{prio:urgent, w:5}}]->{base+2}"
        f"-[Placed {{prio:null, w:7}}]->{base+3}"
    )
    assert strs == {want}


def test_var_length_over_edge_view(spark):
    """*1..3 traversal over an EDGE VIEW spanning two physical edge
    columns — the reference devotes a generated-code family to exactly
    this (EdgeViewGraphViewCodeTemplate.cs:1-1110,
    EdgeViewBfsScriptTemplate.cs:1-673): the BFS must draw each hop from
    the UNION of the member edge tables. Chain 1→2 (E1), 2→3 (E2),
    3→4 (E1), 4→5 (E2): no single member column can walk more than one
    hop, so every multi-hop row below proves the union is live."""
    g = GraphDatabase(spark)
    g.execute(
        """CREATE TABLE [N] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge", Reference:"N"] E1 VARBINARY(max),
            [ColumnRole:"Edge", Reference:"N"] E2 VARBINARY(max) )"""
    )
    g.execute("INSERT INTO N(id) VALUES(1),(2),(3),(4),(5)")
    base = g.catalog.table("N").gid_base()

    def load(edge, pairs):
        df = spark.createDataFrame(pairs, "a int, b int")
        g.insert_edges_df(
            "N", edge,
            df.select(
                (F.lit(base) + F.col("a")).cast("long").alias("src"),
                (F.lit(base) + F.col("b")).cast("long").alias("sink"),
            ),
        )

    load("E1", [(1, 2), (3, 4)])
    load("E2", [(2, 3), (4, 5)])
    g.execute(
        """CREATE EDGE VIEW EV AS
           SELECT * FROM N.E1
           UNION ALL
           SELECT * FROM N.E2"""
    )
    e = parse_match_paths("x-[EV*1..3]->y").edges[0]
    rows = var_length_paths(g, e, "N", "N").collect()
    got = sorted(
        (r[f"{e.alias}_start"] - base, r[f"{e.alias}_end"] - base,
         r[f"{e.alias}_hops"]) for r in rows
    )
    assert got == sorted([
        (1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1),
        (1, 3, 2), (2, 4, 2), (3, 5, 2),
        (1, 4, 3), (2, 5, 3),
    ])
    # per-hop display strings name the PHYSICAL member edge, not the view
    strs = {r[f"{e.alias}_path_str"] for r in rows}
    assert (f"{base+1}-[E1]->{base+2}-[E2]->{base+3}-[E1]->{base+4}"
            in strs)


def test_var_length_edge_view_dialect_statement(spark):
    """The same traversal through the full dialect: MATCH with a
    *1..3-quantified edge view inside a SELECT statement."""
    g = GraphDatabase(spark)
    g.execute(
        """CREATE TABLE [N] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge", Reference:"N"] E1 VARBINARY(max),
            [ColumnRole:"Edge", Reference:"N"] E2 VARBINARY(max) )"""
    )
    g.execute("INSERT INTO N(id) VALUES(1),(2),(3),(4),(5)")
    base = g.catalog.table("N").gid_base()
    for edge, pairs in (("E1", [(1, 2), (3, 4)]), ("E2", [(2, 3), (4, 5)])):
        df = spark.createDataFrame(pairs, "a int, b int")
        g.insert_edges_df(
            "N", edge,
            df.select(
                (F.lit(base) + F.col("a")).cast("long").alias("src"),
                (F.lit(base) + F.col("b")).cast("long").alias("sink"),
            ),
        )
    g.execute(
        """CREATE EDGE VIEW EV AS
           SELECT * FROM N.E1
           UNION ALL
           SELECT * FROM N.E2"""
    )
    res = g.execute(
        """SELECT x.id AS sid, y.id AS tid
           FROM N x, N y
           MATCH x-[EV*1..3]->y"""
    )
    got = sorted((r["sid"], r["tid"]) for r in res.collect())
    assert got == sorted([
        (1, 2), (2, 3), (3, 4), (4, 5),
        (1, 3), (2, 4), (3, 5),
        (1, 4), (2, 5),
    ])
