"""Property test for ``var_length_paths``: on random small multigraphs
(duplicate edges, self-loops, 2-cycles, isolated nodes) the
``(start, end, hops, path_str)`` multiset equals a brute-force Python
enumeration of trails (or node-unique paths), for bounds whose hops are
all lazy (``*1..2``), mixed (``*1..3``, ``*2..4``, ``*1..5``) or
materialized up to an empty frontier (``*``), with and without a start
node set."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphview_spark.graph import GraphDatabase
from graphview_spark.matching.pattern import parse_match_paths
from graphview_spark.matching.paths import var_length_paths

N_NODES = 6
BOUNDS = ["*0..0", "*0..2", "*1..2", "*1..3", "*2..4", "*1..5", "*"]

node = st.integers(min_value=1, max_value=N_NODES)


def _graph(spark, edges) -> GraphDatabase:
    g = GraphDatabase(spark)
    g.execute(
        """CREATE TABLE [N] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge", Reference:"N"] E VARBINARY(max) )"""
    )
    g.execute("INSERT INTO N(id) VALUES "
              + ", ".join(f"({i})" for i in range(1, N_NODES + 1)))
    base = g.catalog.table("N").gid_base()
    pairs = spark.createDataFrame(edges, "a int, b int")
    g.insert_edges_df(
        "N", "E",
        pairs.select(
            (F.lit(base) + F.col("a")).cast("long").alias("src"),
            (F.lit(base) + F.col("b")).cast("long").alias("sink"),
        ),
    )
    return g


def _enumerate(edges, lo, hi, node_unique, starts, base):
    """Every path of ``lo..hi`` hops (``hi`` -1: unbounded) as
    ``(start, end, hops, path_str)``; edges are told apart by position,
    so duplicate edges give duplicate paths."""
    hi = len(edges) if hi == -1 else hi
    out = []

    def walk(start, at, used, nodes, text):
        hops = len(used)
        if hops >= lo:
            out.append((start, at, hops, text))
        if hops == hi:
            return
        for i, (s, t) in enumerate(edges):
            if s != at or i in used or (node_unique and t in nodes):
                continue
            walk(start, t, used | {i}, nodes | {t},
                 f"{text}-[E]->{base + t}")

    for s in range(1, N_NODES + 1):
        if starts is None or s in starts:
            walk(s, s, frozenset(), frozenset({s}), str(base + s))
    return Counter((base + a, base + b, h, p) for a, b, h, p in out)


@pytest.mark.parametrize("node_unique", [False, True])
@given(
    edges=st.lists(st.tuples(node, node), max_size=7),
    starts=st.sets(node, min_size=1, max_size=3),
)
@example(edges=[(1, 2), (1, 2), (2, 1), (2, 2), (2, 3), (3, 4)],
         starts={1})  # duplicate, 2-cycle, self-loop, chain
@example(edges=[], starts={5})
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_var_length_paths_match_enumeration(spark, node_unique, edges,
                                            starts):
    g = _graph(spark, edges)
    base = g.catalog.table("N").gid_base()
    start_df = spark.createDataFrame(
        [(base + s,) for s in sorted(starts)], "gid long")
    for spec in BOUNDS:
        e = parse_match_paths(f"x-[E{spec} AS p]->y").edges[0]
        for start_set, start_nodes in ((None, None), (starts, start_df)):
            rows = var_length_paths(g, e, "N", "N", node_unique=node_unique,
                                    start_nodes=start_nodes).collect()
            got = Counter((r["p_start"], r["p_end"], r["p_hops"],
                           r["p_path_str"]) for r in rows)
            want = _enumerate(edges, e.min_len, e.max_len, node_unique,
                              start_set, base)
            assert got == want, (spec, start_set)
