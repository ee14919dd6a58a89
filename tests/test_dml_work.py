"""A graph-DML statement does only the work its answer depends on: the
DELETE NODE guard reads only the matched nodes' edges, checkpoint_tables
materializes only the tables DML changed, and a MATCH with no join-order
choice plans without statistics."""

from __future__ import annotations

import gc
import weakref

import pytest
from pyspark.sql import functions as F

import graphview_spark.matching.query as query
from graphview_spark.graph import GraphDatabase, GraphViewError


def _graph(spark) -> GraphDatabase:
    """Two node tables, three edge types. P1 has only an incoming edge
    of the other table's edge type (T.Tags), P2 only an out-edge of the
    second edge type (Likes), P3 only the incoming end of that Likes
    edge, P4 a Knows self-loop; P5, P6 and T2 are free, T1 has only an
    out-edge."""
    g = GraphDatabase(spark)
    g.execute(
        """CREATE TABLE [P] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge",Reference:"P"] Knows VARBINARY(max),
            [ColumnRole:"Edge",Reference:"P"] Likes VARBINARY(max) )"""
    )
    g.execute(
        """CREATE TABLE [T] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge",Reference:"P"] Tags VARBINARY(max) )"""
    )
    g.execute("INSERT INTO P(id) VALUES (1), (2), (3), (4), (5), (6)")
    g.execute("INSERT INTO T(id) VALUES (1), (2)")
    for edge, tbl, a, b in [("T.Tags", "T", 1, 1), ("P.Likes", "P", 2, 3),
                            ("P.Knows", "P", 4, 4)]:
        g.execute(f"INSERT EDGE INTO {edge} SELECT x, y FROM {tbl} x, P y "
                  f"WHERE x.id = {a} AND y.id = {b}")
    return g


@pytest.fixture(scope="module")
def g(spark):
    return _graph(spark)


def _gids(df) -> set[int]:
    return {r["GlobalNodeId"] for r in df.select("GlobalNodeId").collect()}


GUARD_CASES = [
    ("P", "{a}id = 1"),            # only an incoming edge, other table's type
    ("P", "{a}id = 2"),            # only an out-edge of the second edge type
    ("P", "{a}id = 3"),            # only an incoming edge, own table's type
    ("P", "{a}id = 4"),            # self-loop
    ("P", "{a}id = 999"),          # WHERE matches no row
    ("P", "{a}id IN (1, 5)"),      # free and connected: raise, delete nothing
    ("P", "{a}id IN (5, 6)"),      # all free: deleted
    ("P", "{a}id > 0"),            # every node
    ("T", "{a}id = 1"),            # out-edge into another table
    ("T", "{a}id = 2"),            # free
]


@pytest.mark.parametrize("form", ["where", "join"])
@pytest.mark.parametrize("table,cond", GUARD_CASES)
def test_delete_node_guard_matches_degree_rule(g, table, cond, form):
    """The semi-join guard raises exactly when the rule computed
    directly from out_degree/in_degree says a matched node still has
    an edge, reports the same count, and deletes nothing when it
    raises; both the WHERE form and the join-delete form."""
    before = g.nodes[table]
    matched = _gids(before.filter(F.expr(cond.format(a=""))))
    connected = (
        _gids(g.out_degree(table).filter("out_degree > 0"))
        | _gids(g.in_degree(table).filter("in_degree > 0"))
    )
    bad = matched & connected
    stmt = (f"DELETE NODE FROM {table} WHERE {cond.format(a='')}"
            if form == "where" else
            f"DELETE NODE x FROM {table} x WHERE {cond.format(a='x.')}")
    g.begin_transaction()
    try:
        if bad:
            with pytest.raises(GraphViewError,
                               match=f": {len(bad)} matched node"):
                g.execute(stmt)
            assert g.nodes[table] is before
        else:
            g.execute(stmt)
            assert _gids(g.nodes[table]) == _gids(before) - matched
    finally:
        g.rollback()


def _is_checkpoint_scan(df) -> bool:
    plan = df._jdf.queryExecution().analyzed()
    return (plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.children().isEmpty())


def _jobs(spark, fn, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_tables_is_incremental(spark):
    g = _graph(spark)
    g.checkpoint_tables()
    frames = {**g.nodes, **g.edges}
    assert all(_is_checkpoint_scan(df) for df in frames.values())

    g.execute("INSERT INTO P(id) VALUES (7)")
    g.execute("UPDATE P SET id = 70 WHERE id = 7")
    assert _jobs(spark, g.checkpoint_tables, "gv-ckpt-dml") > 0
    now = {**g.nodes, **g.edges}
    assert [k for k in now if now[k] is not frames[k]] == ["P"]
    assert _is_checkpoint_scan(now["P"])
    assert 70 in {r["id"] for r in g.nodes["P"].collect()}

    # nothing changed since: a second call launches no job
    assert _jobs(spark, g.checkpoint_tables, "gv-ckpt-again") == 0

    # DELETE EDGE's own materialization counts as the checkpoint
    g.execute("DELETE EDGE [x]-[Knows]->[y] FROM P x, P y WHERE x.id = 4")
    knows = g.edges["P.Knows"]
    assert _jobs(spark, g.checkpoint_tables, "gv-ckpt-delete-edge") == 0
    assert g.edges["P.Knows"] is knows

    # a frame that rollback restores is not a checkpoint output
    g.execute("INSERT INTO P(id) VALUES (8)")
    pending = g.nodes["P"]
    g.begin_transaction()
    g.checkpoint_tables()
    g.rollback()
    assert g.nodes["P"] is pending
    assert _jobs(spark, g.checkpoint_tables, "gv-ckpt-rollback") > 0
    assert g.nodes["P"] is not pending and _is_checkpoint_scan(g.nodes["P"])
    assert 8 in {r["id"] for r in g.nodes["P"].collect()}

    # a dropped table's frames are not kept alive by the checkpoint record
    refs = [weakref.ref(g.nodes["T"]), weakref.ref(g.edges["T.Tags"])]
    g.execute("DELETE EDGE [x]-[Tags]->[y] FROM T x, P y")
    refs.append(weakref.ref(g.edges["T.Tags"]))
    g.drop_node_table("T")
    frames = now = None
    gc.collect()
    assert all(r() is None for r in refs)
    assert len(g._checkpointed) == len(g.nodes) + len(g.edges)


def test_degree_cache_survives_checkpoint_of_other_tables(spark):
    g = _graph(spark)
    g.checkpoint_tables()
    outd = g.out_degree("T")
    g.execute("INSERT INTO P(id) VALUES (9)")
    g.checkpoint_tables()
    assert g.out_degree("T") is outd


@pytest.fixture()
def plan_jobs(spark, monkeypatch):
    """Spark jobs launched inside each plan_match call of a statement."""
    counts: list[int] = []
    orig = query.plan_match

    def counted(*args, **kwargs):
        out = None

        def run():
            nonlocal out
            out = orig(*args, **kwargs)

        counts.append(_jobs(spark, run, f"gv-plan-{len(counts)}"))
        return out

    monkeypatch.setattr(query, "plan_match", counted)
    return counts


def _no_stats(g, table: str, edge: str) -> bool:
    return (table not in g._node_counts and table not in g._pred_stats
            and edge not in g._edge_counts and not g._edge_samples.get(edge))


def test_one_edge_match_and_delete_edge_read_no_statistics(spark, plan_jobs):
    g = _graph(spark)
    g.execute("INSERT INTO P(id) VALUES (7)")
    g.execute("INSERT EDGE INTO P.Knows SELECT x, y FROM P x, P y "
              "WHERE x.id = 4 AND y.id = 7")
    rows = g.execute(
        "SELECT a.id AS a, b.id AS b FROM P a, P b "
        "MATCH a-[Knows]->b WHERE a.id = 4"
    ).collect()
    assert sorted((r["a"], r["b"]) for r in rows) == [(4, 4), (4, 7)]
    assert plan_jobs == [0]
    assert _no_stats(g, "P", "P.Knows")

    g.execute("INSERT INTO P(id) VALUES (8)")
    g.execute("DELETE EDGE [x]-[Knows]->[y] FROM P x, P y "
              "WHERE x.id = 4 AND y.id = 4")
    assert plan_jobs == [0, 0]
    assert _no_stats(g, "P", "P.Knows")
    rows = g.execute(
        "SELECT a.id AS a, b.id AS b FROM P a, P b MATCH a-[Knows]->b"
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(4, 7)]

    # a real choice (two candidate edges from the root) still reads them
    g.execute(
        "SELECT a.id FROM P a, P b, P c "
        "MATCH a-[Knows]->b, a-[Likes]->c"
    ).collect()
    assert plan_jobs[-1] > 0
    assert "P.Knows" in g._edge_counts and "P" in g._node_counts
