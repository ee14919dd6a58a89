"""A graph-DML statement does only the work its answer depends on: the
DELETE NODE guard reads only the matched nodes' edges, checkpoint_tables
materializes only the tables DML changed, a MATCH with no join-order
choice plans without statistics, and a var-length read materializes no
hop that is read at most twice."""

from __future__ import annotations

import gc
import itertools
import random
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


_GROUPS = itertools.count()


def _jobs(spark, fn, group: str) -> int:
    # a serial suffix keeps groups distinct: names built from id() of a
    # collected object repeat, and the tracker would add the old jobs
    group = f"{group}-{next(_GROUPS)}"
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


# ---------------------------------------------------------------------
# Edge ordinals: one materialization per edge table version
# ---------------------------------------------------------------------
def _ordinal_graph(spark) -> GraphDatabase:
    """One node table with an attributed edge type E, a plain one K
    and an edge view over both. E starts with every pair y <= x in two
    batches of different weight, K with every pair x <> y."""
    g = GraphDatabase(spark)
    g.execute(
        """CREATE TABLE [N] (
            [ColumnRole:"NodeId"] id INT,
            [ColumnRole:"Edge",Reference:"N",Attributes:{w:"int"}]
                E VARBINARY(max),
            [ColumnRole:"Edge",Reference:"N"] K VARBINARY(max) )"""
    )
    g.execute("INSERT INTO N(id) VALUES (1), (2), (3), (4)")
    for w in (1, 0):
        g.execute(f"INSERT EDGE INTO N.E SELECT x, y, {w} "
                  "FROM N x, N y WHERE y.id <= x.id")
    g.execute("INSERT EDGE INTO N.K SELECT x, y FROM N x, N y "
              "WHERE x.id <> y.id")
    g.execute("CREATE EDGE VIEW EV AS SELECT * FROM N.E "
              "UNION ALL SELECT * FROM N.K")
    return g


def _ordinal_rows(g) -> dict:
    rows = {q: sorted(tuple(r) for r in g.edge_with_id(q).collect())
            for q in ("N.E", "N.K")}
    rows["EV"] = sorted(tuple(r) for r in g.edge_view_df("EV").collect())
    return rows


def _ordinal_statements(seed: int, n: int) -> list[str]:
    """Seeded INSERT EDGE / DELETE EDGE / var-length reads over four
    nodes, so (src, sink) pairs repeat within and across batches."""
    rng = random.Random(seed)
    pair = "FROM N x, N y WHERE x.id = {a} AND y.id {op} {b}"
    out = []
    for _ in range(n):
        a, b, w = rng.randint(1, 4), rng.randint(1, 4), rng.randint(0, 2)
        op = rng.choice(["=", "<="])
        kind = rng.random()
        if kind < 0.25:
            out.append(f"INSERT EDGE INTO N.E SELECT x, y, {w} "
                       + pair.format(a=a, op=op, b=b))
        elif kind < 0.45:
            out.append("INSERT EDGE INTO N.K SELECT x, y "
                       + pair.format(a=a, op=op, b=b))
        elif kind < 0.6:
            out.append("DELETE EDGE [x]-[E AS e]->[y] FROM N x, N y "
                       f"WHERE x.id = {a} AND e.edge_id = {rng.randint(1, 3)}")
        elif kind < 0.7:
            out.append(f"DELETE EDGE [x]-[E {{w:{w}}}]->[y] FROM N x, N y "
                       f"WHERE y.id = {b}")
        elif kind < 0.8:
            out.append("DELETE EDGE [x]-[K]->[y] "
                       + pair.format(a=a, op="=", b=b))
        else:
            out.append("SELECT x.id AS s, y.id AS t, p.hops AS hops "
                       "FROM N x, N y MATCH x-[EV*1..2 AS p]->y "
                       f"WHERE x.id = {a}")
    return out


@pytest.mark.parametrize("seed", [0, 1])
def test_pinned_ordinals_match_lazy_window(spark, seed):
    """After every statement of a seeded INSERT EDGE / DELETE EDGE /
    read sequence, the pinned ordinals of each edge type and of the
    edge view equal the lazy window's on a twin graph that never pins
    (statements run under lazy_plans()), and the twins agree on every
    read and every deletion."""
    from graphview_spark.plans.lazy import lazy_plans

    pinned, lazy = _ordinal_graph(spark), _ordinal_graph(spark)
    for stmt in _ordinal_statements(seed, 10):
        got = pinned.execute(stmt)
        with lazy_plans():
            want = lazy.execute(stmt)
            want = want and sorted(want.collect())
        assert (got and sorted(got.collect())) == want, stmt
        for q in ("N.E", "N.K"):
            pinned.edge_ordinals(q, pin=True)
            assert _is_checkpoint_scan(pinned.edge_ordinals(q))
        assert not lazy._ordinals
        assert _ordinal_rows(pinned) == _ordinal_rows(lazy), stmt


def test_delete_edge_after_read_deletes_same_edges(spark):
    """A DELETE EDGE that reuses the ordinals a var-length read pinned
    deletes the same edges as one that derives them itself."""
    graphs = [_ordinal_graph(spark), _ordinal_graph(spark)]
    for g in graphs:
        for w in (2, 1, 2):
            g.execute(f"INSERT EDGE INTO N.E SELECT x, y, {w} "
                      "FROM N x, N y WHERE x.id = 1 AND y.id <= 2")
    read = ("SELECT y.id AS t FROM N x, N y MATCH x-[E*1..2 AS p]->y "
            "WHERE x.id = 1")
    assert graphs[0].execute(read).count() > 0
    assert graphs[0].edges["N.E"] in graphs[0]._ordinals
    before = _ordinal_rows(graphs[1])["N.E"]
    for g in graphs:
        g.execute("DELETE EDGE [x]-[E AS e]->[y] FROM N x, N y "
                  "WHERE x.id = 1 AND e.edge_id IN (2, 5)")
    assert _ordinal_rows(graphs[0]) == _ordinal_rows(graphs[1])
    assert len(_ordinal_rows(graphs[0])["N.E"]) == len(before) - 2


# ---------------------------------------------------------------------
# The benchmark's net-zero cycle: steady partitions and jobs
# ---------------------------------------------------------------------
def _cycle_steps(k: int) -> list[tuple[str, str | None]]:
    """One net-zero cycle on the _graph fixture, in the order of the
    graph_dml benchmark: a fresh node k gains and loses a Knows edge
    from node 4; None is checkpoint_tables()."""
    pair = f"FROM P a, P b WHERE a.id = 4 AND b.id = {k}"
    return [
        ("insert_node", f"INSERT INTO P(id) VALUES ({k})"),
        ("insert_edge", f"INSERT EDGE INTO P.Knows SELECT a, b {pair}"),
        ("update", f"UPDATE P SET id = id WHERE id = {k}"),
        ("read", "SELECT b.id AS dst FROM P a, P b "
                 "MATCH a-[Knows*1..2 AS q]->b WHERE a.id = 4"),
        ("delete_edge", f"DELETE EDGE [a]-[Knows]->[b] {pair}"),
        ("delete_node", f"DELETE NODE FROM P WHERE id = {k}"),
        ("checkpoint", None),
    ]


def _run_cycle(spark, g, k: int) -> dict[str, int]:
    """Jobs per step of cycle k; checks the read-after-write."""
    jobs = {}
    for step, stmt in _cycle_steps(k):
        def run():
            if stmt is None:
                g.checkpoint_tables()
                return
            out = g.execute(stmt)
            if out is not None:
                assert k in {r["dst"] for r in out.collect()}
        jobs[step] = _jobs(spark, run, f"gv-cycle-{id(g)}-{k}-{step}")
    return jobs


def _partitions(g) -> dict[str, int]:
    return {k: df.rdd.getNumPartitions()
            for k, df in {**g.nodes, **g.edges}.items()}


def test_literal_inserts_keep_partition_counts(spark):
    """A literal INSERT INTO onto a checkpointed table adds no
    partition: 20 cycles leave every table's partition count where the
    first cycle's checkpoint left it (each cycle used to add one to P)."""
    g = _graph(spark)
    _run_cycle(spark, g, 100)
    first = _partitions(g)
    for k in range(101, 120):
        _run_cycle(spark, g, k)
    assert _partitions(g) == first


def test_literal_insert_into_checkpointed_empty_table(spark):
    """An empty table's checkpoint can have 0 partitions; a literal
    INSERT INTO after it still lands its rows."""
    g = GraphDatabase(spark)
    g.execute("CREATE TABLE [Q] ([ColumnRole:\"NodeId\"] id INT)")
    g.checkpoint_tables()
    g.execute("INSERT INTO Q(id) VALUES (1), (2)")
    assert sorted(r["id"] for r in g.nodes["Q"].collect()) == [1, 2]


def test_dml_cycle_job_budget(spark):
    """After two warm cycles DELETE EDGE launches at most 6 jobs (its
    match and anti-join read the ordinals the read pinned), and every
    later cycle launches the same number of jobs."""
    g = _graph(spark)
    per_cycle = [_run_cycle(spark, g, k) for k in range(100, 110)]
    assert all(c["delete_edge"] <= 6 for c in per_cycle[2:]), per_cycle
    totals = [sum(c.values()) for c in per_cycle[2:]]
    assert len(set(totals)) == 1, per_cycle


def test_var_length_read_job_budget(spark):
    """From the third cycle on, the *1..2 read-after-write launches at
    most 8 jobs: the ordinal pin and the collect, with both hops lazy
    inside the collect. Checkpointing and probing each hop costs 12."""
    g = _graph(spark)
    per_cycle = [_run_cycle(spark, g, k) for k in range(100, 106)]
    assert all(c["read"] <= 8 for c in per_cycle[2:]), per_cycle


def test_counted_ckpt_counts_in_the_materializing_job(spark):
    """counted_ckpt returns the exact row count of an empty frame and of
    a frame after a shuffle while launching only the jobs an eager
    checkpoint alone launches, and reading the returned frame later does
    not recompute its source (a UDF after the shuffle runs once a row)."""
    from graphview_spark.plans.lazy import counted_ckpt

    calls = spark.sparkContext.accumulator(0)

    def tick(x):
        calls.add(1)
        return x

    def shuffled():
        return (spark.range(0, 100, 1, 4).repartition(3, "id")
                .withColumn("v", F.udf(tick, "long")("id"))
                .filter("id % 2 = 0"))

    def empty():
        return spark.range(0, 10, 1, 2).filter("id > 100").repartition(2)

    for make, n in ((shuffled, 50), (empty, 0)):
        got = {}

        def run():
            got["frame"], got["rows"] = counted_ckpt(make())

        jobs = _jobs(spark, run, f"gv-counted-{n}")
        assert got["rows"] == n
        assert jobs == _jobs(spark, lambda: make().localCheckpoint(eager=True),
                             f"gv-eager-{n}")
        before = calls.value
        assert sorted(r["id"] for r in got["frame"].collect()) == list(
            range(0, 2 * n, 2))
        assert calls.value == before
    assert calls.value == 100  # 50 from counted_ckpt, 50 from the twin
    frame, rows = counted_ckpt(spark.createDataFrame([], "a long"))
    assert rows == 0 and frame.collect() == []


def test_node_view_built_only_for_statements_naming_it(spark, monkeypatch):
    """A statement builds a node view only when it names it: plain SQL,
    a MATCH and an INSERT EDGE ... SELECT over a member table never call
    node_view_df, and a later SELECT over the view sees the rows DML
    added to a member table."""
    g = _graph(spark)
    g.execute("CREATE NODE VIEW PT AS SELECT id FROM P "
              "UNION ALL SELECT id FROM T")
    built = []
    orig = g.node_view_df
    monkeypatch.setattr(g, "node_view_df",
                        lambda name: built.append(name) or orig(name))
    g.execute("INSERT INTO P(id) VALUES (7)")
    assert [r["id"] for r in g.execute(
        "SELECT id FROM P WHERE id > 6").collect()] == [7]
    g.execute("SELECT a.id FROM P a, P b MATCH a-[Knows]->b").collect()
    g.execute("INSERT EDGE INTO P.Knows SELECT x, y FROM P x, P y "
              "WHERE x.id = 7 AND y.id = 7")
    assert built == []
    ids = [r["id"] for r in g.execute("SELECT id FROM PT").collect()]
    assert built == ["PT"] and sorted(ids) == [1, 1, 2, 2, 3, 4, 5, 6, 7]
