"""MATCH-surface queries over a property graph built from the driver's
TPC-H-ish tables — the correctness-gate entries for SURVEY.md §2.6.

The reference demonstrates its surface on hand-inserted toy graphs
(GraphViewTutorial/InsAndDelTutorial.cs); for the driver's oracle gate we
derive a deterministic graph from the synthetic parquet tables instead, so
every MATCH query has a plain-SQL equivalent DuckDB can run on the same
files:

    Region(r_regionkey, r_name)
    Nation(n_nationkey, n_name)            -[InRegion]->  Region
    Supplier(s_suppkey, s_name)            -[FromNation]-> Nation
    Customer(c_custkey, c_name, ...)       -[FromNation]-> Nation
                                           -[Refers]->     Customer
                                           -[Placed {prio}]-> Orders
    Orders(o_orderkey, o_totalprice)

``Refers`` is a deterministic binary tree: customer k refers customers
2k and 2k+1 (when they exist and differ from k) — giving the var-length
path queries a cycle-free, SQL-reproducible topology.

Exercised reference semantics, with citations:
  - MATCH multi-hop join graph (TranslateMatchClauseVisitor.cs:714-1056)
  - shared-alias cyclic patterns / reverse traversal
    (MatchGraphInterface.cs:118-129)
  - edge attribute predicates ``{attr:value}`` (GraphViewParser.cs:176-191)
  - var-length paths ``*min..max`` (DeployScriptTemplate.cs:208-341)
  - node views + ``_NodeType`` discriminator (View.cs:95-137,300-430)
  - edge views merging physical edge columns (View.cs:830-874)

Scale notes: graph build is pure DataFrame arithmetic — GlobalNodeId =
base + key per-row (no shuffle, no window); edge DataFrames derive from
single parquet scans plus equi-joins. The graph is an app-scoped artifact
(``graphview_spark.artifacts``) holding localCheckpoint'ed node/edge DFs,
the local-mode analog of the parquet tables a persistent deployment would
keep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphview_spark import artifacts
from graphview_spark.graph import GraphDatabase
from graphview_spark.session import read_table

_DDL = [
    """CREATE TABLE [Region] (
        [ColumnRole:"NodeId"] r_regionkey BIGINT,
        [ColumnRole:"Property"] r_name varchar(32) )""",
    """CREATE TABLE [Nation] (
        [ColumnRole:"NodeId"] n_nationkey BIGINT,
        [ColumnRole:"Property"] n_name varchar(32),
        [ColumnRole:"Edge", Reference:"Region"] InRegion VARBINARY(max) )""",
    """CREATE TABLE [Orders] (
        [ColumnRole:"NodeId"] o_orderkey BIGINT,
        [ColumnRole:"Property"] o_totalprice float )""",
    """CREATE TABLE [Supplier] (
        [ColumnRole:"NodeId"] s_suppkey BIGINT,
        [ColumnRole:"Property"] s_name varchar(40),
        [ColumnRole:"Edge", Reference:"Nation"] FromNation VARBINARY(max) )""",
    """CREATE TABLE [Customer] (
        [ColumnRole:"NodeId"] c_custkey BIGINT,
        [ColumnRole:"Property"] c_name varchar(40),
        [ColumnRole:"Property"] c_mktsegment varchar(20),
        [ColumnRole:"Property"] c_acctbal float,
        [ColumnRole:"Edge", Reference:"Nation"] FromNation VARBINARY(max),
        [ColumnRole:"Edge", Reference:"Customer"] Refers VARBINARY(max),
        [ColumnRole:"Edge", Reference:"Orders",
         Attributes:{prio:"string"}] Placed VARBINARY(max) )""",
]

def _gid(base: int, key_col: str):
    # mirrors insert_nodes_df's integral fast path: gid = base + key + 1
    return (F.lit(base + 1) + F.col(key_col)).cast("long")


def tpch_graph(spark: SparkSession, sf_dir: str) -> GraphDatabase:
    """The TPC-H property graph for ``sf_dir``, built once per app."""
    return artifacts.memo(spark, "tpch_graph", sf_dir,
                          lambda: _build_tpch_graph(spark, sf_dir))


def _build_tpch_graph(spark: SparkSession, sf_dir: str) -> GraphDatabase:
    g = GraphDatabase(spark)
    for ddl in _DDL:
        g.create_node_table(ddl)

    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")

    g.insert_nodes_df("Region", region.select("r_regionkey", "r_name"))
    g.insert_nodes_df("Nation", nation.select("n_nationkey", "n_name"))
    g.insert_nodes_df(
        "Orders",
        orders.select("o_orderkey", F.col("o_totalprice").cast("double")),
    )
    g.insert_nodes_df("Supplier", supp.select("s_suppkey", "s_name"))
    g.insert_nodes_df(
        "Customer",
        cust.select(
            "c_custkey", "c_name", "c_mktsegment",
            F.col("c_acctbal").cast("double"),
        ),
    )

    rb = g.catalog.table("Region").gid_base()
    nb = g.catalog.table("Nation").gid_base()
    ob = g.catalog.table("Orders").gid_base()
    sb = g.catalog.table("Supplier").gid_base()
    cb = g.catalog.table("Customer").gid_base()

    g.insert_edges_df(
        "Nation", "InRegion",
        nation.select(
            _gid(nb, "n_nationkey").alias("src"),
            _gid(rb, "n_regionkey").alias("sink"),
        ),
    )
    g.insert_edges_df(
        "Customer", "FromNation",
        cust.select(
            _gid(cb, "c_custkey").alias("src"),
            _gid(nb, "c_nationkey").alias("sink"),
        ),
    )
    g.insert_edges_df(
        "Supplier", "FromNation",
        supp.select(
            _gid(sb, "s_suppkey").alias("src"),
            _gid(nb, "s_nationkey").alias("sink"),
        ),
    )
    g.insert_edges_df(
        "Customer", "Placed",
        orders.select(
            _gid(cb, "o_custkey").alias("src"),
            _gid(ob, "o_orderkey").alias("sink"),
            F.col("o_orderpriority").alias("prio"),
        ),
    )
    # Refers tree: k -> 2k and k -> 2k+1 (two equi-joins, NOT an OR-join —
    # an OR condition would force a nested-loop join at scale)
    keys = cust.select(F.col("c_custkey").alias("k"))
    sinks = cust.select(F.col("c_custkey").alias("k2"))
    refer_parts = [
        keys.join(sinks, sinks.k2 == keys.k * 2 + off)
        .filter(F.col("k2") > F.col("k"))
        .select(
            _gid(cb, "k").alias("src"),
            _gid(cb, "k2").alias("sink"),
        )
        for off in (0, 1)
    ]
    g.insert_edges_df("Customer", "Refers", refer_parts[0].unionByName(refer_parts[1]))

    g.create_node_view("Party", ["Customer", "Supplier"])
    g.create_edge_view(
        "LocatedIn", [("Customer", "FromNation"), ("Supplier", "FromNation")]
    )

    g.checkpoint_tables()
    return g


# The Refers tree, as DuckDB sees it (shared by several oracles).
_ORACLE_REFERS = """
  SELECT a.c_custkey AS src, b.c_custkey AS sink
  FROM customer a JOIN customer b ON b.c_custkey = 2 * a.c_custkey
  WHERE b.c_custkey > a.c_custkey
  UNION ALL
  SELECT a.c_custkey, b.c_custkey
  FROM customer a JOIN customer b ON b.c_custkey = 2 * a.c_custkey + 1
  WHERE b.c_custkey > a.c_custkey
"""


# --------------------------------------------------------------------------
# 2-hop MATCH: C-[FromNation]->N-[InRegion]->R  (§2.6 MATCH clause)
# --------------------------------------------------------------------------

def q_match_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT R.r_name AS region, COUNT(*) AS n_cust
           FROM Customer C, Nation N, Region R
           MATCH C-[FromNation]->N-[InRegion]->R
           GROUP BY R.r_name"""
    )


ORACLE_MATCH_CUSTOMERS_PER_REGION = """
SELECT r_name AS region, count(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------------
# Shared-alias pattern (two paths meeting at N) + reverse traversal
# --------------------------------------------------------------------------

def q_match_shared_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT N.n_name AS nation, COUNT(*) AS n_pairs
           FROM Customer C, Supplier S, Nation N
           MATCH C-[FromNation]->N, S-[FromNation]->N
           GROUP BY N.n_name"""
    )


ORACLE_MATCH_SHARED_NATION = """
SELECT n_name AS nation, count(*) AS n_pairs
FROM customer
JOIN supplier ON c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Edge attribute predicate {prio:'1-URGENT'} (GraphViewParser.cs:176-191)
# --------------------------------------------------------------------------

def q_match_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT C.c_mktsegment AS segment, COUNT(*) AS n_orders,
                  ROUND(SUM(O.o_totalprice), 2) AS total
           FROM Customer C, Orders O
           MATCH C-[Placed {prio:'1-URGENT'}]->O
           GROUP BY C.c_mktsegment"""
    )


ORACLE_MATCH_URGENT_ORDERS = """
SELECT c_mktsegment AS segment, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM customer JOIN orders ON o_custkey = c_custkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# 2-hop over the Refers tree (fixed-length multi-hop self-join)
# --------------------------------------------------------------------------

def q_match_refers_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT A.c_custkey AS src_key, C2.c_custkey AS dst_key
           FROM Customer A, Customer B, Customer C2
           MATCH A-[Refers]->B-[Refers]->C2"""
    )


ORACLE_MATCH_REFERS_2HOP = f"""
WITH refers AS ({_ORACLE_REFERS})
SELECT e1.src AS src_key, e2.sink AS dst_key
FROM refers e1 JOIN refers e2 ON e1.sink = e2.src
"""


# --------------------------------------------------------------------------
# Var-length path *1..3 (DeployScriptTemplate.cs:208-341 recursive CTE)
# --------------------------------------------------------------------------

def q_match_refer_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT P.hops AS hops, B.c_custkey AS dst_key
           FROM Customer A, Customer B
           MATCH A-[Refers*1..3 AS P]->B
           WHERE A.c_custkey = 1"""
    )


ORACLE_MATCH_REFER_PATH = f"""
WITH RECURSIVE refers AS ({_ORACLE_REFERS}),
walk(src, dst, hops) AS (
  SELECT src, sink, 1 FROM refers WHERE src = 1
  UNION ALL
  SELECT w.src, r.sink, w.hops + 1
  FROM walk w JOIN refers r ON r.src = w.dst
  WHERE w.hops < 3
)
SELECT hops, dst AS dst_key FROM walk
"""


# --------------------------------------------------------------------------
# Node view MATCH: Party = Customer ∪ Supplier (View.cs:95-137)
# --------------------------------------------------------------------------

def q_match_party_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT P.NodeType AS party_type, N.n_name AS nation,
                  COUNT(*) AS n_members
           FROM Party P, Nation N
           MATCH P-[FromNation]->N
           GROUP BY P.NodeType, N.n_name"""
    )


ORACLE_MATCH_PARTY_VIEW = """
SELECT party_type, n_name AS nation, count(*) AS n_members
FROM (
  SELECT 'Customer' AS party_type, c_nationkey AS nk FROM customer
  UNION ALL
  SELECT 'Supplier' AS party_type, s_nationkey FROM supplier
) JOIN nation ON nk = n_nationkey
GROUP BY party_type, n_name
"""


# --------------------------------------------------------------------------
# Edge view MATCH: LocatedIn merges both FromNation columns (View.cs:830-874)
# --------------------------------------------------------------------------

def q_match_edge_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT N.n_name AS nation, COUNT(*) AS n_links
           FROM Party P, Nation N
           MATCH P-[LocatedIn]->N
           GROUP BY N.n_name"""
    )


ORACLE_MATCH_EDGE_VIEW = """
SELECT n_name AS nation, count(*) AS n_links
FROM (
  SELECT c_nationkey AS nk FROM customer
  UNION ALL
  SELECT s_nationkey FROM supplier
) JOIN nation ON nk = n_nationkey
GROUP BY n_name
"""


def q_match_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-view MATCH (Party over Customer+Supplier, View.cs:95-137) AND
    edge-view MATCH (LocatedIn merging both FromNation columns,
    View.cs:830-874) in one tagged result — two MATCH statements through
    ``g.execute``, unioned."""
    from pyspark.sql import functions as F

    node_view = q_match_party_view(spark, sf_dir).withColumn(
        "via", F.lit("node_view")
    )
    edge_view = (
        q_match_edge_view(spark, sf_dir)
        .withColumnRenamed("n_links", "n_members")
        .select(F.lit("(all)").alias("party_type"), "nation", "n_members")
        .withColumn("via", F.lit("edge_view"))
    )
    return node_view.unionByName(edge_view)


ORACLE_MATCH_VIEWS = f"""
SELECT party_type, nation, n_members, 'node_view' AS via
FROM ({ORACLE_MATCH_PARTY_VIEW})
UNION ALL
SELECT '(all)' AS party_type, nation, n_links AS n_members, 'edge_view' AS via
FROM ({ORACLE_MATCH_EDGE_VIEW})
"""


# --------------------------------------------------------------------------
# EXISTS subquery against a non-pattern node table inside a MATCH statement
# (reference: arbitrary T-SQL around MATCH, GraphViewParser.cs:1605-1640)
# --------------------------------------------------------------------------

def q_match_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT C.c_custkey AS cust, N.n_name AS nation
           FROM Customer C, Nation N
           MATCH C-[FromNation]->N
           WHERE C.c_custkey <= 200 AND EXISTS (
               SELECT 1 FROM Orders O WHERE O.o_orderkey = C.c_custkey)"""
    )


ORACLE_MATCH_EXISTS_SUBQUERY = """
SELECT c_custkey AS cust, n_name AS nation
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey <= 200
  AND EXISTS (SELECT 1 FROM orders WHERE o_orderkey = c_custkey)
"""


# --------------------------------------------------------------------------
# Qualified JOIN between a MATCH pattern and a plain table in the FROM list
# (reference passthrough, WTableReference.cs:371-431)
# --------------------------------------------------------------------------

def q_match_join_qualified(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT C.c_custkey AS cust, N.n_name AS nation,
                  O.o_totalprice AS price
           FROM Customer C, Nation N LEFT JOIN Orders O
                ON O.o_orderkey = C.c_custkey
           MATCH C-[FromNation]->N
           WHERE C.c_custkey <= 100"""
    )


ORACLE_MATCH_JOIN_QUALIFIED = """
SELECT c.c_custkey AS cust, n_name AS nation, o.o_totalprice AS price
FROM customer c
JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN orders o ON o.o_orderkey = c.c_custkey
WHERE c.c_custkey <= 100
"""


# --------------------------------------------------------------------------
# Reserved InDegree/OutDegree output columns (GraphViewKeywords.cs:40-49)
# --------------------------------------------------------------------------

def q_match_degree_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT C.c_custkey AS cust, C.OutDegree AS outd, C.InDegree AS ind
           FROM Customer C, Nation N
           MATCH C-[FromNation]->N
           WHERE C.c_custkey <= 100"""
    )


ORACLE_MATCH_DEGREE_COLS = f"""
WITH refers AS ({_ORACLE_REFERS}),
rc AS (SELECT src, count(*) AS n FROM refers GROUP BY src),
rp AS (SELECT sink, count(*) AS n FROM refers GROUP BY sink),
oc AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey)
SELECT c.c_custkey AS cust,
       (1 + coalesce(rc.n, 0) + coalesce(oc.n, 0))::BIGINT AS outd,
       coalesce(rp.n, 0)::BIGINT AS ind
FROM customer c
LEFT JOIN rc ON rc.src = c.c_custkey
LEFT JOIN rp ON rp.sink = c.c_custkey
LEFT JOIN oc ON oc.o_custkey = c.c_custkey
WHERE c.c_custkey <= 100
"""


def q_match_view_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree columns over a node VIEW (reserved columns work on views —
    members each carry the physical columns, GraphViewKeywords.cs:40-49,
    View.cs:300-430): per-member degrees union through the view mapping."""
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT P.NodeType AS party_type,
                  SUM(P.OutDegree) AS total_out,
                  SUM(P.InDegree) AS total_in,
                  COUNT(*) AS n
           FROM Party P, Nation N
           MATCH P-[LocatedIn]->N
           GROUP BY P.NodeType"""
    )


ORACLE_MATCH_VIEW_DEGREES = f"""
WITH refers AS ({_ORACLE_REFERS}),
rc AS (SELECT src, count(*) AS n FROM refers GROUP BY src),
rp AS (SELECT sink, count(*) AS n FROM refers GROUP BY sink),
oc AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey)
SELECT 'Customer' AS party_type,
       sum(1 + coalesce(rc.n, 0) + coalesce(oc.n, 0))::BIGINT AS total_out,
       sum(coalesce(rp.n, 0))::BIGINT AS total_in,
       count(*) AS n
FROM customer c
LEFT JOIN rc ON rc.src = c.c_custkey
LEFT JOIN rp ON rp.sink = c.c_custkey
LEFT JOIN oc ON oc.o_custkey = c.c_custkey
UNION ALL
SELECT 'Supplier', count(*)::BIGINT, 0::BIGINT, count(*)
FROM supplier
"""


def q_match_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect WITH-CTEs around MATCH (WSql.cs:215-313): two CTEs each
    containing a MATCH pattern, joined by the trailing statement."""
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """WITH nat_counts AS (
               SELECT N.n_nationkey AS nkey, COUNT(*) AS n_cust
               FROM Customer C, Nation N
               MATCH C-[FromNation]->N
               GROUP BY N.n_nationkey
           ), nat_region AS (
               SELECT N.n_nationkey AS nkey, R.r_name AS region
               FROM Nation N, Region R
               MATCH N-[InRegion]->R
           )
           SELECT nr.region AS region, SUM(nc.n_cust) AS n_cust,
                  COUNT(*) AS n_nations
           FROM nat_counts nc JOIN nat_region nr ON nc.nkey = nr.nkey
           GROUP BY nr.region"""
    )


ORACLE_MATCH_CTE = """
WITH nat_counts AS (
  SELECT c_nationkey AS nkey, count(*) AS n_cust
  FROM customer GROUP BY c_nationkey
), nat_region AS (
  SELECT n_nationkey AS nkey, r_name AS region
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT nr.region AS region, sum(nc.n_cust)::BIGINT AS n_cust,
       count(*) AS n_nations
FROM nat_counts nc JOIN nat_region nr ON nc.nkey = nr.nkey
GROUP BY nr.region
"""


def q_rel_string_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-SQL ``CROSS APPLY STRING_SPLIT`` through the dialect (the
    reference forwards TVF APPLY to SQL Server untranslated,
    WTableReference.cs:241-295; here it rewrites to LATERAL VIEW
    explode(split(...)) — see _rewrite_tvf_apply). Token stats per
    market segment over Customer names ('Customer#000000042' → 2
    tokens). Scale: explode is pipelined map-side work; the groupBy is
    the only shuffle."""
    g = tpch_graph(spark, sf_dir)
    return g.execute(
        """SELECT C.c_mktsegment AS segment,
                  COUNT(*) AS n_tok,
                  COUNT(DISTINCT s.value) AS n_distinct,
                  MIN(LEN(s.value)) AS min_len
           FROM Customer C
           CROSS APPLY STRING_SPLIT(C.c_name, '#') s
           GROUP BY C.c_mktsegment"""
    )


ORACLE_REL_STRING_SPLIT = """
SELECT c_mktsegment AS segment,
       count(*) AS n_tok,
       count(DISTINCT t.value) AS n_distinct,
       min(length(t.value))::BIGINT AS min_len
FROM customer, unnest(string_split(c_name, '#')) AS t(value)
GROUP BY c_mktsegment
"""


# sampling-table estimation path, oracle-gated end-to-end (the
# reference's UpdateEdgeSampling / UpdateTableStatistics mechanism,
# GraphViewConnection.cs:1036-1050, 2933-2993): 1/16 is exactly
# representable in binary, so every scaled estimate below is an exact
# integer on both engines — no rounding-mode exposure.
STATS_SAMPLE_FRACTION = 0.0625


def q_stats_sampled_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-statistics contract, driver-gated: the deterministic
    md5-bucketed edge sample (graph.py sampling_table — the mechanism
    update_statistics(sample_fraction=...) feeds planner estimates
    from) must be REPRODUCIBLE bit-for-bit, which the DuckDB oracle
    proves by rebuilding the identical sample (same GlobalNodeId
    arithmetic, same per-src row_number edge ids, same md5 bucket
    filter) and matching content-sensitive aggregates: sample size,
    distinct sampled sources, min/max sampled sink key, and the scaled
    edge-count / avg-degree estimates the planner consumes. Scale: the
    sample filter is map-only over the decoded edge frame; everything
    downstream touches fraction·|E| rows — the point of sampled stats
    at 100 TB, where an exact edge count is a full pass."""
    g = tpch_graph(spark, sf_dir)
    cb1 = g.catalog.table("Customer").gid_base() + 1
    inv = round(1 / STATS_SAMPLE_FRACTION)  # 16, exact
    s = g.sampling_table("Customer.Refers", STATS_SAMPLE_FRACTION)
    agg = s.agg(
        F.count(F.lit(1)).alias("sample_edges"),
        F.countDistinct("src").alias("distinct_src"),
        (F.min("sink") - F.lit(cb1)).alias("min_sink_key"),
        (F.max("sink") - F.lit(cb1)).alias("max_sink_key"),
    )
    n = g.nodes["Customer"].agg(F.count(F.lit(1)).alias("n_cust"))
    est_edges = F.col("sample_edges") * inv
    # integer round-half-up of 10^4 · est_edges / n_cust (the repo's
    # standard exact-ratio identity — see q_graph_closeness)
    est_avg = F.floor(
        (2 * 10_000 * est_edges + F.col("n_cust"))
        / (2 * F.col("n_cust"))
    )
    return agg.crossJoin(F.broadcast(n)).select(
        "sample_edges",
        est_edges.cast("long").alias("est_edges"),
        "distinct_src",
        "min_sink_key",
        "max_sink_key",
        est_avg.cast("long").alias("est_avg_deg_e4"),
    )


def _oracle_stats_sampled_degree() -> str:
    from graphview_spark.operators.dedup import _sql_hex15_to_int

    # Customer is the 5th table in _DDL → table_id 5 (catalog allocates
    # from 1), gid = (5 << 48) + 1 + c_custkey. Hard-coded here because
    # oracles are static strings; the gate catches any drift.
    cb1 = (5 << 48) + 1
    denom = 1_000_000
    keep = int(STATS_SAMPLE_FRACTION * denom)
    inv = round(1 / STATS_SAMPLE_FRACTION)
    bucket = _sql_hex15_to_int("gsrc::VARCHAR || ':' || edge_id::VARCHAR")
    return f"""
WITH refers AS ({_ORACLE_REFERS}),
e AS (SELECT {cb1} + src AS gsrc, {cb1} + sink AS gsink FROM refers),
eid AS (
  SELECT gsrc, gsink,
         row_number() OVER (PARTITION BY gsrc ORDER BY gsink) AS edge_id
  FROM e
),
samp AS (
  SELECT gsrc, gsink FROM eid
  WHERE {bucket} % {denom} < {keep}
),
a AS (
  SELECT count(*) AS sample_edges,
         count(DISTINCT gsrc) AS distinct_src,
         min(gsink) - {cb1} AS min_sink_key,
         max(gsink) - {cb1} AS max_sink_key
  FROM samp
),
n AS (SELECT count(*) AS n_cust FROM customer)
SELECT sample_edges,
       sample_edges * {inv} AS est_edges,
       distinct_src, min_sink_key, max_sink_key,
       (2 * 10000 * sample_edges * {inv} + n_cust) // (2 * n_cust)
         AS est_avg_deg_e4
FROM a, n
"""


QUERIES = {
    "match_customers_per_region": q_match_customers_per_region,
    "rel_string_split": q_rel_string_split,
    "match_refer_path": q_match_refer_path,
    "match_views": q_match_views,
    "match_exists_subquery": q_match_exists_subquery,
    "match_join_qualified": q_match_join_qualified,
    "match_degree_cols": q_match_degree_cols,
    "match_cte": q_match_cte,
    "match_view_degrees": q_match_view_degrees,
    "stats_sampled_degree": q_stats_sampled_degree,
}

ORACLES = {
    "match_customers_per_region": ORACLE_MATCH_CUSTOMERS_PER_REGION,
    "rel_string_split": ORACLE_REL_STRING_SPLIT,
    "match_refer_path": ORACLE_MATCH_REFER_PATH,
    "match_views": ORACLE_MATCH_VIEWS,
    "match_exists_subquery": ORACLE_MATCH_EXISTS_SUBQUERY,
    "match_join_qualified": ORACLE_MATCH_JOIN_QUALIFIED,
    "match_degree_cols": ORACLE_MATCH_DEGREE_COLS,
    "match_cte": ORACLE_MATCH_CTE,
    "match_view_degrees": ORACLE_MATCH_VIEW_DEGREES,
    "stats_sampled_degree": _oracle_stats_sampled_degree(),
}

# rotated OUT of the driver gate in round 4 (driver-green rounds 2-3;
# still oracle-checked every sweep via extra_queries())
EXTRA_QUERIES = {
    "match_shared_nation": q_match_shared_nation,
    "match_urgent_orders": q_match_urgent_orders,
    "match_refers_2hop": q_match_refers_2hop,
}
EXTRA_ORACLES = {
    "match_shared_nation": ORACLE_MATCH_SHARED_NATION,
    "match_urgent_orders": ORACLE_MATCH_URGENT_ORDERS,
    "match_refers_2hop": ORACLE_MATCH_REFERS_2HOP,
}
