"""GraphDatabase — the engine facade (reference: GraphViewConnection +
GraphViewCommand, the user-facing API).

Data model (SURVEY.md §1.4):
- node table  → DataFrame with user properties + ``GlobalNodeId``
  (``table_id << 48 | seq``, the reference's identity-seed scheme,
  GraphViewConnection.cs:878-886)
- edge type   → normalized DataFrame ``(src, edge_id, sink, attrs...)``.
  The reference packs edges into a varbinary adjacency blob per source row
  because SQL Server lacks cheap nested collections
  (NodeTableGraphViewCodeTemplate.cs:212-254); in Spark the relational
  form IS the decoded form. ``edge_id`` keeps the reference's semantics:
  1-based ordinal per (src, edge type) (same file :206-216).
- DML = versioned rewrite of immutable DataFrames (union / anti-join);
  degrees are computed aggregates, not stored columns.

Scale notes: node/edge DataFrames are plain Spark plans — at 100 TB they
live in parquet partitioned/bucketed by GlobalNodeId (src for edges, so
one node's adjacency is co-located, the Spark analog of the in-row
blob). DML chains grow lineage; ``checkpoint_tables`` truncates it.
"""

from __future__ import annotations

import os
import re
import weakref
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphview_spark.catalog import EdgeType, GraphCatalog, NodeTable, StoredProcedure
from graphview_spark.ddl import parse_create_node_table
from graphview_spark.plans import lazy as _lazy

EDGE_META_COLS = ("src", "edge_id", "sink")


class _ShadowedCounts(dict):
    """Edge-count cache that forwards invalidation to the sampling-table
    cache: any pop/clear/overwrite of a count (DML, TRUNCATE, rollback,
    ClearData) also drops that edge's sampling tables AND its
    estimated-count tag. ``update_statistics`` bypasses the forwarding
    with ``dict.__setitem__`` when it stores an estimate DERIVED from
    the live sample (the sample must survive its own estimate), tagging
    the entry in ``estimated`` so integrity guards can tell planner
    stats from exact counts. ``__delitem__``/``update``/``setdefault``
    are covered too — dict subclass methods don't route through
    ``__setitem__``, so without the overrides a ``del`` or ``.update()``
    would leave a stale sampling table alive."""

    def __init__(self, shadow: dict):
        super().__init__()
        self._shadow = shadow
        self.estimated: set = set()

    def _invalidate(self, key):
        self._shadow.pop(key, None)
        self.estimated.discard(key)

    def pop(self, key, *default):
        self._invalidate(key)
        return super().pop(key, *default)

    def clear(self):
        self._shadow.clear()
        self.estimated.clear()
        super().clear()

    def __setitem__(self, key, value):
        self._invalidate(key)
        super().__setitem__(key, value)

    def __delitem__(self, key):
        self._invalidate(key)
        super().__delitem__(key)

    def update(self, *args, **kwargs):
        for k, v in dict(*args, **kwargs).items():
            self[k] = v  # route through __setitem__ for forwarding

    def setdefault(self, key, default=None):
        if key not in self:
            self[key] = default
        return self[key]


class GraphViewError(RuntimeError):
    """Engine-level error — the analog of the reference's
    GraphViewException (GraphView/GraphViewException.cs)."""


# T-SQL type names whose Spark spelling differs. The important one is
# float: T-SQL float is 8-byte (double); Spark's "float" parses as 4-byte
# and would silently halve precision on migrated schemas.
_TSQL_TYPES = {
    "float": "double",
    "real": "float",
    "bit": "boolean",
    "datetime": "timestamp",
    "datetime2": "timestamp",
    "smalldatetime": "timestamp",
    "datetimeoffset": "timestamp",
    "money": "decimal(19,4)",
    "smallmoney": "decimal(10,4)",
    "uniqueidentifier": "string",
    "text": "string",
    "ntext": "string",
    "image": "binary",
    "sql_variant": "string",
}


def _spark_type(sql_type: str) -> T.DataType:
    s = sql_type.strip().lower()
    # n[var]char → [var]char (same semantics on Spark's UTF-8 strings)
    s = re.sub(r"^n(?=(?:var)?char\b)", "", s)
    # (max) length markers have no Spark spelling → unbounded types
    if re.match(r"(?:var)?char\s*\(\s*max\s*\)", s):
        s = "string"
    elif re.match(r"varbinary\s*\(\s*max\s*\)|varbinary\b", s):
        s = "binary"
    base = s.split("(")[0].strip()
    if base in _TSQL_TYPES:
        s = _TSQL_TYPES[base]
    return T._parse_datatype_string(s)


def _sql_lit(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    raise TypeError(f"unsupported literal type {type(v).__name__}")


def _values_df(spark: SparkSession, schema: T.StructType, rows: list[dict]) -> DataFrame:
    """Literal rows as a JVM-side LocalRelation (SQL VALUES inline table).

    ``spark.createDataFrame`` ships literal rows as a pickled Python RDD:
    every downstream scan of that plan launches Python workers per task
    (~0.2s each), and DML/degree plans re-scan it dozens of times — on the
    F1 fixture that made a 4-row DELETE NODE check take ~50s. A VALUES
    relation stays in the JVM, participates in whole-stage codegen, and
    Catalyst constant-folds through it. Falls back to createDataFrame for
    values without a SQL literal form."""
    names = [f.name for f in schema.fields]
    sel = ", ".join(
        f"CAST({n} AS {f.dataType.simpleString()}) AS {n}"
        for n, f in zip(names, schema.fields)
    )
    if not rows:
        nulls = "(" + ", ".join("NULL" for _ in names) + ")"
        return spark.sql(
            f"SELECT {sel} FROM (VALUES {nulls}) AS t({', '.join(names)}) "
            "WHERE 1=0"
        )
    try:
        vals = ", ".join(
            "(" + ", ".join(_sql_lit(r.get(n)) for n in names) + ")" for r in rows
        )
    except TypeError:
        return spark.createDataFrame(rows, schema)
    return spark.sql(f"SELECT {sel} FROM (VALUES {vals}) AS t({', '.join(names)})")


class GraphDatabase:
    """One property-graph database over Spark DataFrames."""

    def __init__(self, spark: SparkSession, case_insensitive: bool = False):
        self.spark = spark
        # SQL Server's default collation is case-insensitive; Spark's is
        # binary. case_insensitive=True declares every string property
        # (and string edge attribute) as `string collate UTF8_LCASE`, so
        # =, LIKE, IN and joins against plain literals behave exactly
        # like the reference's default collation (collation precedence:
        # the column's explicit collation wins over implicit literals).
        self.case_insensitive = case_insensitive
        self.catalog = GraphCatalog()
        self.nodes: dict[str, DataFrame] = {}          # table name -> node DF
        self.edges: dict[str, DataFrame] = {}          # "Table.Edge" -> edge DF
        self._seq: dict[str, int] = {}                 # table name -> next local seq
        self._edge_batch: dict[str, int] = {}          # "Table.Edge" -> next _ord
        # cheap cached cardinalities for the MATCH planner's greedy join
        # order (the reference's AverageDegree statistics,
        # MatchGraphInterface.cs:47-189); invalidated by DML. The edge
        # count cache forwards every invalidation (pop/clear/overwrite)
        # to the sampling-table cache, so a sample can never outlive
        # the data it was drawn from.
        self._edge_samples: dict[str, dict] = {}
        self._edge_counts: dict[str, int] = _ShadowedCounts(
            self._edge_samples)
        # filtered-cardinality stats for pushed MATCH predicates
        # (planner.py histogram-aware ordering), shadowed by the node
        # count cache so node DML drops a table's predicate stats
        self._pred_stats: dict[str, dict[tuple, tuple]] = {}
        self._node_counts: dict[str, int] = _ShadowedCounts(
            self._pred_stats)
        # materialized degree aggregates (the reference keeps degrees as
        # STORED columns, GraphViewParser.cs:1041-1056; we materialize on
        # first use). Keyed by the identity of the contributing edge
        # DataFrames: DML rebinds self.edges entries to new objects, so
        # a stale cache entry can never be returned — no invalidation
        # hooks needed.
        self._degree_cache: dict[tuple, tuple[tuple, tuple, DataFrame]] = {}
        # checkpoint outputs (checkpoint_tables, delete_edges), held weakly
        self._checkpointed: weakref.WeakSet[DataFrame] = weakref.WeakSet()
        # pinned edge ordinals (edge_ordinals(pin=True)), keyed weakly by
        # the edge DataFrame version they were derived from: DML rebinds
        # self.edges entries, so a pin can only serve its own version
        # and dies with it
        self._ordinals: weakref.WeakKeyDictionary[DataFrame, DataFrame] = (
            weakref.WeakKeyDictionary())
        # SELECT INTO targets (reference: plain SQL tables created by
        # SELECT INTO passthrough) — queryable in later statements
        self.derived_tables: dict[str, DataFrame] = {}
        # CREATE INDEX records: index name -> (table, columns). Indexes
        # are physical-layout advice on Spark (see create_index)
        self.indexes: dict[str, tuple[str, list[str]]] = {}
        # transaction snapshots (begin_transaction/commit/rollback)
        self._txn_stack: list[tuple] = []

    # ------------------------------------------------------------------
    # DDL
    # ------------------------------------------------------------------
    def _prop_type(self, t: str) -> str:
        """Apply the session collation policy to a property/attr type."""
        if self.case_insensitive and (
            t == "string" or t.startswith("varchar") or t.startswith("char")
        ):
            # varchar(n) has no collated spelling in Spark's parser —
            # the unbounded collated string is the faithful mapping
            return "string collate UTF8_LCASE"
        return t

    def create_node_table(self, ddl: str) -> NodeTable:
        """Parse the annotated CREATE TABLE dialect and register empty
        node/edge DataFrames (reference: GraphViewConnection.CreateNodeTable,
        GraphViewConnection.cs:823-992 — minus the CLR codegen, reversed
        columns and sampling tables, all obsolete on Spark)."""
        parsed = parse_create_node_table(ddl)
        for c in parsed.columns:
            c.sql_type = self._prop_type(c.sql_type)
            c.attributes = [(a, self._prop_type(t)) for a, t in c.attributes]
        node_id_col = None
        props: list[tuple[str, str]] = []
        edge_defs: list[EdgeType] = []
        for c in parsed.columns:
            if c.role == "nodeid":
                node_id_col = c.name
                props.append((c.name, c.sql_type))
            elif c.role == "property":
                props.append((c.name, c.sql_type))
            else:
                edge_defs.append(
                    EdgeType(
                        name=c.name,
                        source_table=parsed.table,
                        sink_table=c.reference,
                        attributes=c.attributes,
                    )
                )
        table = self.catalog.register_table(parsed.table, node_id_col, props, edge_defs)

        node_fields = [T.StructField("GlobalNodeId", T.LongType(), False)] + [
            T.StructField(n, _spark_type(t), True) for n, t in props
        ]
        self.nodes[table.name] = _values_df(
            self.spark, T.StructType(node_fields), []
        )
        self._seq[table.name] = 0
        for e in edge_defs:
            self.edges[e.qualified] = _values_df(self.spark, self._edge_schema(e), [])
            self._edge_batch[e.qualified] = 0
        return table

    def drop_node_table(self, table_name: str) -> None:
        """DROP NODE TABLE (reference: GraphViewConnection.DropNodeTable,
        GraphViewConnection.cs:1496): removes the table, its edge
        DataFrames and the catalog entry. Refuses while another table's
        edge type references it as sink (the reference maintains
        reversed-edge columns on the sink table and fails the drop inside
        one transaction; our analog is this referential check) or while
        any node/edge view includes it. table_id is never reused, so a
        re-created table gets a fresh 48-bit id range."""
        t = self.catalog.table(table_name)
        low = t.name.lower()
        ref = [
            f"{nt.name}.{e.name}"
            for nt in self.catalog.tables.values()
            if nt.name.lower() != low
            for e in nt.edges.values()
            if e.sink_table.lower() == low
        ]
        if ref:
            raise GraphViewError(
                f"cannot drop node table '{t.name}': referenced by edge "
                f"column(s) {ref}"
            )
        # GlobalNodeView is implicit (auto-maintained union of ALL
        # tables, View.cs:2046-2114) — membership there must not block a
        # drop; it is rebuilt below. User-declared views do block.
        in_views = [
            v.name
            for v in self.catalog.node_views.values()
            if v.name != "GlobalNodeView"
            and any(m.lower() == low for m in v.members)
        ]
        in_edge_views = [
            v.name
            for v in self.catalog.edge_views.values()
            if any(tbl.lower() == low for tbl, _ in v.members)
        ]
        if in_views or in_edge_views:
            raise GraphViewError(
                f"cannot drop node table '{t.name}': member of view(s) "
                f"{in_views + in_edge_views}"
            )
        for e in list(t.edges.values()):
            self.edges.pop(e.qualified, None)
            self._edge_batch.pop(e.qualified, None)
            self._edge_counts.pop(e.qualified, None)
        self.nodes.pop(t.name, None)
        self._seq.pop(t.name, None)
        self._node_counts.pop(t.name, None)
        for k in list(self.catalog.tables):
            if k.lower() == low:
                del self.catalog.tables[k]
        gv = self.catalog.node_views.get("GlobalNodeView")
        if gv is not None:
            if self.catalog.tables:
                # rebuild the implicit all-tables union without the
                # dropped member
                del self.catalog.node_views["GlobalNodeView"]
                self.create_node_view(
                    "GlobalNodeView", list(self.catalog.tables)
                )
            else:
                del self.catalog.node_views["GlobalNodeView"]
        try:
            self.spark.catalog.dropTempView(t.name)
        except Exception:
            pass

    def drop_node_table_column(self, table_name: str, column: str) -> None:
        """ALTER TABLE ... DROP COLUMN (reference:
        GraphViewConnection.DropNodeTableColumn, GraphViewConnection.cs:
        2294): drops a property column or an edge column (with its edge
        DataFrame). The NodeId column and view-referenced columns refuse."""
        t = self.catalog.table(table_name)
        low = column.lower()
        if t.node_id_column and t.node_id_column.lower() == low:
            raise GraphViewError(
                f"cannot drop NodeId column '{column}' of '{t.name}'"
            )
        if low in t.edges:
            in_edge_views = [
                v.name
                for v in self.catalog.edge_views.values()
                if any(
                    tbl.lower() == t.name.lower() and en.lower() == low
                    for tbl, en in v.members
                )
            ]
            if in_edge_views:
                raise GraphViewError(
                    f"cannot drop edge column '{column}': member of edge "
                    f"view(s) {in_edge_views}"
                )
            e = t.edges.pop(low)
            self.edges.pop(e.qualified, None)
            self._edge_batch.pop(e.qualified, None)
            self._edge_counts.pop(e.qualified, None)
            return
        actual = next((n for n, _ in t.properties if n.lower() == low), None)
        if actual is None:
            raise KeyError(f"column '{column}' not found on '{t.name}'")
        used_by = [
            v.name
            for v in self.catalog.node_views.values()
            if any(
                (m or {}).get(t.name, "") and (m or {})[t.name].lower() == low
                for m in v.prop_map.values()
            )
        ]
        if used_by:
            raise GraphViewError(
                f"cannot drop column '{column}': mapped in node view(s) "
                f"{used_by}"
            )
        t.properties = [(n, ty) for n, ty in t.properties if n.lower() != low]
        self.nodes[t.name] = self.nodes[t.name].drop(actual)

    def add_node_table_column(self, table_name: str, coldef_sql: str) -> None:
        """ALTER TABLE ... ADD <annotated column> (reference:
        AddNodeTableColumn, GraphViewConnection.cs:1849): a property
        column null-pads existing rows (map-only projection, no data
        rewrite at scale thanks to columnar parquet + the versioned DF),
        an edge column registers a new empty edge DataFrame. NodeId
        columns cannot be added after creation (the reference's unique
        index would fail on duplicate nulls)."""
        from graphview_spark.ddl import parse_column_def

        t = self.catalog.table(table_name)
        c = parse_column_def(coldef_sql)
        c.sql_type = self._prop_type(c.sql_type)
        c.attributes = [(a, self._prop_type(ty)) for a, ty in c.attributes]
        if c.role == "nodeid":
            raise GraphViewError(
                f"cannot add a NodeId column to existing table '{t.name}'"
            )
        low = c.name.lower()
        if any(p.lower() == low for p, _ in t.properties) or low in t.edges:
            raise GraphViewError(
                f"column '{c.name}' already exists on '{t.name}'"
            )
        if c.role == "property":
            t.properties = list(t.properties) + [(c.name, c.sql_type)]
            self.nodes[t.name] = self.nodes[t.name].withColumn(
                c.name, F.lit(None).cast(_spark_type(c.sql_type))
            )
            return
        if not self.catalog.has_table(c.reference):
            raise GraphViewError(
                f"edge column '{c.name}' references unknown table "
                f"'{c.reference}'"
            )
        e = EdgeType(
            name=c.name,
            source_table=t.name,
            sink_table=self.catalog.table(c.reference).name,
            attributes=c.attributes,
        )
        t.edges[low] = e
        self.edges[e.qualified] = _values_df(
            self.spark, self._edge_schema(e), []
        )
        self._edge_batch[e.qualified] = 0

    def drop_procedure(self, name: str) -> None:
        """DROP PROCEDURE (reference: GraphViewConnection.DropProcedure,
        GraphViewConnection.cs:1699)."""
        low = name.lower()
        for k in list(self.catalog.procedures):
            if k.lower() == low:
                del self.catalog.procedures[k]
                return
        raise KeyError(f"procedure not found: {name}")

    def list_tables(self) -> list[str]:
        """Node-table names (reference: GetNodeTables,
        GraphViewConnection.cs:2708)."""
        return sorted(self.catalog.tables)

    def truncate_table(self, table_name: str) -> None:
        """TRUNCATE TABLE (plain T-SQL passthrough in the reference —
        same row-removal surface as DELETE without WHERE, metadata-speed
        on Spark since DataFrames are versioned, not paged): resets the
        node DF and the table's outgoing edge DFs to empty. Same
        integrity rule as DELETE NODE (TranslateDataModificationVisitor.
        cs:2164-2179): refuses while another table's edges still point at
        this table's nodes — outgoing edges vanish with their source rows
        (they live in the source table's edge list, like the reference's
        varbinary edge columns), but incoming ones would dangle."""
        t = self.catalog.table(table_name)
        low = t.name.lower()
        for nt in self.catalog.tables.values():
            if nt.name.lower() == low:
                continue
            for e in nt.edges.values():
                if e.sink_table.lower() == low and self.edge_count(
                        e.qualified, exact=True):
                    raise GraphViewError(
                        f"cannot truncate '{t.name}': incoming edge(s) via "
                        f"{e.qualified}"
                    )
        empty_nodes = self.spark.createDataFrame([], self.nodes[t.name].schema)
        self.nodes[t.name] = empty_nodes
        self._node_counts[t.name] = 0
        for e in t.edges.values():
            self.edges[e.qualified] = self.spark.createDataFrame(
                [], self.edges[e.qualified].schema
            )
            self._edge_counts[e.qualified] = 0
        # GlobalNodeId sequence intentionally NOT reset: ids are never
        # reused (same policy as drop/re-create's fresh table id range)

    # ------------------------------------------------------------------
    # Transactions (reference: GraphViewConnection.BeginTransaction,
    # GraphViewConnection.cs:242-273 — SQL Server transactions spanning
    # nodes, edges and graphs, README.md 'Transactions' feature)
    # ------------------------------------------------------------------
    def begin_transaction(self) -> None:
        """Open a transaction scope. DataFrames are immutable and every
        mutation is a versioned rebind, so a snapshot of the binding
        dicts (+ catalog) IS the transaction log: COMMIT discards it,
        ROLLBACK rebinds it. Nesting follows T-SQL: inner COMMITs only
        pop the stack; ROLLBACK undoes to the OUTERMOST begin."""
        import copy

        self._txn_stack.append(
            (
                dict(self.nodes),
                dict(self.edges),
                copy.deepcopy(self.catalog),
                dict(self._seq),
                dict(self._edge_batch),
                dict(self.derived_tables),
                dict(self.indexes),
            )
        )

    def commit(self) -> None:
        if not self._txn_stack:
            raise GraphViewError("COMMIT without BEGIN TRANSACTION")
        self._txn_stack.pop()

    def rollback(self) -> None:
        if not self._txn_stack:
            raise GraphViewError("ROLLBACK without BEGIN TRANSACTION")
        nodes, edges, catalog, seq, batch, derived, indexes = self._txn_stack[0]
        self._txn_stack.clear()
        self.nodes = nodes
        self.edges = edges
        self.catalog = catalog
        self._seq = seq
        self._edge_batch = batch
        self.derived_tables = derived
        self.indexes = indexes
        self._edge_counts.clear()
        self._node_counts.clear()

    def clear(self) -> None:
        """Drop everything — the reference's ClearData /
        ClearGraphDatabase (GraphViewConnection.cs; tutorials call it on
        open and on close). Node tables, edges, views, procedures,
        derived tables and indexes all go; table ids restart."""
        for name in list(self.catalog.tables):
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:
                pass
        for name in list(self.derived_tables):
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:
                pass
        self.nodes.clear()
        self.edges.clear()
        self._seq.clear()
        self._edge_batch.clear()
        self._edge_counts.clear()
        self._node_counts.clear()
        self.derived_tables.clear()
        self.indexes.clear()
        self.catalog = GraphCatalog()

    def create_index(self, index_name: str, table_name: str,
                     columns: list[str]) -> None:
        """CREATE INDEX (T-SQL passthrough in the reference — indexes
        live in SQL Server; GraphView's own metadata tables get clustered
        PKs at GraphViewConnection.cs:300-360). Spark has no secondary
        indexes: the physical analogs are bucketed/sorted persistence
        (``save_bucketed`` — co-located, exchange-free MATCH joins) and
        parquet min/max pruning, both already applied. The statement is
        accepted and recorded in the catalog so reference DDL scripts run
        unchanged, and validated against real columns so typos fail like
        they would on SQL Server."""
        t = self.catalog.table(table_name)
        known = {n.lower() for n, _ in t.properties}
        bad = [c for c in columns if c.lower() not in known]
        if bad:
            raise GraphViewError(
                f"CREATE INDEX on '{t.name}': unknown column(s) {bad}"
            )
        self.indexes[index_name] = (t.name, list(columns))

    @staticmethod
    def _edge_schema(e: EdgeType) -> T.StructType:
        """Physical storage schema: ``edge_id`` is NOT stored — exactly like
        the reference, where EdgeId is the running ordinal assigned during
        adjacency-blob decode (NodeTableGraphViewCodeTemplate.cs:212-254).
        We store ``_ord`` (insertion batch number) and derive edge_id as
        ``row_number() over (partition by src order by _ord, sink)`` on
        demand — this keeps INSERT EDGE a pure lazy union (no read of the
        current edge DF, no plan doubling, no job per statement)."""
        return T.StructType(
            [
                T.StructField("src", T.LongType(), False),
                T.StructField("sink", T.LongType(), False),
                T.StructField("_ord", T.LongType(), False),
            ]
            + [T.StructField(n, _spark_type(t), True) for n, t in e.attributes]
        )

    @staticmethod
    def _edge_id_window(df: DataFrame):
        """Window assigning edge_id per src. Ordering includes every attr
        column so edge_id is a stable function of the stored rows: two
        edges with the same (src, sink) in one batch but different attrs
        order deterministically; fully identical rows are interchangeable,
        so any residual tie is unobservable."""
        attr_cols = [c for c in df.columns if c not in ("src", "sink", "_ord")]
        return W.partitionBy("src").orderBy(
            F.col("_ord"), F.col("sink"), *[F.col(c) for c in attr_cols]
        )

    def edge_ordinals(self, qualified: str, pin: bool = False) -> DataFrame:
        """``edges[qualified]`` plus its ``edge_id`` column: the pinned
        frame of the current version if one exists, else the lazy
        window. ``pin=True`` (outside ``lazy_plans()``) materializes the
        window once for this version, so every later consumer of the
        same version — a var-length BFS, DELETE EDGE's match and its
        anti-join — reads the same ordinals instead of re-deriving
        them. Only consumers that execute anyway pin; a plan-only
        consumer (``plan_match``) must stay job-free."""
        df = self.edges[qualified]
        out = self._ordinals.get(df)
        if out is not None:
            return out
        out = df.withColumn(
            "edge_id", F.row_number().over(self._edge_id_window(df)).cast("long"))
        if pin:
            got = _lazy.pin(out)
            if got is not out:
                self._ordinals[df] = got
            out = got
        return out

    def edge_with_id(self, qualified: str) -> DataFrame:
        """The user-visible edge DataFrame: (src, edge_id, sink, attrs...).
        The window shuffles by ``src`` — the same partitioning every edge
        join uses, so at scale this folds into the existing exchange."""
        df = self.edge_ordinals(qualified)
        attr_cols = [c for c in df.columns
                     if c not in ("src", "sink", "_ord", "edge_id")]
        return df.select("src", "edge_id", "sink", *attr_cols)

    # ------------------------------------------------------------------
    # Node ingestion
    # ------------------------------------------------------------------
    def insert_nodes(self, table_name: str, rows: list[dict]) -> None:
        """INSERT INTO (driver-side literal rows — the tutorial's path,
        InsAndDelTutorial.cs:30-36)."""
        t = self.catalog.table(table_name)
        if t.node_id_column is not None:
            for r in rows:
                if r.get(t.node_id_column) is None:
                    # reference: NodeId column is NOT NULL + unique
                    # (GraphViewParser.cs:1133-1162)
                    raise ValueError(
                        f"INSERT into '{t.name}' requires NodeId column "
                        f"'{t.node_id_column}'"
                    )
        base = t.gid_base()
        start = self._seq[t.name]
        data = []
        for i, r in enumerate(rows):
            row = {"GlobalNodeId": base + start + i + 1}
            for name, _typ in t.properties:
                row[name] = r.get(name)
            data.append(row)
        self._seq[t.name] = start + len(rows)
        self._node_counts.pop(t.name, None)
        cur = self.nodes[t.name]
        out = cur.unionByName(_values_df(self.spark, cur.schema, data))
        # each VALUES relation is one more partition, which checkpoints
        # keep forever; fold it back where the table's partition count
        # is known without a job (a checkpoint output; an empty one can
        # have 0 partitions, and coalesce needs a positive count)
        if cur in self._checkpointed:
            parts = cur.rdd.getNumPartitions()
            if parts:
                out = out.coalesce(parts)
        self.nodes[t.name] = out

    def insert_nodes_df(self, table_name: str, df: DataFrame) -> None:
        """Bulk node ingestion from a DataFrame (reference: BulkInsertNode,
        BulkInsert.cs:486-770). GlobalNodeId is assigned as
        ``base + row_number`` ordered by the NodeId column when present —
        deterministic; for id-less tables a zipWithIndex-style assignment
        keeps it distributed (no single-partition window)."""
        t = self.catalog.table(table_name)
        base = t.gid_base()
        start = self._seq[t.name]
        cols = [n for n, _ in t.properties]
        df = df.select(*cols)
        nid_integral = False
        if t.node_id_column:
            nid_field = df.schema[t.node_id_column]
            nid_integral = isinstance(
                nid_field.dataType,
                (T.IntegerType, T.LongType, T.ShortType, T.ByteType),
            )
        if nid_integral:
            # Scale fast path: an integral NodeId already IS a unique local
            # sequence — GlobalNodeId = base + start + nodeid + 1 is computed
            # per-row with NO shuffle (the global row_number window below
            # would funnel 100 TB through one task). The +1 matches
            # insert_nodes' convention (gid = base + seq + i + 1), so a
            # NodeId of 0 after prior driver inserts cannot collide with
            # the current max gid.
            lo, hi = df.agg(
                F.min(F.col(t.node_id_column)), F.max(F.col(t.node_id_column))
            ).first()
            if lo is not None and int(lo) < 0:
                raise GraphViewError(
                    f"bulk load into {t.name}: negative NodeId {lo} would "
                    f"produce a GlobalNodeId below the table's id base "
                    f"(tables own disjoint 48-bit id ranges)"
                )
            if hi is not None and start + int(hi) + 1 >= (1 << 48):
                raise GraphViewError(
                    f"bulk load into {t.name}: NodeId {hi} overflows the "
                    f"table's 48-bit id range (max local seq {(1 << 48) - 1})"
                )
            with_id = df.withColumn(
                "GlobalNodeId",
                (F.lit(base + start + 1) + F.col(t.node_id_column)).cast("long"),
            )
            self._seq[t.name] = start + int(hi or 0) + 1
            self._node_counts.pop(t.name, None)
            self.nodes[t.name] = self.nodes[t.name].unionByName(
                with_id.select("GlobalNodeId", *cols)
            )
            return
        # Non-integral NodeId (or none): contiguous id assignment fully
        # JVM-side — spark_partition_id + one tiny per-partition count job
        # + in-partition row_number. No RDD/Python round-trip (pickling
        # every row through Python is per-row-UDF cost class at 100 TB)
        # and no global window (single-task funnel).
        if t.node_id_column:
            # deterministic: range partitioning by NodeId + in-partition
            # order by NodeId gives a stable global order; at least the
            # cluster's parallelism so small files still load wide
            nparts = max(
                df.rdd.getNumPartitions(),
                self.spark.sparkContext.defaultParallelism,
            )
            df = df.repartitionByRange(nparts, F.col(t.node_id_column))
        # pin partition contents: the range partitioner samples boundaries,
        # so the counts job and the id job must not recompute it differently
        part = df.withColumn("_pid", F.spark_partition_id()).persist()
        pid_counts = sorted(
            part.groupBy("_pid").count().collect(), key=lambda r: r["_pid"]
        )
        max_pid = pid_counts[-1]["_pid"] if pid_counts else 0
        cum, total = [0] * (int(max_pid) + 1), 0
        for r in pid_counts:
            cum[int(r["_pid"])] = total
            total += int(r["count"])
        order_key = (
            F.col(t.node_id_column)
            if t.node_id_column
            else F.monotonically_increasing_id()
        )
        w = W.partitionBy("_pid").orderBy(order_key)
        # per-partition start offsets as a constant array literal indexed by
        # pid (one long per partition — a few KB even at 100k partitions);
        # keeps the whole assignment inside codegen, no side DataFrame
        with_id = (
            part.withColumn("_off", F.element_at(F.lit(cum), F.col("_pid") + 1))
            .withColumn("_rn", F.row_number().over(w))
            .withColumn(
                "GlobalNodeId",
                (F.lit(base + start) + F.col("_off") + F.col("_rn")).cast("long"),
            )
        )
        self._seq[t.name] = start + total
        self._node_counts.pop(t.name, None)
        self.nodes[t.name] = self.nodes[t.name].unionByName(
            self._cast_to(
                with_id.select("GlobalNodeId", *cols), self.nodes[t.name].schema
            )
        )

    # ------------------------------------------------------------------
    # Edge ingestion
    # ------------------------------------------------------------------
    def insert_edges_df(self, source_table: str, edge_name: str, pairs: DataFrame) -> None:
        """INSERT EDGE from a DataFrame of (src, sink, attrs...) global ids.

        Reference semantics (TranslateDataModificationVisitor.cs:183-996):
        group new pairs by src, append to the adjacency blob, assign
        EdgeIds continuing each source's ordinal. Here: tag the batch with
        a monotone ``_ord``; ``edge_with_id`` derives the per-src ordinal
        lazily (row_number over (_ord, sink)) — so INSERT EDGE is a pure
        lazy union: no read of the current edge DF, no job per statement,
        no plan doubling.
        """
        e = self.catalog.resolve_edge(source_table, edge_name)
        cur = self.edges[e.qualified]
        attr_cols = [n for n, _ in e.attributes]
        pairs = pairs.select("src", "sink", *[c for c in attr_cols if c in pairs.columns])
        for c in attr_cols:
            if c not in pairs.columns:
                pairs = pairs.withColumn(c, F.lit(None))
        batch = self._edge_batch.get(e.qualified, 0)
        self._edge_batch[e.qualified] = batch + 1
        self._edge_counts.pop(e.qualified, None)
        new_edges = pairs.withColumn("_ord", F.lit(batch).cast("long"))
        self.edges[e.qualified] = cur.unionByName(
            self._cast_to(new_edges, self._edge_schema(e))
        )

    def _cast_to(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    # ------------------------------------------------------------------
    # Planner statistics (cached counts — the Spark stand-in for the
    # reference's AverageDegree metadata, MatchGraphInterface.cs:47-189)
    # ------------------------------------------------------------------
    def edge_count(self, qualified: str, exact: bool = False) -> int:
        """Cached edge count. ``exact=True`` refuses to serve a sampled
        ESTIMATE (update_statistics(sample_fraction=...) entries) —
        integrity guards (TRUNCATE/DELETE NODE) must not let a
        0-row sample of a non-empty edge table silently authorize a
        destructive operation; they re-count instead. The exact
        re-count replaces the estimate (strictly better information,
        same cache slot) without evicting the live sample."""
        n = self._edge_counts.get(qualified)
        if n is None or (exact and qualified in self._edge_counts.estimated):
            n = self.edges[qualified].count()
            # lazy cache POPULATION, not a data change: bypass
            # _ShadowedCounts' invalidation forwarding so counting an
            # edge table doesn't evict its freshly built sampling table
            dict.__setitem__(self._edge_counts, qualified, n)
            self._edge_counts.estimated.discard(qualified)
        return n

    def node_count(self, table_name: str) -> int:
        name = self.catalog.table(table_name).name
        n = self._node_counts.get(name)
        if n is None:
            n = self.nodes[name].count()
            # lazy cache POPULATION, not a data change: don't forward
            # invalidation (same rule as edge_count)
            dict.__setitem__(self._node_counts, name, n)
        return n

    _SAMPLING_DENOM = 1_000_000

    def sampling_table(
        self, qualified: str, fraction: float = 0.001
    ) -> DataFrame:
        """Reference parity — the per-edge-column sampling table
        (`<schema>_<table>_<edge>_Sampling` of decoded (Src, EdgeId,
        Sink, attrs), GraphViewConnection.cs:1036-1050; refreshed by
        UpdateTableStatistics, GraphViewConnection.cs:2933-2993): a
        MATERIALIZED sample of the decoded edge frame. Two deliberate
        differences from the reference: the sample is deterministic —
        md5(src:edge_id) bucketing, not the reference's
        CHECKSUM(NEWID()) LocalNodeId — so refreshes are reproducible
        and testable; and it is an in-memory localCheckpoint keyed by
        (edge, fraction) rather than a SQL table, invalidated by every
        path that invalidates the count caches (DML, TRUNCATE,
        rollback, ClearData — see _ShadowedCounts). Scale: the filter
        is map-only over the decoded frame and the materialized sample
        holds fraction·|E| rows."""
        if not 0 < fraction <= 1:
            raise GraphViewError(
                f"sampling fraction must be in (0, 1], got {fraction}")
        if int(fraction * self._SAMPLING_DENOM) == 0:
            # below the hash-bucketing resolution the filter would keep
            # NOTHING, and update_statistics would then cache a 0-row
            # estimate the planner believes
            raise GraphViewError(
                f"sampling fraction {fraction} is below the 1/"
                f"{self._SAMPLING_DENOM} bucketing resolution")
        per_edge = self._edge_samples.setdefault(qualified, {})
        hit = per_edge.get(fraction)
        if hit is not None:
            return hit
        df = self.edge_with_id(qualified)
        key = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("src"), F.col("edge_id"))),
                1, 15,
            ), 16, 10,
        ).cast("long") % self._SAMPLING_DENOM
        filtered = df.filter(key < int(fraction * self._SAMPLING_DENOM))
        if _lazy.is_lazy():  # plan audit: full pipeline, no cache, no jobs
            return filtered
        sample = filtered.localCheckpoint(eager=True)
        per_edge[fraction] = sample
        return sample

    def edge_histogram(
        self, qualified: str, buckets: int = 64, fraction: float = 0.001,
        col: str = "sink",
    ) -> DataFrame:
        """The reference's optimizer histograms, from the sampling
        table (Statistics.cs builds per-edge-column histograms over
        sampled GlobalNodeIds for join selectivity): equi-width buckets
        over the sample's ``col`` (sink or src) id range, counts scaled
        by 1/fraction to full-table estimates. Returns (bucket, lo, hi,
        est_edges) — est_edges for a predicate's id range is the
        selectivity input the MATCH planner's histogram-aware ordering
        consumes (planner.py _filter_selectivity, the analog of
        Statistics.cs:68-216's histogram merge), with AQE correcting at
        runtime (SURVEY §4.2)."""
        if col not in ("src", "sink"):
            raise GraphViewError(
                f"edge_histogram column must be src or sink, got {col!r}")
        s = self.sampling_table(qualified, fraction)
        row = s.agg(F.min(col).alias("lo"), F.max(col).alias("hi")
                    ).first()
        if row["lo"] is None:
            return self.spark.createDataFrame(
                [], "bucket int, lo long, hi long, est_edges long")
        lo, hi = row["lo"], row["hi"]
        width = max((hi - lo) // buckets + 1, 1)
        b = F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int")
        return (
            s.groupBy(b.alias("bucket"))
            .agg(F.round(F.count(F.lit(1)) / fraction, 0)
                 .cast("long").alias("est_edges"))
            .select(
                "bucket",
                (F.lit(lo) + F.col("bucket").cast("long") * width)
                .alias("lo"),
                (F.lit(lo) + (F.col("bucket") + 1).cast("long") * width - 1)
                .alias("hi"),
                "est_edges",
            )
        )

    def edge_histogram_rows(
        self, qualified: str, buckets: int = 64, fraction: float = 0.001,
        col: str = "sink",
    ) -> list[tuple[int, int, int]]:
        """Collected (lo, hi, est_edges) rows of :meth:`edge_histogram`,
        cached alongside the sampling table it derives from (same
        invalidation: any DML on the edge drops both). At most
        ``buckets`` rows — driver-side selectivity lookups cost nothing
        in steady state."""
        per_edge = self._edge_samples.setdefault(qualified, {})
        key = ("hist", buckets, fraction, col)
        hit = per_edge.get(key)
        if hit is None:
            hit = [
                (r["lo"], r["hi"], r["est_edges"])
                for r in self.edge_histogram(
                    qualified, buckets, fraction, col).collect()
            ]
            per_edge[key] = hit
        return hit

    def update_statistics(
        self, table_name: str | None = None,
        sample_fraction: float | None = None,
    ) -> dict:
        """Refresh the planner's cached statistics (reference:
        UpdateTableStatistics / UpdateEdgeAverageDegree,
        GraphViewConnection.cs:2747-2931, which maintain per-edge average
        degrees in _EdgeAverageDegreeCollection for the cost-based join
        order). Here the same numbers drive the greedy MATCH join order
        (matching/planner.py:148-153); they self-populate lazily and DML
        invalidates them, so this call is only needed to force an eager
        refresh (e.g. after bulk load, before a planning-heavy batch).
        Returns {table: rows} ∪ {edge: (rows, avg_out_degree)}.

        ``sample_fraction`` switches edge statistics to the reference's
        actual sampling-table mechanism: edge row counts (and the
        average degrees derived from them) are ESTIMATED as
        sample_count / fraction from :meth:`sampling_table` instead of
        exact scans — at 100 TB an exact edge count is a full pass,
        the estimate touches fraction·|E| rows. Node counts stay exact
        (the reference samples only edge columns). Estimates populate
        the same planner caches the exact path fills."""
        tables = (
            [self.catalog.table(table_name)]
            if table_name
            else list(self.catalog.tables.values())
        )
        out: dict = {}
        for t in tables:
            self._node_counts.pop(t.name, None)
            n = self.node_count(t.name)
            out[t.name] = n
            for e in t.edges.values():
                self._edge_counts.pop(e.qualified, None)
                if sample_fraction is not None:
                    ns = self.sampling_table(
                        e.qualified, sample_fraction).count()
                    ne = int(round(ns / sample_fraction))
                    # the estimate is DERIVED from the live sample:
                    # bypass _ShadowedCounts' invalidation forwarding,
                    # and tag it so integrity guards can re-count
                    dict.__setitem__(self._edge_counts, e.qualified, ne)
                    self._edge_counts.estimated.add(e.qualified)
                else:
                    ne = self.edge_count(e.qualified)
                out[e.qualified] = (ne, round(ne / n, 4) if n else 0.0)
        return out

    # ------------------------------------------------------------------
    # Degrees (computed, not stored — SURVEY §1.4)
    # ------------------------------------------------------------------
    def _degree_member_tables(self, name: str) -> list[str]:
        """Resolve a node table OR node view name to its physical member
        tables (degree columns work on views too — each member carries the
        physical columns, GraphViewKeywords.cs:40-49, View.cs:300-430)."""
        if self.catalog.has_table(name):
            return [self.catalog.table(name).name]
        return list(self.catalog.node_view(name).members)

    def out_degree(self, table_name: str, edge_name: str | None = None) -> DataFrame:
        """(GlobalNodeId, out_degree) for one edge type or all edges of the
        table (or of every member table when given a node view). Reference
        stores <Edge>OutDegree per row (GraphViewParser.cs:1113-1131); we
        aggregate on demand."""
        srcs = []
        for member in self._degree_member_tables(table_name):
            t = self.catalog.table(member)
            names = [edge_name] if edge_name else list(t.edges)
            srcs.extend(
                self.edges[t.edges[n.lower()].qualified] for n in names
            )
        key = ("out", table_name.lower(), (edge_name or "").lower())
        return self._degree(key, srcs, "src", "out_degree")

    def in_degree(self, table_name: str) -> DataFrame:
        """(GlobalNodeId, in_degree) across ALL edge types that reference
        this table or any member of the given node view (the reference
        maintains InDegree transactionally on the sink table,
        TranslateDataModificationVisitor.cs:2085-2137)."""
        sinks = {m.lower() for m in self._degree_member_tables(table_name)}
        srcs = []
        for nt in self.catalog.tables.values():
            for e in nt.edges.values():
                if e.sink_table.lower() in sinks:
                    srcs.append(self.edges[e.qualified])
        return self._degree(("in", table_name.lower(), ""), srcs, "sink",
                            "in_degree")

    def _degree(self, key: tuple, srcs: list[DataFrame], end: str,
                name: str) -> DataFrame:
        """(GlobalNodeId, ``name``): the number of rows per ``end`` id
        across the edge DataFrames ``srcs``, materialized and cached
        under ``key`` for as long as ``srcs`` are the same objects."""
        if not srcs:
            return self.spark.createDataFrame([], f"GlobalNodeId long, {name} long")
        ids = tuple(id(df) for df in srcs)
        hit = self._degree_cache.get(key)
        if hit is not None and hit[0] == ids:
            return hit[2]
        # union BEFORE aggregating: one map-side-combined shuffle total,
        # instead of one per edge type plus a re-aggregation; the
        # materialized result is what every later query's degree join
        # scans (bench: the view-degree union was recomputing this per
        # query)
        agg = (
            reduce(DataFrame.unionByName, [p.select(end) for p in srcs])
            .groupBy(end)
            .agg(F.count(F.lit(1)).alias(name))
            .withColumnRenamed(end, "GlobalNodeId")
            .localCheckpoint(eager=True)
        )
        # the contributing DFs are pinned in the entry so their id()s
        # can't be recycled by GC into a false cache hit
        self._degree_cache[key] = (ids, tuple(srcs), agg)
        return agg

    # ------------------------------------------------------------------
    # Graph DML (SURVEY §2.6)
    # ------------------------------------------------------------------
    def delete_edges(self, source_table: str, edge_name: str, matched: DataFrame) -> None:
        """DELETE EDGE: anti-join the edge DF's ordinals
        (``edge_ordinals``: the pinned frame when an earlier read of
        this version pinned it) against matched
        (src, edge_id) pairs. The reference appends tombstones to
        DeleteCol and filters them in the decoder
        (NodeTableGraphViewCodeTemplate.cs:186-207); immutable DataFrames
        need no tombstones — the rewrite IS the delete."""
        e = self.catalog.resolve_edge(source_table, edge_name)
        survivors = self.edge_ordinals(e.qualified).join(
            matched.select("src", "edge_id"), ["src", "edge_id"], "left_anti"
        ).drop("edge_id")
        # materialize: matched usually derives from this same edge DF, and
        # remaining edges renumber on the next derive (the reference's
        # Recycle compaction, GraphViewConnection.cs:2995-3075)
        self._edge_counts.pop(e.qualified, None)
        self.edges[e.qualified] = self._checkpoint(survivors)

    def delete_nodes(self, table_name: str, cond) -> None:
        """DELETE NODE ... WHERE cond. The reference conjoins
        ``InDegree = 0 AND every OutDegree = 0`` to the WHERE clause, then
        runs a check query and RAISES if any matched node still has edges
        (TranslateDataModificationVisitor.cs:2085-2188, the thrown message
        is '...still has/have ingoing or outdoing edge(s)'; tutorial
        InsAndDelTutorial.cs:105-108). Nothing is deleted on failure —
        statement-level atomicity, same as the reference's transaction."""
        t = self.catalog.table(table_name)
        self._delete_unconnected(
            t, self.nodes[t.name].filter(cond).select("GlobalNodeId"))

    def delete_nodes_df(self, table_name: str, matched: DataFrame) -> None:
        """DELETE NODE by a DataFrame of GlobalNodeIds (the join-delete
        form, ``DELETE x FROM T x JOIN ...``), guarded as ``delete_nodes``."""
        t = self.catalog.table(table_name)
        self._delete_unconnected(
            t, matched.select("GlobalNodeId").distinct())

    def _delete_unconnected(self, t: NodeTable, matched: DataFrame) -> None:
        """The DELETE NODE guard, then the delete. SURVEY §2.6 maps the
        reference's degree check to a semi-join: the matched ids against
        ``src`` of the table's own edge types and ``sink`` of every edge
        type referencing it, so the check reads only matched nodes'
        edges, never a whole-table degree aggregate."""
        low = t.name.lower()
        ends = [
            self.edges[e.qualified].select(F.col(end).alias("GlobalNodeId"))
            for nt in self.catalog.tables.values()
            for e in nt.edges.values()
            for end, tbl in (("src", e.source_table), ("sink", e.sink_table))
            if tbl.lower() == low
        ]
        n_bad = ends and (
            reduce(DataFrame.unionByName, ends)
            .join(matched, "GlobalNodeId", "left_semi")
            .distinct()
            .count()
        )
        if n_bad:
            raise GraphViewError(
                f"DELETE NODE on '{t.name}': {n_bad} matched node(s) still "
                "has/have ingoing or outdoing edge(s)"
            )
        self._node_counts.pop(t.name, None)
        self.nodes[t.name] = self.nodes[t.name].join(
            matched, "GlobalNodeId", "left_anti")

    def update_nodes(self, table_name: str, assignments: dict, cond) -> None:
        """UPDATE of node properties (reference: plain T-SQL UPDATE passed
        through, WDataModification.cs:386+). Versioned overwrite of the
        node DataFrame: a single map-only projection — each assigned
        column becomes ``when(cond, expr).otherwise(old)`` — no join, no
        shuffle, scale-free. ``assignments`` maps property name → SQL
        expression string (may reference other columns) or Column."""
        t = self.catalog.table(table_name)
        prop_types = dict(t.properties)
        unknown = [c for c in assignments if c not in prop_types]
        if unknown:
            raise GraphViewError(
                f"UPDATE on '{t.name}': unknown column(s) {unknown}"
            )
        cond_col = F.expr(cond) if isinstance(cond, str) else cond
        cols = [F.col("GlobalNodeId")]
        for p, typ in t.properties:
            if p in assignments:
                v = assignments[p]
                vcol = F.expr(v) if isinstance(v, str) else v
                cols.append(
                    F.when(cond_col, vcol.cast(_spark_type(typ)))
                    .otherwise(F.col(p))
                    .alias(p)
                )
            else:
                cols.append(F.col(p))
        self.nodes[t.name] = self.nodes[t.name].select(*cols)

    def update_nodes_from(self, table_name: str, updates: DataFrame,
                          set_cols: list[str]) -> None:
        """UPDATE ... FROM (reference: full T-SQL UPDATE passthrough incl.
        FROM/JOIN, WDataModification.cs:386+): ``updates`` carries one row
        per matched node — ``GlobalNodeId``, ``__match`` (lit true) and one
        ``__set_<col>`` value column per assigned property. One equi-join
        on GlobalNodeId (the update side is usually small → AQE broadcasts
        it), then a map-only overwrite of the assigned columns."""
        t = self.catalog.table(table_name)
        prop_types = dict(t.properties)
        unknown = [c for c in set_cols if c not in prop_types]
        if unknown:
            raise GraphViewError(
                f"UPDATE on '{t.name}': unknown column(s) {unknown}"
            )
        joined = self.nodes[t.name].join(updates, "GlobalNodeId", "left")
        cols = [F.col("GlobalNodeId")]
        for p, typ in t.properties:
            if p in set_cols:
                cols.append(
                    F.when(
                        F.col("__match"),
                        F.col(f"__set_{p}").cast(_spark_type(typ)),
                    )
                    .otherwise(F.col(p))
                    .alias(p)
                )
            else:
                cols.append(F.col(p))
        self.nodes[t.name] = joined.select(*cols)
        self._node_counts.pop(t.name, None)

    # ------------------------------------------------------------------
    # Views (SURVEY §2.6 / View.cs)
    # ------------------------------------------------------------------
    def create_node_view(self, name: str, members: list[str],
                         prop_map: dict[str, dict[str, str | None]] | None = None) -> None:
        """Node view = unionByName over member tables with property
        alignment (View.cs:95-137). Default mapping is by-name: a property
        appears in the view if any member has it; members lacking it are
        null-padded. `_NodeType`/`_NodeId` discriminators included."""
        from graphview_spark.catalog import NodeView

        if prop_map is None:
            prop_map = {}
            for m in members:
                t = self.catalog.table(m)
                for pname, _ in t.properties:
                    prop_map.setdefault(pname, {})
                    prop_map[pname][t.name] = pname
        self.catalog.node_views[name] = NodeView(
            name=name, members=[self.catalog.table(m).name for m in members],
            prop_map=prop_map,
        )

    def create_edge_view(self, name: str, members: list[tuple[str, str]]) -> None:
        from graphview_spark.catalog import EdgeView

        resolved = []
        for tbl, edge in members:
            e = self.catalog.resolve_edge(tbl, edge)
            resolved.append((e.source_table, e.name))
        self.catalog.edge_views[name] = EdgeView(name=name, members=resolved)

    def node_view_df(self, name: str) -> DataFrame:
        v = self.catalog.node_view(name)
        if v is None:
            raise KeyError(f"node view not found: {name}")
        parts = []
        props = sorted(v.prop_map)
        for m in v.members:
            t = self.catalog.table(m)
            df = self.nodes[t.name]
            cols = [F.col("GlobalNodeId"), F.lit(t.name).alias("_NodeType")]
            nid = t.node_id_column
            cols.append(
                (F.col(nid).cast("string") if nid else F.lit(None).cast("string")).alias("_NodeId")
            )
            for p in props:
                srccol = v.prop_map[p].get(t.name)
                cols.append(
                    F.col(srccol).alias(p) if srccol else F.lit(None).alias(p)
                )
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def global_node_view_df(self) -> DataFrame:
        """GlobalNodeView — union of ALL node tables (View.cs:2046-2114).
        Registered under its reference name so it binds in MATCH FROM
        lists and plain SQL like any node view."""
        self.create_node_view("GlobalNodeView", list(self.catalog.tables))
        return self.node_view_df("GlobalNodeView")

    def edge_view_df(self, name: str) -> DataFrame:
        v = self.catalog.edge_view(name)
        if v is None:
            raise KeyError(f"edge view not found: {name}")
        parts = []
        # merged attribute schema = union of member attribute names
        all_attrs: list[str] = []
        for tbl, edge in v.members:
            e = self.catalog.resolve_edge(tbl, edge)
            for aname, _ in e.attributes:
                if aname not in all_attrs:
                    all_attrs.append(aname)
        for tbl, edge in v.members:
            e = self.catalog.resolve_edge(tbl, edge)
            df = self.edge_with_id(e.qualified)
            have = {n for n, _ in e.attributes}
            cols = [F.col(c) for c in EDGE_META_COLS]
            cols.append(F.lit(e.qualified).alias("_EdgeType"))
            for a in all_attrs:
                cols.append(F.col(a) if a in have else F.lit(None).alias(a))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # ------------------------------------------------------------------
    # Stored procedures (GraphViewConnection.cs:1619-1698)
    # ------------------------------------------------------------------
    def create_procedure(self, name: str, params: list[str], statements: list[str]) -> None:
        self.catalog.procedures[name] = StoredProcedure(
            name=name, params=params, statements=statements
        )

    def execute_procedure(self, proc_name: str, /, **args) -> DataFrame | None:
        # positional-only: proc parameters may themselves be called
        # 'proc_name' or anything else
        from graphview_spark.matching.query import execute_statement

        proc = self.catalog.procedures.get(proc_name)
        if proc is None:
            raise KeyError(f"procedure not found: {proc_name}")
        missing = [p for p in proc.params if p not in args]
        if missing:
            raise ValueError(f"procedure {proc_name} missing params: {missing}")
        from graphview_spark.scripting import _mask, _subst_vars, _unmask

        result = None
        for stmt in proc.statements:
            # whole-token @name substitution over a string-masked statement:
            # a raw str.replace would corrupt @prio when @p is also a
            # parameter, and would substitute inside string literals
            masked, lits = _mask(stmt)
            s = _unmask(_subst_vars(masked, dict(args)), lits)
            result = execute_statement(self, s)
        return result

    # ------------------------------------------------------------------
    # SQL dialect entry point (reference: GraphViewCommand)
    # ------------------------------------------------------------------
    def execute(self, statement: str) -> DataFrame | None:
        """Execute the SQL+graph dialect: one statement (SELECT..MATCH,
        DML, DDL) or a multi-statement script with DECLARE/SET/WHILE/IF
        (the reference executes whole T-SQL batches, WSql.cs:215-313)."""
        from graphview_spark.matching.query import (
            _mask_strings,
            execute_statement,
            strip_comments,
        )
        from graphview_spark.scripting import execute_script, split_statements

        statement = strip_comments(statement)
        if re.match(
            r"(?is)^\s*(DECLARE|WHILE|IF|BEGIN\s+TRY|THROW|RAISERROR)\b",
            statement,
        ):
            return execute_script(self, statement)
        masked, _ = _mask_strings(statement)
        if len(split_statements(masked)) > 1:
            return execute_script(self, statement)
        return execute_statement(self, statement)

    def execute_script(self, script: str) -> DataFrame | None:
        """Run a multi-statement script (DECLARE / SET / WHILE / IF around
        dialect statements); returns the last SELECT's DataFrame."""
        from graphview_spark.scripting import execute_script

        return execute_script(self, script)

    # ------------------------------------------------------------------
    # Maintenance
    # ------------------------------------------------------------------
    def checkpoint_tables(self) -> None:
        """Truncate DML lineage by materializing current node/edge DFs
        (localCheckpoint: cluster-memory persisted, lineage cut) that are
        not already a checkpoint's output (this method's or
        ``delete_edges``'). DML, rollback and load bind new objects, so
        object identity finds exactly the tables changed since."""
        for tables in (self.nodes, self.edges):
            for k, df in tables.items():
                tables[k] = self._checkpoint(df)

    def _checkpoint(self, df: DataFrame) -> DataFrame:
        if df not in self._checkpointed:
            df = df.localCheckpoint(eager=True)
            self._checkpointed.add(df)
        return df

    def save(self, path: str) -> None:
        import json

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_catalog.json"), "w") as f:
            f.write(self.catalog.to_json())
        # persist id-assignment state exactly: reconstructing _seq from
        # max(gid) under-counts by 1 for integral bulk loads (gid =
        # base+seq+nodeid+1), so a post-reload NodeId-0 row would collide
        with open(os.path.join(path, "_state.json"), "w") as f:
            json.dump({"seq": self._seq, "edge_batch": self._edge_batch}, f)
        for name, df in self.nodes.items():
            df.write.mode("overwrite").parquet(os.path.join(path, f"nodes_{name}"))
        for qual, df in self.edges.items():
            safe = qual.replace(".", "__")
            df.write.mode("overwrite").parquet(os.path.join(path, f"edges_{safe}"))

    def save_bucketed(self, db: str, buckets: int = 16,
                      location: str | None = None) -> None:
        """Persist node/edge tables as BUCKETED Spark tables: nodes
        bucketed+sorted by ``GlobalNodeId``, edges by ``src``. Every MATCH
        join is an equi-join between those two keys, so with matching
        bucket counts the scan's output partitioning already satisfies the
        join distribution — no Exchange on either side, and the
        ``edge_id`` window's hash requirement is satisfied by the scan
        too. This is the 100 TB layout: one node's adjacency is co-located
        with the node, the Spark analog of the reference's in-row
        adjacency blob (SURVEY §1.4).

        Catalog/state persist in a 1-row ``_meta`` table. Note: with
        Spark's default in-memory catalog the table *metadata* lives for
        the session; a production deployment points this at a real
        metastore."""
        import json

        loc = f" LOCATION '{location}'" if location else ""
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}{loc}")
        for name, df in self.nodes.items():
            (
                df.write.mode("overwrite")
                .bucketBy(buckets, "GlobalNodeId")
                .sortBy("GlobalNodeId")
                .saveAsTable(f"{db}.nodes_{name}")
            )
        for qual, df in self.edges.items():
            safe = qual.replace(".", "__")
            (
                df.write.mode("overwrite")
                .bucketBy(buckets, "src")
                .sortBy("src")
                .saveAsTable(f"{db}.edges_{safe}")
            )
        meta = self.spark.createDataFrame(
            [
                (
                    "catalog",
                    self.catalog.to_json(),
                ),
                (
                    "state",
                    json.dumps(
                        {"seq": self._seq, "edge_batch": self._edge_batch}
                    ),
                ),
            ],
            "key string, json string",
        )
        meta.write.mode("overwrite").saveAsTable(f"{db}._meta")

    @classmethod
    def load_bucketed(cls, spark: SparkSession, db: str) -> "GraphDatabase":
        import json

        g = cls(spark)
        meta = {r["key"]: r["json"] for r in spark.table(f"{db}._meta").collect()}
        g.catalog = GraphCatalog.from_json(meta["catalog"])
        state = json.loads(meta["state"])
        for name, t in g.catalog.tables.items():
            g.nodes[name] = spark.table(f"{db}.nodes_{name}")
            g._seq[name] = int(state["seq"].get(name, 0))
            for e in t.edges.values():
                safe = e.qualified.replace(".", "__")
                g.edges[e.qualified] = spark.table(f"{db}.edges_{safe}")
                g._edge_batch[e.qualified] = int(
                    state["edge_batch"].get(e.qualified, 0)
                )
        return g

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "GraphDatabase":
        import json

        g = cls(spark)
        with open(os.path.join(path, "_catalog.json")) as f:
            g.catalog = GraphCatalog.from_json(f.read())
        state = None
        state_path = os.path.join(path, "_state.json")
        if os.path.exists(state_path):
            with open(state_path) as f:
                state = json.load(f)
        for name, t in g.catalog.tables.items():
            g.nodes[name] = spark.read.parquet(os.path.join(path, f"nodes_{name}"))
            if state is not None:
                g._seq[name] = int(state["seq"].get(name, 0))
            else:
                row = g.nodes[name].agg(
                    F.max(F.col("GlobalNodeId") - F.lit(t.gid_base()))
                ).first()
                g._seq[name] = int(row[0] or 0)
            for e in t.edges.values():
                safe = e.qualified.replace(".", "__")
                g.edges[e.qualified] = spark.read.parquet(
                    os.path.join(path, f"edges_{safe}")
                )
                if state is not None:
                    g._edge_batch[e.qualified] = int(
                        state["edge_batch"].get(e.qualified, 0)
                    )
                else:
                    row = g.edges[e.qualified].agg(F.max("_ord")).first()
                    g._edge_batch[e.qualified] = int(row[0] or -1) + 1
        return g
