"""SQL+graph dialect executor — the analog of GraphViewCommand.

The reference rewrites graph constructs in the T-SQL token stream, then
parses with the real T-SQL parser and translates to pure T-SQL
(GraphViewParser.cs:1447-1640, SURVEY §3). Our version keeps the same
user-facing dialect but delegates the relational surface to Spark SQL:
we extract the graph constructs (MATCH clause, graph DML), plan them
into DataFrames, register the result as a temp view with namespaced
columns (``A.name`` → ``A_name``), rewrite the remaining statement
accordingly, and hand it to ``spark.sql`` — Catalyst handles every
scalar/boolean/aggregate construct natively.

Supported statements:
  - SELECT ... [INTO target] FROM ... [MATCH ...]
    [WHERE/GROUP BY/HAVING/ORDER BY/TOP/LIMIT]
  - CREATE TABLE (annotated node-table DDL)
  - INSERT INTO T (cols) VALUES (...), (...)
  - INSERT EDGE INTO T.Edge SELECT src_alias, sink_alias[, attr...] FROM ... WHERE ...
  - DELETE EDGE [x]-[E]->[y] FROM ... WHERE ...
  - DELETE NODE FROM T [WHERE ...]
  - UPDATE T SET col = expr[, ...] [WHERE ...]
  - CREATE PROCEDURE name @p TYPE[, ...] AS BEGIN stmt; [stmt; ...] END
  - EXEC name @p = value[, ...]   (also positional: EXEC name v1, v2)
  - CREATE NODE VIEW V AS SELECT a[, ...] FROM T1 UNION ALL SELECT ... FROM T2
  - CREATE EDGE VIEW [V.]E AS SELECT * FROM T1.E1 UNION ALL SELECT * FROM T2.E2
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from graphview_spark.matching.pattern import parse_match_paths
from graphview_spark.matching.planner import plan_match
from graphview_spark.plans.lazy import counted_ckpt


# ----------------------------------------------------------------------
# helpers: string masking + identifier cleanup
# ----------------------------------------------------------------------

def _mask_strings(sql: str) -> tuple[str, list[str]]:
    """Replace 'string literals' with placeholders so regex rewrites
    can't touch their contents."""
    out: list[str] = []
    lits: list[str] = []

    i = 0
    while i < len(sql):
        ch = sql[i]
        # T-SQL unicode literal prefix: N'...' → '...' (Spark strings
        # are UTF-8 already; the N must not survive as an identifier)
        if (
            ch in "Nn"
            and i + 1 < len(sql)
            and sql[i + 1] == "'"
            and (i == 0 or (not sql[i - 1].isalnum() and sql[i - 1] != "_"))
        ):
            i += 1
            continue
        if ch == "'":
            j = i + 1
            buf = ["'"]
            while j < len(sql):
                buf.append(sql[j])
                if sql[j] == "'":
                    if j + 1 < len(sql) and sql[j + 1] == "'":
                        buf.append("'")
                        j += 2
                        continue
                    break
                j += 1
            lits.append("".join(buf))
            out.append(f"\x00{len(lits) - 1}\x00")
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out), lits


def _unmask(sql: str, lits: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], sql)


def strip_comments(sql: str) -> str:
    """Remove ``--`` line comments and ``/* */`` block comments outside
    string literals (the reference tokenizes full T-SQL, comments
    included)."""
    masked, lits = _mask_strings(sql)
    masked = re.sub(r"/\*.*?\*/", " ", masked, flags=re.DOTALL)
    masked = re.sub(r"--[^\n]*", " ", masked)
    return _unmask(masked, lits)


def _strip_ident_brackets(sql: str) -> str:
    """``[People]`` → ``People`` (only simple bracketed identifiers)."""
    return re.sub(r"\[([A-Za-z_][\w ]*)\]", r"\1", sql)


_CLAUSE_KEYWORDS = [
    ("match", r"MATCH\b"),
    ("where", r"WHERE\b"),
    ("group", r"GROUP\s+BY\b"),
    ("having", r"HAVING\b"),
    ("order", r"ORDER\s+BY\b"),
    ("limit", r"LIMIT\b"),
]


def _split_select(sql_masked: str) -> dict[str, str]:
    """Split a masked SELECT statement into clauses (keywords only
    recognized at paren depth 0)."""
    m = re.match(
        r"\s*SELECT\s+(?P<distinct>DISTINCT\s+)?"
        r"(?P<top>TOP\s*\(?\s*(?P<n>\d+(?:\.\d+)?)\s*\)?\s+"
        r"(?P<pct>PERCENT\s+)?)?",
        sql_masked, re.IGNORECASE)
    if not m:
        raise ValueError("not a SELECT statement")
    rest = sql_masked[m.end():]
    # find FROM at depth 0
    if m.group("n") and "." in m.group("n") and not m.group("pct"):
        raise ValueError(
            "TOP with a decimal count requires PERCENT (as in T-SQL): "
            f"TOP {m.group('n')}"
        )
    clauses: dict[str, str] = {
        "distinct": "DISTINCT " if m.group("distinct") else "",
        "top": m.group("n") or "",
        "top_pct": "1" if m.group("pct") else "",
    }
    positions = []
    depth = 0
    i = 0
    upper = rest.upper()
    while i < len(rest):
        ch = rest[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            if upper[i:].startswith("FROM") and _is_kw(rest, i, 4):
                positions.append(("from", i, i + 4))
                i += 4
                continue
            for key, pat in _CLAUSE_KEYWORDS:
                mm = re.match(pat, upper[i:])
                if mm and _is_kw(rest, i, mm.end()):
                    positions.append((key, i, i + mm.end()))
                    i += mm.end()
                    break
            else:
                i += 1
                continue
            continue
        i += 1
    positions.sort(key=lambda p: p[1])
    clauses["select"] = rest[: positions[0][1]].strip() if positions else rest.strip()
    for idx, (key, start, end) in enumerate(positions):
        stop = positions[idx + 1][1] if idx + 1 < len(positions) else len(rest)
        clauses[key] = rest[end:stop].strip()
    return clauses


def _is_kw(text: str, i: int, length: int) -> bool:
    before = text[i - 1] if i > 0 else " "
    after = text[i + length] if i + length < len(text) else " "
    return (not before.isalnum() and before != "_") and (
        not after.isalnum() and after != "_"
    )


def _parse_from_list(from_text: str) -> dict[str, str]:
    """``People A, People as B, [Book] C`` → {A: People, B: People, C: Book}.
    Order-preserving (dicts are)."""
    return _parse_from(from_text)[0]


_JOIN_KW = re.compile(r"(?i)^(LEFT|RIGHT|FULL|INNER|CROSS|JOIN)\b")


def _find_join_depth0(text: str) -> int:
    """Index of the first depth-0 JOIN-clause keyword, or -1."""
    depth = 0
    for i, ch in enumerate(text):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and _JOIN_KW.match(text[i:]):
            before = text[i - 1] if i > 0 else " "
            if not before.isalnum() and before != "_":
                return i
    return -1


def _parse_from(from_text: str) -> tuple[dict[str, str], list[str]]:
    """Split the FROM list into alias bindings (each comma entry's leading
    ``Table [AS] alias``) and qualified-JOIN tails, which the reference
    passes through as plain T-SQL (WTableReference.cs:371-431):
    ``People A, Nation N LEFT JOIN Orders O ON ...`` →
    ({A: People, N: Nation}, ["LEFT JOIN Orders O ON ..."])."""
    bindings: dict[str, str] = {}
    tails: list[str] = []
    for entry in _split_depth0(from_text, ","):
        entry = entry.strip()
        if not entry:
            continue
        jpos = _find_join_depth0(entry)
        if jpos > 0:
            tails.append(entry[jpos:].strip())
            entry = entry[:jpos].strip()
        entry = _strip_ident_brackets(entry)
        parts = re.split(r"\s+", entry)
        if len(parts) >= 3 and parts[1].lower() == "as":
            bindings[parts[2]] = parts[0]
        elif len(parts) >= 2:
            bindings[parts[1]] = parts[0]
        else:
            bindings[parts[0]] = parts[0]
    return bindings, tails


def _split_depth0(text: str, sep: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in text:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


# ----------------------------------------------------------------------
# alias-reference rewriting
# ----------------------------------------------------------------------

def _rewrite_refs(g, text: str, bindings: dict[str, str], pattern) -> str:
    """``A.name`` → ``A_name``; ``A.*`` / ``e.*`` expansion."""
    edge_aliases = {e.alias: e for e in pattern.edges} if pattern else {}

    def repl(m: re.Match) -> str:
        alias, col = m.group(1), m.group(2).strip("[]")
        if alias in bindings:
            if col == "*":
                return _expand_node_star(g, alias, bindings[alias])
            return f"{alias}_{col}"
        if alias in edge_aliases:
            e = edge_aliases[alias]
            if col == "*":
                if e.is_path:
                    # reference: SELECT pathAlias.* → readable path string
                    # (TranslateMatchClauseVisitor.cs:519-618)
                    return f"{alias}_path_str AS path"
                return _expand_edge_star(g, e, bindings)
            return f"{alias}_{col}"
        return m.group(0)

    # member may be a plain identifier, a [bracketed] one, or *
    return re.sub(r"\b([A-Za-z_]\w*)\s*\.\s*(\[\w+\]|\w+|\*)", repl, text)


def _expand_node_star(g, alias: str, name: str) -> str:
    if g.catalog.has_table(name):
        t = g.catalog.table(name)
        return ", ".join(f"{alias}_{p} AS {p}" for p, _ in t.properties)
    v = g.catalog.node_view(name)
    props = ["NodeType", "NodeId"] + sorted(v.prop_map)
    return ", ".join(f"{alias}_{p} AS {p}" for p in props)


def _expand_edge_star(g, e, bindings) -> str:
    src_tbl = bindings[e.src_alias]
    if g.catalog.has_table(src_tbl):
        et = g.catalog.table(src_tbl).edges.get(e.edge_name.lower())
        if et and et.attributes:
            return ", ".join(
                f"{e.alias}_{a} AS {a}" for a, _ in et.attributes
            )
    return f"{e.alias}_edge_id AS edge_id"


def _split_and_depth0(text: str) -> list[str]:
    """Split a boolean expression on top-level ``AND``s."""
    parts, depth, cur = [], 0, []
    i, upper = 0, text.upper()
    while i < len(text):
        ch = text[i]
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if depth == 0 and upper[i:].startswith("AND") and _is_kw(text, i, 3):
            parts.append("".join(cur))
            cur = []
            i += 3
            continue
        cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _pushable_filters(
    g, where_masked: str, bindings: dict[str, str], pattern, lits: list[str]
) -> dict[str, list[str]]:
    """Predicate pushdown onto pattern nodes (reference AttachPredicates,
    AttachWhereClauseVisitor.cs:107-213): top-level AND-conjuncts that
    reference exactly one node alias become pre-join filters on that
    alias's DataFrame. For fixed-length patterns Catalyst would push
    them anyway; for var-length paths this is the piece Catalyst cannot
    see through (the BFS loop materializes behind a checkpoint), so the
    start-node filter prunes the whole traversal. The conjunct also
    stays in the final WHERE — double evaluation is free, dropped by
    Catalyst when it dedupes.
    """
    if not where_masked:
        return {}
    edge_aliases = {e.alias for e in pattern.edges}
    out: dict[str, list[str]] = {}
    for conj in _split_and_depth0(where_masked):
        if re.search(r"(?i)\bSELECT\b", conj):
            continue                     # subqueries never push
        if _DEGREE_REF.search(conj):
            continue                     # degree columns join in later
        refs = {
            m.group(1)
            for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\.\s*\w+", conj)
        }
        node_refs = refs & set(bindings)
        if len(node_refs) != 1 or refs & edge_aliases:
            continue
        alias = next(iter(node_refs))
        if refs - {alias}:
            continue                     # references something non-alias
        rewritten = _rewrite_refs(g, conj, bindings, pattern)
        out.setdefault(alias, []).append(_unmask(rewritten, lits))
    return out


# ----------------------------------------------------------------------
# statement executors
# ----------------------------------------------------------------------

def _match_paren(text: str, open_idx: int) -> int:
    """Index of the ``)`` closing the ``(`` at ``open_idx`` (text must be
    string-masked so parens in literals don't count)."""
    depth = 0
    for i in range(open_idx, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses in statement")


def _exec_with(g, s: str) -> DataFrame | None:
    """``WITH name [(cols)] AS (body)[, ...] <statement>`` — dialect CTEs.

    Reference: every statement is wrapped in
    WStatementWithCtesAndXmlNamespaces (TSQL Syntax Tree/WSql.cs:215-313),
    so CTEs are first-class around MATCH and DML. Each CTE body (which may
    itself contain MATCH) is planned through the normal SELECT path and
    registered as a statement-scoped temp view; the trailing statement
    then dispatches normally. Spark resolves temp views eagerly when the
    plan is built, so unregistering afterwards cannot invalidate the
    returned DataFrame.
    """
    masked, lits = _mask_strings(s)
    pos = re.match(r"(?is)^\s*WITH\b(?:\s+RECURSIVE\b)?", masked).end()
    ctes: list[tuple[str, list[str] | None, str]] = []
    while True:
        m = re.match(r"\s*(\[[^\]]+\]|[A-Za-z_]\w*)", masked[pos:])
        if not m:
            raise ValueError(f"WITH: expected CTE name at {masked[pos:pos+30]!r}")
        name = m.group(1).strip("[]")
        pos += m.end()
        cols: list[str] | None = None
        m = re.match(r"\s*\(", masked[pos:])
        m_as = re.match(r"(?is)\s*AS\s*\(", masked[pos:])
        if m and not m_as:
            open_idx = pos + m.end() - 1
            close = _match_paren(masked, open_idx)
            cols = [
                c.strip().strip("[]") for c in masked[open_idx + 1 : close].split(",")
            ]
            pos = close + 1
            m_as = re.match(r"(?is)\s*AS\s*\(", masked[pos:])
        if not m_as:
            raise ValueError(f"WITH {name}: expected AS (subquery)")
        open_idx = pos + m_as.end() - 1
        close = _match_paren(masked, open_idx)
        ctes.append((name, cols, masked[open_idx + 1 : close].strip()))
        pos = close + 1
        m = re.match(r"\s*,", masked[pos:])
        if not m:
            break
        pos += m.end()
    trailing = masked[pos:].strip()
    if not trailing:
        raise ValueError("WITH: missing trailing statement")
    registered: list[str] = []
    try:
        for name, cols, body in ctes:
            if re.search(rf"(?i)\b{re.escape(name)}\b", body):
                df = _exec_recursive_cte(g, name, cols, body, lits)
            else:
                df = _exec_select(g, _unmask(body, lits))
                if df is None:
                    raise ValueError(f"WITH {name}: CTE body must be a SELECT")
                if cols:
                    df = df.toDF(*cols)
            g.derived_tables[name] = df
            df.createOrReplaceTempView(name)
            registered.append(name)
        return execute_statement(g, _unmask(trailing, lits))
    finally:
        # CTEs are statement-scoped (unlike SELECT INTO derived tables)
        for name in registered:
            g.derived_tables.pop(name, None)
            try:
                g.spark.catalog.dropTempView(name)
            except Exception:
                pass


_MAX_RECURSION = 100   # T-SQL's default MAXRECURSION


def _exec_recursive_cte(g, name: str, cols: list[str] | None, body: str,
                        lits: list[str]) -> DataFrame:
    """Recursive CTE — the reference's own variable-length-path engine is
    exactly this shape (generated bfsPath recursive CTE,
    DeployScriptTemplate.cs:208-341). T-SQL iteration semantics: anchor
    members seed the result; each iteration re-evaluates the recursive
    members against ONLY the rows produced by the previous iteration
    (not the accumulated set), until an iteration adds nothing; a cycle
    without a terminating predicate hits the MAXRECURSION cap and
    raises, like SQL Server's error 530.

    Spark shape: a driver-side fixpoint loop; one job materializes and
    counts each frontier (counted_ckpt), so lineage stays O(1) per
    iteration, and the union of checkpointed frontiers is the CTE. An
    empty anchor adds nothing, so it ends the recursion at once."""
    parts = _split_union_all_depth0(body)
    selfref = re.compile(rf"(?i)\b{re.escape(name)}\b")
    anchors = [p for p in parts if not selfref.search(p)]
    recs = [p for p in parts if selfref.search(p)]
    if not anchors or not recs:
        raise ValueError(
            f"recursive CTE {name}: need anchor member(s) UNION ALL "
            f"self-referencing member(s)"
        )
    acc = None
    for a in anchors:
        df = _exec_select(g, _unmask(a, lits))
        acc = df if acc is None else acc.unionByName(df)
    if cols:
        acc = acc.toDF(*cols)
    frontier, rows = counted_ckpt(acc)
    total, depth = frontier, 0
    while rows:
        if depth == _MAX_RECURSION:
            raise ValueError(
                f"recursive CTE {name}: exceeded MAXRECURSION "
                f"({_MAX_RECURSION}) — cyclic data without a terminating "
                f"predicate?")
        depth += 1
        frontier.createOrReplaceTempView(name)
        g.derived_tables[name] = frontier
        new = None
        for r in recs:
            df = _exec_select(g, _unmask(r, lits))
            new = df if new is None else new.unionByName(df)
        if cols:
            new = new.toDF(*cols)
        frontier, rows = counted_ckpt(new)
        if rows:
            total = total.unionByName(frontier)
    return total


def _strip_tsql_hints(masked: str) -> str:
    """Remove T-SQL physical hints that have no Spark meaning but appear
    all over real scripts (the reference forwards them to SQL Server):
    a trailing ``OPTION (...)`` query hint and ``WITH (NOLOCK)`` /
    ``(NOLOCK)`` table hints. Execution semantics on Spark are
    unaffected (no locks to skip; Catalyst/AQE own the physical plan)."""
    out = re.sub(r"(?is)\s+WITH\s*\(\s*NOLOCK\s*\)", " ", masked)
    out = re.sub(r"(?is)\(\s*NOLOCK\s*\)", " ", out)
    m = re.search(r"(?is)\bOPTION\s*\(", out)
    if m:
        end = _match_paren(out, m.end() - 1)
        if end > 0 and not out[end + 1 :].strip():
            out = out[: m.start()]
    return out


_TSQL_FN_MAP = [
    # (T-SQL spelling, Spark spelling) — same argument order in each.
    # DATEADD/DATEDIFF map to timestampadd/timestampdiff; note T-SQL
    # DATEDIFF counts BOUNDARY crossings while timestampdiff counts
    # complete units — identical for DAY on date-typed args, off-by-one
    # possible mid-unit (documented deviation).
    (r"\bISNULL\s*\(", "coalesce("),
    (r"\bLEN\s*\(", "length("),
    (r"\bGETDATE\s*\(\s*\)", "current_timestamp()"),
    (r"\bGETUTCDATE\s*\(\s*\)", "current_timestamp()"),
    (r"\bCHARINDEX\s*\(", "locate("),
    (r"\bDATEADD\s*\(", "timestampadd("),
    (r"\bDATEDIFF\s*\(", "timestampdiff("),
    (r"\bNEWID\s*\(\s*\)", "uuid()"),
    (r"\bIIF\s*\(", "if("),
    # Spark 4's listagg supports the same WITHIN GROUP (ORDER BY ...)
    # ordering clause T-SQL uses, so only the name changes
    (r"\bSTRING_AGG\s*\(", "listagg("),
    (r"\bREPLICATE\s*\(", "repeat("),
]

# DATEPART part names: T-SQL abbreviations → Spark date_part fields.
# wk/ww/week are EXCLUDED on purpose: T-SQL DATEPART(wk) counts weeks
# from Jan 1 (week 1 contains Jan 1) while Spark's 'week' field is the
# ISO week (DATE'2023-01-01' → 52) — a silent wrong answer on boundary
# dates, so it raises instead. dw maps to 'dayofweek' (Sunday=1), which
# matches T-SQL's default DATEFIRST 7 — verified live on both.
_DATEPART_MAP = {
    "yy": "year", "yyyy": "year", "year": "year",
    "qq": "quarter", "q": "quarter", "quarter": "quarter",
    "mm": "month", "m": "month", "month": "month",
    "dd": "day", "d": "day", "day": "day",
    "dy": "doy", "dayofyear": "doy",
    "dw": "dayofweek", "weekday": "dayofweek",
    "hh": "hour", "hour": "hour",
    "mi": "minute", "n": "minute", "minute": "minute",
    "ss": "second", "s": "second", "second": "second",
}


def _rewrite_datepart(masked: str) -> str:
    """``DATEPART(part, expr)`` → ``date_part('part', expr)`` — the part
    name is a bare keyword in T-SQL but a string in Spark; abbreviations
    (yy, mm, dd, …) map to their full field names."""
    def sub(m: re.Match) -> str:
        part = _DATEPART_MAP.get(m.group(1).lower())
        if part is None:
            hint = (
                " (T-SQL week-of-year counts from Jan 1; Spark's is ISO "
                "— compute it explicitly)"
                if m.group(1).lower() in ("wk", "ww", "week") else ""
            )
            raise ValueError(
                f"unsupported DATEPART field: {m.group(1)!r}{hint}"
            )
        return f"date_part('{part}',"

    return re.sub(
        r"(?i)\bDATEPART\s*\(\s*([A-Za-z]+)\s*,", sub, masked
    )


def _rewrite_convert(masked: str) -> str:
    """``CONVERT(type, expr)`` → ``CAST(expr AS spark_type)`` (argument
    order swaps). The 3-arg style form has no Spark analog and raises."""
    pat = re.compile(r"(?i)\bCONVERT\s*\(")
    while True:
        m = pat.search(masked)
        if not m:
            return masked
        end = _match_paren(masked, m.end() - 1)
        args = _split_args_depth0(masked[m.end():end])
        if len(args) != 2:
            raise ValueError(
                "CONVERT with a style argument is unsupported — "
                "use FORMAT/date_format explicitly"
            )
        typ = _spark_type_for(args[0])
        masked = (
            masked[: m.start()]
            + f"CAST({args[1]} AS {typ})"
            + masked[end + 1:]
        )


_OFFSET_FETCH_PAT = re.compile(
    r"(?is)\bOFFSET\s+(?P<off>\d+)\s+ROWS?"
    r"(?:\s+FETCH\s+(?:NEXT|FIRST)\s+(?P<n>\d+)\s+ROWS?\s+ONLY)?"
)


def _rewrite_offset_fetch(masked: str) -> str:
    """T-SQL 2012 paging ``ORDER BY … OFFSET n ROWS [FETCH NEXT m ROWS
    ONLY]`` → Spark ``LIMIT m OFFSET n``. The reference forwards the
    clause to SQL Server untranslated (WSelectQueryBlock ToString
    passthrough); Spark 3.4+ has a native OFFSET operator, so this is a
    pure respelling — paging still executes as a single global-sort +
    limit push (CollectLimit with offset), no extra shuffle."""
    def _sub(m: re.Match) -> str:
        if m.group("n") is not None:
            return f"LIMIT {m.group('n')} OFFSET {m.group('off')}"
        return f"OFFSET {m.group('off')}"

    return _OFFSET_FETCH_PAT.sub(_sub, masked)


def _rewrite_tsql_builtins(masked: str) -> str:
    """Spell common T-SQL builtins the Spark way (the reference forwards
    them to SQL Server untranslated; Spark either lacks them or gives
    them different meaning — ISNULL is single-argument on Spark)."""
    for pat, rep in _TSQL_FN_MAP:
        masked = re.sub(pat, rep, masked, flags=re.IGNORECASE)
    if re.search(r"(?i)\bDATEPART\s*\(", masked):
        masked = _rewrite_datepart(masked)
    if re.search(r"(?i)\bCONVERT\s*\(", masked):
        masked = _rewrite_convert(masked)
    return masked


_TSQL_TYPE_MAP = [
    # OPENJSON WITH(...) column types → Spark schema-string types
    (r"(?i)^N?(VAR)?CHAR\s*\(\s*(\d+|MAX)\s*\)$", "string"),
    (r"(?i)^N?TEXT$", "string"),
    (r"(?i)^BIT$", "boolean"),
    (r"(?i)^TINYINT$", "tinyint"),
    (r"(?i)^SMALLINT$", "smallint"),
    (r"(?i)^INT(EGER)?$", "int"),
    (r"(?i)^BIGINT$", "bigint"),
    (r"(?i)^REAL$", "float"),
    (r"(?i)^FLOAT(\s*\(\s*\d+\s*\))?$", "double"),
    (r"(?i)^(DECIMAL|NUMERIC)\s*(\(\s*\d+\s*(,\s*\d+\s*)?\))?$", None),
    (r"(?i)^(SMALL)?DATETIME2?(\s*\(\s*\d+\s*\))?$", "timestamp"),
    (r"(?i)^DATE$", "date"),
]


def _spark_type_for(tsql_type: str) -> str:
    t = tsql_type.strip()
    for pat, rep in _TSQL_TYPE_MAP:
        if re.match(pat, t):
            if rep is None:  # DECIMAL/NUMERIC keep precision, Spark spelling
                return re.sub(r"(?i)^NUMERIC", "decimal",
                              re.sub(r"(?i)^DECIMAL", "decimal",
                                     t.replace(" ", "")))
            return rep
    raise ValueError(f"unsupported OPENJSON WITH column type: {tsql_type!r}")


def _split_args_depth0(text: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [a.strip() for a in out]


_TVF_APPLY_PAT = re.compile(
    r"(?is)\b(CROSS|OUTER)\s+APPLY\s+(STRING_SPLIT|OPENJSON)\s*\("
)
# alias must not swallow a following keyword — a missing alias then
# raises the clear diagnostic instead of emitting garbled SQL
_SQL_KEYWORDS = (
    "WHERE|GROUP|ORDER|HAVING|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|OUTER"
    "|ON|UNION|EXCEPT|INTERSECT|LIMIT|LATERAL"
)
_ALIAS_PAT = re.compile(
    r"(?is)^\s*(?:AS\s+)?(?!(?:" + _SQL_KEYWORDS + r")\b)([A-Za-z_]\w*)"
    r"(?:\s*\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?"
)


_FROM_BOUNDARY = re.compile(
    r"(?is)\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|UNION|EXCEPT|INTERSECT"
    r"|LIMIT)\b"
)


def _from_clause_end(text: str, start: int) -> int:
    """Position where the FROM clause containing ``start`` ends: the
    first depth-0 boundary keyword (WHERE/GROUP BY/…), the closing paren
    of the enclosing subquery, or end-of-text."""
    depth = 0
    i = start
    while i < len(text):
        ch = text[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return i
            depth -= 1
        elif depth == 0:
            m = _FROM_BOUNDARY.match(text, i)
            if m:
                return i
        i += 1
    return len(text)


def _rewrite_tvf_apply(masked: str, lits: list[str]) -> str:
    """T-SQL table-valued-function APPLY → Spark LATERAL VIEW.

    The reference forwards any TVF APPLY to SQL Server untranslated
    (GraphView/TSQL Syntax Tree/WTableReference.cs:241-295); Spark has no
    STRING_SPLIT/OPENJSON relations, so the two most common TVFs are
    rewritten to their native equivalents:

      CROSS APPLY STRING_SPLIT(col, sep) s
        → LATERAL VIEW explode(split(col, <regex-quoted sep>)) s AS value
      OUTER APPLY ... → LATERAL VIEW OUTER ...
      CROSS APPLY OPENJSON(col) j              (default schema, scalar subset)
        → LATERAL VIEW explode(from_json(col, 'map<string,string>'))
            j AS key, value
      CROSS APPLY OPENJSON(col) WITH (a INT '$.a', b VARCHAR(40)) j
        → LATERAL VIEW inline(array(from_json(col, 'a int, b string'))) j

    Documented subset deviations: the separator is regex-quoted with
    \\Q..\\E (STRING_SPLIT treats it as a literal; Spark split() as a
    regex); OPENJSON's default-schema `type` column and non-trivial JSON
    paths are unsupported and raise; 3-arg STRING_SPLIT (enable_ordinal)
    raises."""
    while True:
        m = _TVF_APPLY_PAT.search(masked)
        if not m:
            return masked
        end = _match_paren(masked, m.end() - 1)
        args = _split_args_depth0(masked[m.end():end])
        rest = masked[end + 1:]
        outer = " OUTER" if m.group(1).upper() == "OUTER" else ""
        fn = m.group(2).upper()
        with_cols = None
        if fn == "OPENJSON":
            wm = re.match(r"(?is)^\s*WITH\s*\(", rest)
            if wm:
                wend = _match_paren(rest, wm.end() - 1)
                with_cols = _split_args_depth0(rest[wm.end():wend])
                rest = rest[wend + 1:]
        am = _ALIAS_PAT.match(rest)
        if not am:
            raise ValueError(f"TVF APPLY requires an alias: {fn}(...)")
        alias = am.group(1)
        out_cols = _split_args_depth0(am.group(2)) if am.group(2) else None
        if fn == "STRING_SPLIT":
            if len(args) != 2:
                raise ValueError(
                    "STRING_SPLIT APPLY supports exactly (col, sep); "
                    "enable_ordinal is unsupported — use posexplode directly"
                )
            cols = out_cols or ["value"]
            if len(cols) != 1:
                raise ValueError("STRING_SPLIT yields one column (value)")
            repl = (
                f" LATERAL VIEW{outer} explode(split({args[0]}, "
                f"concat('\\\\Q', {args[1]}, '\\\\E'))) {alias} AS {cols[0]}"
            )
        elif with_cols is not None:
            if len(args) != 1:
                raise ValueError("OPENJSON WITH supports a single JSON arg")
            fields = []
            for c in with_cols:
                cm = re.match(
                    r"(?is)^([A-Za-z_]\w*)\s+([A-Za-z]\w*(?:\s*\([^)]*\))?)"
                    r"\s*(\x00\d+\x00)?\s*$", c.strip(),
                )
                if not cm:
                    raise ValueError(f"unsupported OPENJSON WITH entry: {c!r}")
                name, typ, path_ph = cm.group(1), cm.group(2), cm.group(3)
                if path_ph:
                    lit = lits[int(path_ph.strip("\x00"))]
                    path = lit.strip("'")
                    # CASE-SENSITIVE: from_json matches JSON keys
                    # case-sensitively (verified: from_json('{"X":5}',
                    # 'x int') → null), so a case-folded acceptance
                    # here would silently yield NULLs
                    if path not in (f"$.{name}", f'$."{name}"'):
                        raise ValueError(
                            f"OPENJSON path {path!r} must be $.{name} "
                            "exactly (case-sensitive; nested paths "
                            "unsupported)"
                        )
                fields.append(f"{name} {_spark_type_for(typ)}")
            schema = ", ".join(fields)
            repl = (
                f" LATERAL VIEW{outer} inline(array(from_json({args[0]}, "
                f"'{schema}'))) {alias}"
            )
        else:
            if len(args) != 1:
                raise ValueError(
                    "OPENJSON APPLY supports OPENJSON(col) or "
                    "OPENJSON(col) WITH (...); JSON-path args unsupported"
                )
            cols = out_cols or ["key", "value"]
            if len(cols) != 2:
                raise ValueError(
                    "default-schema OPENJSON subset yields (key, value); "
                    "the `type` column is unsupported"
                )
            repl = (
                f" LATERAL VIEW{outer} explode(from_json({args[0]}, "
                f"'map<string,string>')) {alias} AS {cols[0]}, {cols[1]}"
            )
        # Spark's FROM grammar places lateral views AFTER all join
        # relations — inserting at the APPLY's position breaks valid
        # T-SQL like `… CROSS APPLY tvf(x) s JOIN t ON …`, so the
        # LATERAL VIEW moves to the end of the enclosing FROM clause
        # (relative order of multiple APPLYs is preserved: each later
        # rewrite inserts before the same boundary, after earlier ones)
        base = masked[: m.start()] + rest[am.end():]
        ins = _from_clause_end(base, m.start())
        masked = base[:ins] + repl + " " + base[ins:]


def _rewrite_apply(masked: str) -> str:
    """T-SQL ``CROSS APPLY (subquery) alias`` → Spark ``, LATERAL
    (subquery) alias``; ``OUTER APPLY`` → ``LEFT JOIN LATERAL ... ON
    true`` (the reference forwards APPLY to SQL Server untranslated;
    Spark spells correlated derived tables LATERAL)."""
    pat = re.compile(r"(?is)\b(CROSS|OUTER)\s+APPLY\s*\(")
    while True:
        m = pat.search(masked)
        if not m:
            return masked
        end = _match_paren(masked, m.end() - 1)
        sub = masked[m.end() : end]
        rest = masked[end + 1 :]
        am = re.match(r"(?is)^\s*(?:AS\s+)?([A-Za-z_]\w*)", rest)
        if not am:
            raise ValueError(
                "APPLY requires a derived-table alias: "
                f"...{masked[m.start():end + 1][:60]!r}"
            )
        alias = am.group(1)
        if m.group(1).upper() == "CROSS":
            repl = f", LATERAL ({sub}) {alias}"
        else:
            repl = f" LEFT JOIN LATERAL ({sub}) {alias} ON true"
        masked = masked[: m.start()] + repl + rest[am.end() :]


def execute_statement(g, sql: str) -> DataFrame | None:
    s = strip_comments(sql).strip().rstrip(";").strip()
    masked, _lits = _mask_strings(s)
    if re.search(r"(?is)\bNOLOCK\b|\bOPTION\s*\(", masked):
        masked = _strip_tsql_hints(masked)
        s = _unmask(masked, _lits).strip()
    if re.search(r"(?is)\b(CROSS|OUTER)\s+APPLY\b", masked):
        masked = _rewrite_tvf_apply(masked, _lits)
        masked = _rewrite_apply(masked)
        if re.search(r"(?is)\b(CROSS|OUTER)\s+APPLY\b", masked):
            raise ValueError(
                "only subquery APPLY and STRING_SPLIT/OPENJSON APPLY are "
                "supported; rewrite other table-valued-function APPLY as a "
                "Spark LATERAL VIEW / explode() instead"
            )
        s = _unmask(masked, _lits).strip()
    if re.search(
        r"(?i)\b(ISNULL|LEN|GETDATE|GETUTCDATE|CHARINDEX|DATEADD|DATEDIFF"
        r"|NEWID|IIF|STRING_AGG|REPLICATE|DATEPART|CONVERT)\s*\(",
        masked,
    ):
        masked = _rewrite_tsql_builtins(masked)
        s = _unmask(masked, _lits).strip()
    if re.search(r"(?is)\bOFFSET\s+\d+\s+ROWS?\b", masked):
        masked = _rewrite_offset_fetch(masked)
        s = _unmask(masked, _lits).strip()
    if re.match(r"(?is)^\s*WITH\b", s):
        return _exec_with(g, s)
    if re.match(r"(?is)^\s*CREATE\s+PROC(?:EDURE)?\b", s):
        _exec_create_procedure(g, s)
        return None
    if re.match(r"(?is)^\s*CREATE\s+FUNCTION\b", s):
        _exec_create_function(g, s)
        return None
    if re.match(r"(?is)^\s*CREATE\s+NODE\s+VIEW\b", s):
        _exec_create_node_view(g, s)
        return None
    if re.match(r"(?is)^\s*CREATE\s+EDGE\s+VIEW\b", s):
        _exec_create_edge_view(g, s)
        return None
    if re.match(r"(?is)^\s*EXEC(?:UTE)?\b", s):
        return _exec_exec(g, s)
    if re.match(r"(?is)^\s*BEGIN\s+TRAN(?:SACTION)?\b", s):
        g.begin_transaction()
        return None
    if re.match(r"(?is)^\s*COMMIT(\s+TRAN(?:SACTION)?)?\s*(\w+)?\s*$", s):
        g.commit()
        return None
    if re.match(r"(?is)^\s*ROLLBACK(\s+TRAN(?:SACTION)?)?\s*(\w+)?\s*$", s):
        g.rollback()
        return None
    if re.match(r"(?is)^\s*MERGE\b", s):
        _exec_merge(g, s)
        return None
    if re.match(r"(?is)^\s*EXPLAIN\b", s):
        # translation introspection — the reference exposes the generated
        # T-SQL through GetTsqlQuery() "For testing only"
        # (GraphViewCommand.cs:41-65); our translation target is a Spark
        # plan, so EXPLAIN returns the optimized + physical plan text
        inner = re.sub(r"(?is)^\s*EXPLAIN\s+", "", s)
        df = execute_statement(g, inner)
        if df is None:
            raise ValueError("EXPLAIN requires a statement returning rows")
        plan = df._jdf.queryExecution().explainString(
            g.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "extended"
            )
        )
        return g.spark.createDataFrame([(plan,)], ["plan"])
    if re.match(r"(?is)^\s*TRUNCATE\s+TABLE\b", s):
        m = re.match(
            r"(?is)^\s*TRUNCATE\s+TABLE\s+(\[[^\]]+\]|[A-Za-z_]\w*)\s*$", s
        )
        if not m:
            raise ValueError(f"cannot parse TRUNCATE: {s[:60]!r}")
        g.truncate_table(m.group(1).strip("[]"))
        return None
    mi = re.match(
        r"(?is)^\s*CREATE\s+(?:UNIQUE\s+)?(?:(?:NON)?CLUSTERED\s+)?INDEX\s+"
        r"(?P<name>\[[^\]]+\]|[A-Za-z_]\w*)\s+ON\s+"
        r"(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)\s*\((?P<cols>[^)]*)\)\s*$",
        s,
    )
    if mi:
        cols = [
            re.sub(r"(?is)\s+(ASC|DESC)$", "", c.strip()).strip("[]").strip()
            for c in mi.group("cols").split(",")
        ]
        g.create_index(
            mi.group("name").strip("[]"), mi.group("tbl").strip("[]"), cols
        )
        return None
    head = re.match(r"(?is)^\s*([A-Za-z]+)(\s+(EDGE|NODE|INTO|TABLE))?", s)
    kw = (head.group(1) or "").upper() if head else ""
    kw2 = (head.group(3) or "").upper() if head and head.group(3) else ""
    if kw == "SELECT":
        return _exec_select(g, s)
    if kw == "CREATE" and kw2 == "TABLE":
        g.create_node_table(s)
        return None
    if kw == "INSERT" and kw2 == "EDGE":
        _exec_insert_edge(g, s)
        return None
    if kw == "INSERT":
        _exec_insert_node(g, s)
        return None
    if kw == "DELETE" and kw2 == "EDGE":
        _exec_delete_edge(g, s)
        return None
    if kw == "DELETE" and kw2 == "NODE":
        _exec_delete_node(g, s)
        return None
    if kw == "UPDATE":
        _exec_update(g, s)
        return None
    if kw == "DROP":
        _exec_drop_table(g, s)
        return None
    if kw == "ALTER":
        _exec_alter_table(g, s)
        return None
    raise ValueError(f"unsupported statement: {s[:60]!r}")


def _exec_drop_table(g, sql: str) -> None:
    """DROP [NODE] TABLE [IF EXISTS] name (GraphViewConnection.cs:1496) |
    DROP PROC[EDURE] [IF EXISTS] name (GraphViewConnection.cs:1699)."""
    mp = re.match(
        r"(?is)^\s*DROP\s+PROC(?:EDURE)?\s+(?P<ife>IF\s+EXISTS\s+)?"
        r"(?P<p>\[[^\]]+\]|[A-Za-z_]\w*)\s*$",
        sql,
    )
    if mp:
        try:
            g.drop_procedure(mp.group("p").strip("[]"))
        except KeyError:
            if not mp.group("ife"):
                raise
        return
    m = re.match(
        r"(?is)^\s*DROP\s+(?:NODE\s+)?TABLE\s+(?P<ife>IF\s+EXISTS\s+)?"
        r"(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)\s*$",
        sql,
    )
    if not m:
        raise ValueError(f"cannot parse DROP: {sql[:60]!r}")
    tbl = m.group("tbl").strip("[]")
    if m.group("ife") and not g.catalog.has_table(tbl):
        return
    g.drop_node_table(tbl)


def _exec_alter_table(g, sql: str) -> None:
    """ALTER TABLE name DROP COLUMN col (GraphViewConnection.cs:2294) |
    ALTER TABLE name ADD <annotated column def> (AddNodeTableColumn,
    GraphViewConnection.cs:1849 — same annotation grammar as CREATE
    TABLE, so property AND edge columns can be added)."""
    m = re.match(
        r"(?is)^\s*ALTER\s+TABLE\s+(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)\s+"
        r"DROP\s+COLUMN\s+(?P<col>\[[^\]]+\]|[A-Za-z_]\w*)\s*$",
        sql,
    )
    if m:
        g.drop_node_table_column(
            m.group("tbl").strip("[]"), m.group("col").strip("[]")
        )
        return
    ma = re.match(
        r"(?is)^\s*ALTER\s+TABLE\s+(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)\s+"
        r"ADD\s+(?P<coldef>\[\s*ColumnRole\s*:.+)$",
        sql,
    )
    if not ma:
        raise ValueError(f"cannot parse ALTER TABLE: {sql[:60]!r}")
    g.add_node_table_column(ma.group("tbl").strip("[]"), ma.group("coldef"))


def _register_views(g, statement: str | None = None) -> None:
    want_degrees = statement is not None and re.search(
        r"(?i)\b(InDegree|OutDegree)\b", statement
    )

    def named(name: str) -> bool:
        return statement is None or re.search(
            rf"(?i)(?<!\w){re.escape(name)}(?!\w)", statement) is not None

    def _with_degrees(name: str, df):
        # the reference stores InDegree/<Edge>OutDegree as physical
        # columns (GraphViewParser.cs:1041-1131), so plain SELECTs can
        # read them — on tables and views alike; we attach the computed
        # aggregates on demand
        outd = g.out_degree(name).withColumnRenamed("out_degree", "OutDegree")
        ind = g.in_degree(name).withColumnRenamed("in_degree", "InDegree")
        return (
            df.join(outd, "GlobalNodeId", "left")
            .join(ind, "GlobalNodeId", "left")
            .withColumn("OutDegree", F.coalesce("OutDegree", F.lit(0)))
            .withColumn("InDegree", F.coalesce("InDegree", F.lit(0)))
        )

    for name, df in g.nodes.items():
        if want_degrees:
            df = _with_degrees(name, df)
        df.createOrReplaceTempView(name)
    for vname in g.catalog.node_views:
        # a view is a union over its member tables: build and register
        # it only for a statement that names it
        if not vname.startswith("_") and named(vname):
            vdf = g.node_view_df(vname)
            if want_degrees:
                vdf = _with_degrees(vname, vdf)
            vdf.createOrReplaceTempView(vname)
    for dname, df in g.derived_tables.items():
        df.createOrReplaceTempView(dname)
    if g.catalog.tables and named("GlobalNodeView"):
        # the union of ALL node tables (View.cs:2046-2114), queryable by
        # name like any view; _NodeType/_NodeId discriminate members.
        # Built only when referenced — the all-tables union is not free
        # to plan on every statement.
        g.global_node_view_df().createOrReplaceTempView("GlobalNodeView")


def _exec_select(g, sql: str) -> DataFrame | None:
    masked, lits = _mask_strings(sql)

    # SELECT ... INTO target FROM ... (SURVEY §2.1 'SELECT INTO'): strip
    # the INTO clause, run the select, register the result as a derived
    # table queryable by later statements
    into_target = None
    m_into = re.search(
        r"(?is)\s+INTO\s+(?P<t>\[[^\]]+\]|[A-Za-z_]\w*)\s+(?=FROM\b)", masked
    )
    if m_into:
        into_target = m_into.group("t").strip("[]")
        masked = masked[: m_into.start()] + " " + masked[m_into.end():]

    df = _exec_select_body(g, masked, lits)
    if into_target is not None:
        g.derived_tables[into_target] = df
        df.createOrReplaceTempView(into_target)
        return None
    return df


_SETOP_RE = re.compile(r"(?i)^(UNION\s+ALL|UNION|EXCEPT|INTERSECT)\b")


def _split_setops(masked: str) -> list[tuple[str | None, str]]:
    """Split a statement on depth-0 set operators:
    ``[(None, q1), ('UNION', q2), ('UNION ALL', q3), ...]``."""
    parts: list[tuple[str | None, str]] = []
    depth = 0
    start = 0
    op: str | None = None
    i = 0
    while i < len(masked):
        ch = masked[i]
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0:
            m = _SETOP_RE.match(masked[i:])
            if m and _is_kw(masked, i, m.end()):
                parts.append((op, masked[start:i]))
                op = re.sub(r"\s+", " ", m.group(1).upper())
                i += m.end()
                start = i
                continue
        i += 1
    parts.append((op, masked[start:]))
    return parts


def _exec_select_setops(g, parts, lits) -> DataFrame:
    """Plan each set-op branch through the full MATCH machinery and
    combine with SQL semantics (UNION = distinct, left-associative;
    columns align by position, first branch names win — the reference
    passes set ops through as plain T-SQL, WSelectQuery.cs). A trailing
    depth-0 ORDER BY/LIMIT on the LAST branch applies to the combined
    result (T-SQL's rule)."""
    last_op, last_text = parts[-1]
    tail_order = None
    mo = None
    depth = 0
    for j, ch in enumerate(last_text):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and re.match(r"(?i)ORDER\s+BY\b", last_text[j:]):
            if _is_kw(last_text, j, 5):
                mo = j
                break
    if mo is not None:
        tail_order = last_text[mo:]
        parts = parts[:-1] + [(last_op, last_text[:mo])]

    # T-SQL gives INTERSECT higher precedence than UNION/EXCEPT
    # (A UNION B INTERSECT C == A UNION (B INTERSECT C)), so fold
    # runs of INTERSECT into sub-results first, then apply
    # UNION/EXCEPT left-to-right across the folded groups.
    groups: list[tuple[str | None, list[str]]] = []
    for op, text in parts:
        if op == "INTERSECT" and groups:
            groups[-1][1].append(text)
        else:
            groups.append((op, [text]))

    acc = None
    cols = None
    for op, texts in groups:
        sub = None
        for text in texts:
            df = _exec_select_body(g, text.strip(), lits)
            if cols is None:
                cols = df.columns
            else:
                df = df.toDF(*cols)  # positional alignment, SQL-style
            sub = df if sub is None else sub.intersect(df)
        if acc is None:
            acc = sub
        elif op == "UNION ALL":
            acc = acc.unionByName(sub)
        elif op == "UNION":
            acc = acc.unionByName(sub).distinct()
        else:                        # EXCEPT
            acc = acc.subtract(sub)  # Spark subtract == EXCEPT DISTINCT
    if tail_order:
        acc.createOrReplaceTempView("__setop_result")
        acc = g.spark.sql(
            _unmask(f"SELECT * FROM __setop_result {tail_order}", lits)
        )
    return acc


def _has_depth0_match(text: str) -> bool:
    depth = 0
    for i, ch in enumerate(text):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and re.match(r"(?i)MATCH\b", text[i:]) and _is_kw(
            text, i, 5
        ):
            return True
    return False


_SUBQ_SEQ = [0]


def _plan_match_subqueries(g, masked: str, lits: list[str]) -> str:
    """Rewrite parenthesized SELECT...MATCH subqueries (derived tables,
    IN/EXISTS bodies) into temp-view references, planning each through
    the full MATCH machinery — so MATCH composes inside any statement,
    like the reference's arbitrary T-SQL nesting (GraphViewParser.cs:
    1605-1640). Recurses naturally: the planned body re-enters
    _exec_select_body, which applies this transformation again."""
    i = 0
    while i < len(masked):
        if masked[i] == "(":
            end = _match_paren(masked, i)
            body = masked[i + 1 : end]
            if re.match(r"(?is)\s*SELECT\b", body) and _has_depth0_match(body):
                df = _exec_select_body(g, body.strip(), lits)
                _SUBQ_SEQ[0] += 1
                name = f"__match_subq_{_SUBQ_SEQ[0]}"
                df.createOrReplaceTempView(name)
                rep = f"(SELECT * FROM {name})"
                masked = masked[:i] + rep + masked[end + 1 :]
                i += len(rep)
                continue
            # descend normally; inner parens handled by the loop
        i += 1
    return masked


def _exec_select_body(g, masked: str, lits: list[str]) -> DataFrame:
    # set operations between MATCH statements split here; without MATCH
    # the whole statement passes through Spark SQL untouched below
    if re.search(r"(?i)\bMATCH\b", masked):
        parts = _split_setops(masked)
        if len(parts) > 1:
            return _exec_select_setops(g, parts, lits)
        # nested MATCH subqueries plan first, wherever they appear
        masked = _plan_match_subqueries(g, masked, lits)
    clauses = _split_select(masked)

    if "match" not in clauses:
        # plain SQL over node tables/views — Spark SQL handles it all
        _register_views(g, masked)
        plain = _strip_ident_brackets(masked)
        plain = re.sub(
            r"(?is)^\s*SELECT\s+(DISTINCT\s+)?TOP\s*\(?\s*"
            r"\d+(?:\.\d+)?\s*\)?\s+(?:PERCENT\s+)?",
            r"SELECT \1", plain,
        )
        if clauses.get("top") and clauses.get("top_pct"):
            return _limit_percent(
                g.spark.sql(_unmask(plain, lits)), float(clauses["top"])
            )
        if clauses.get("top"):
            plain += f" LIMIT {clauses['top']}"
        return g.spark.sql(_unmask(plain, lits))

    pattern = parse_match_paths(_unmask(clauses["match"], lits))
    bindings, join_tails = _parse_from(clauses["from"])
    alias_filters = _pushable_filters(
        g, clauses.get("where", ""), bindings, pattern, lits
    )
    matched = plan_match(g, pattern, bindings, alias_filters)
    matched = _attach_degree_columns(g, matched, masked, bindings)
    matched.createOrReplaceTempView("__match_result")
    # node tables/views resolve as temp views too, so subqueries and
    # qualified JOINs against non-pattern tables work (the reference allows
    # arbitrary T-SQL around MATCH, GraphViewParser.cs:1605-1640)
    _register_views(g, masked)

    select_list = clauses["select"].strip()
    if select_list == "*":
        parts = []
        for alias in bindings:
            parts.append(_prefixed_star(g, alias, bindings[alias]))
        select_list = ", ".join(parts)
    else:
        # a bare `A.name` select item outputs column `name` in T-SQL;
        # restore that after the A_name rewrite (explicit AS, star, and
        # expression items are untouched)
        items = []
        for item in _split_depth0(select_list, ","):
            bare = re.fullmatch(r"\s*([A-Za-z_]\w*)\s*\.\s*(\w+)\s*", item)
            rewritten = _rewrite_refs(g, item, bindings, pattern)
            if bare and bare.group(1) in bindings:
                rewritten = f"{rewritten.strip()} AS {bare.group(2)}"
            items.append(rewritten)
        select_list = ", ".join(items)

    from_sql = "__match_result"
    for tail in join_tails:
        from_sql += " " + _strip_ident_brackets(
            _rewrite_refs(g, tail, bindings, pattern)
        )
    out = [f"SELECT {clauses['distinct']}{select_list} FROM {from_sql}"]
    for key, kw in [("where", "WHERE"), ("group", "GROUP BY"),
                    ("having", "HAVING"), ("order", "ORDER BY")]:
        if clauses.get(key):
            out.append(f"{kw} {_rewrite_refs(g, clauses[key], bindings, pattern)}")
    if clauses.get("limit"):
        out.append(f"LIMIT {clauses['limit']}")
    elif clauses.get("top") and not clauses.get("top_pct"):
        out.append(f"LIMIT {clauses['top']}")
    result = g.spark.sql(_unmask(" ".join(out), lits))
    if clauses.get("top") and clauses.get("top_pct"):
        result = _limit_percent(result, float(clauses["top"]))
    return result


def _limit_percent(df: DataFrame, pct: float) -> DataFrame:
    """T-SQL ``TOP n PERCENT``: ceil(pct% of the result's row count).
    The plan is materialized and counted by one job (counted_ckpt) so
    the count and the returned subset see the same rows even on a
    nondeterministic source, and the query cost isn't paid twice."""
    import math

    df, rows = counted_ckpt(df)
    return df.limit(math.ceil(pct * rows / 100.0))


_DEGREE_REF = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*(InDegree|OutDegree)\b")


def _attach_degree_columns(g, matched: DataFrame, masked: str,
                           bindings: dict[str, str]) -> DataFrame:
    """Make ``A.InDegree`` / ``A.OutDegree`` addressable in the dialect
    (reserved output columns, GraphViewKeywords.cs:40-49): every referenced
    (alias, kind) pair left-joins the computed degree aggregate onto the
    match result as ``{alias}_{kind}`` (0 for isolated nodes). The degree
    aggregate is one map-side-combinable groupBy on the edge DF — at scale
    the join key is the same GlobalNodeId partitioning every pattern join
    already uses."""
    refs = {
        (a, kind)
        for a, kind in _DEGREE_REF.findall(masked)
        if a in bindings
    }
    for alias, kind in sorted(refs):
        name = bindings[alias]
        # node tables AND node views: out_degree/in_degree resolve a view
        # to its member tables and union their degrees
        if kind == "OutDegree":
            deg = g.out_degree(name)
            src_col = "out_degree"
        else:
            deg = g.in_degree(name)
            src_col = "in_degree"
        key = f"{alias}_GlobalNodeId"
        deg = deg.select(
            F.col("GlobalNodeId").alias(key),
            F.col(src_col).alias(f"{alias}_{kind}"),
        )
        matched = matched.join(deg, key, "left").withColumn(
            f"{alias}_{kind}",
            F.coalesce(F.col(f"{alias}_{kind}"), F.lit(0).cast("long")),
        )
    return matched


def _prefixed_star(g, alias: str, name: str) -> str:
    if g.catalog.has_table(name):
        t = g.catalog.table(name)
        return ", ".join(f"{alias}_{p}" for p, _ in t.properties)
    v = g.catalog.node_view(name)
    props = ["NodeType", "NodeId"] + sorted(v.prop_map)
    return ", ".join(f"{alias}_{p}" for p in props)


def _exec_insert_node(g, sql: str) -> None:
    """INSERT INTO T (cols) VALUES (...) | SELECT ...

    The reference's INSERT is plain T-SQL passthrough whose source may be
    any query (WDataModification.cs:77-149, WInsertSources.cs) — so a
    SELECT source (including MATCH inside, or a registered CTE/derived
    table) feeds ``insert_nodes_df`` directly.
    """
    masked, lits = _mask_strings(sql)
    m = re.match(
        r"(?is)^\s*INSERT\s+INTO\s+(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)\s*"
        r"(?:\((?P<cols>[^)]*)\)\s*)?(?P<src>VALUES\b.*|SELECT\b.*|\(\s*SELECT\b.*)$",
        masked,
    )
    if not m:
        raise ValueError(f"cannot parse INSERT: {sql[:80]!r}")
    tbl = m.group("tbl").strip("[]")
    cols = (
        [c.strip().strip("[]") for c in m.group("cols").split(",")]
        if m.group("cols") is not None
        else None
    )
    src = m.group("src").strip()
    if re.match(r"(?is)^VALUES\b", src):
        if cols is None:
            raise ValueError("INSERT ... VALUES requires a column list")
        vals_text = re.sub(r"(?is)^VALUES\s*", "", src)
        rows = []
        for tup in re.finditer(r"\(([^)]*)\)", vals_text):
            vals = [
                _parse_literal(_unmask(v.strip(), lits))
                for v in _split_depth0(tup.group(1), ",")
            ]
            if len(vals) != len(cols):
                raise ValueError("VALUES arity mismatch")
            rows.append(dict(zip(cols, vals)))
        g.insert_nodes(tbl, rows)
        return
    # SELECT source — possibly parenthesized
    if src.startswith("("):
        src = src[1 : _match_paren(src, 0)]
    df = _exec_select(g, _unmask(src, lits))
    if df is None:
        raise ValueError("INSERT ... SELECT: source produced no result")
    if cols is None:
        cols = list(df.columns)
    elif len(df.columns) != len(cols):
        raise ValueError(
            f"INSERT ... SELECT arity mismatch: {len(cols)} columns vs "
            f"{len(df.columns)} select items"
        )
    df = df.toDF(*cols)
    t = g.catalog.table(tbl)
    prop_names = [n for n, _ in t.properties]
    unknown = [c for c in cols if c not in prop_names]
    if unknown:
        raise ValueError(f"INSERT into '{t.name}': not a property: {unknown}")
    if t.node_id_column and t.node_id_column not in cols:
        raise ValueError(
            f"INSERT into '{t.name}' requires NodeId column "
            f"'{t.node_id_column}'"
        )
    node_types = {f.name: f.dataType for f in g.nodes[t.name].schema.fields}
    sel = [
        (
            F.col(n).cast(node_types[n]) if n in cols else F.lit(None).cast(node_types[n])
        ).alias(n)
        for n in prop_names
    ]
    g.insert_nodes_df(tbl, df.select(*sel))


def _parse_literal(tok: str):
    tok = tok.strip()
    if tok.upper() == "NULL":
        return None
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1].replace("''", "'")
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    if tok.lower() in ("true", "false"):
        return tok.lower() == "true"
    return tok


def _exec_insert_edge(g, sql: str) -> None:
    """INSERT EDGE INTO T.Edge SELECT src, sink[, attr...] FROM ... WHERE ...

    Reference pipeline (TranslateDataModificationVisitor.cs:183-996):
    select (src, sink, attrs) → GROUP BY src + Encoder aggregate →
    adjacency update. Here: run the SELECT via Spark SQL (bare node
    aliases become ``alias.GlobalNodeId``), append to the edge DF.
    """
    masked, lits = _mask_strings(sql)
    m = re.match(
        r"(?is)^\s*INSERT\s+EDGE\s+INTO\s+"
        r"(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)\s*\.\s*(?P<edge>\[[^\]]+\]|[A-Za-z_]\w*)\s+"
        r"SELECT\s+(?P<list>.+?)\s+FROM\s+(?P<rest>.+)$",
        masked,
    )
    if not m:
        raise ValueError(f"cannot parse INSERT EDGE: {sql[:80]!r}")
    tbl = m.group("tbl").strip("[]")
    edge = m.group("edge").strip("[]")
    et = g.catalog.resolve_edge(tbl, edge)

    items = [i.strip() for i in _split_depth0(m.group("list"), ",")]
    if len(items) < 2:
        raise ValueError("INSERT EDGE SELECT needs source and sink aliases")
    src_a, sink_a = items[0], items[1]
    attr_exprs = items[2:]
    if len(attr_exprs) > len(et.attributes):
        raise ValueError(
            f"edge '{et.qualified}' has {len(et.attributes)} attributes, "
            f"got {len(attr_exprs)} values"
        )
    sel = [f"{src_a}.GlobalNodeId AS src", f"{sink_a}.GlobalNodeId AS sink"]
    for expr, (aname, atype) in zip(attr_exprs, et.attributes):
        sel.append(f"CAST({expr} AS {atype}) AS {aname}")
    rest = m.group("rest")
    if _has_depth0_match(rest):
        # the edge source is itself a MATCH query (e.g. materializing
        # 2-hop paths as new edges) — plan through the MATCH machinery
        pairs = _exec_select_body(
            g, f"SELECT {', '.join(sel)} FROM {rest}", lits
        )
    else:
        _register_views(g, masked)
        q = f"SELECT {', '.join(sel)} FROM {_strip_ident_brackets(rest)}"
        pairs = g.spark.sql(_unmask(q, lits))
    g.insert_edges_df(tbl, edge, pairs)


def _exec_delete_edge(g, sql: str) -> None:
    """DELETE EDGE [x]-[E]->[y] FROM ... WHERE ...  (1-hop pattern only,
    reference GraphViewParser.cs:1558-1562)."""
    masked, lits = _mask_strings(sql)
    m = re.match(
        r"(?is)^\s*DELETE\s+EDGE\s+(?P<pat>.+?)\s+FROM\s+(?P<from>.+?)"
        r"(?:\s+WHERE\s+(?P<where>.+))?$",
        masked,
    )
    if not m:
        raise ValueError(f"cannot parse DELETE EDGE: {sql[:80]!r}")
    pattern = parse_match_paths(_unmask(m.group("pat"), lits))
    if len(pattern.edges) != 1 or pattern.edges[0].is_path:
        raise ValueError("DELETE EDGE expects exactly one 1-hop pattern edge")
    e = pattern.edges[0]
    bindings = _parse_from_list(_unmask(m.group("from"), lits))
    matched = plan_match(g, pattern, bindings)
    if m.group("where"):
        cond = _rewrite_refs(g, m.group("where"), bindings, pattern)
        matched = matched.filter(F.expr(_unmask(cond, lits)))
    pairs = matched.select(
        F.col(f"{e.alias}_src").alias("src"),
        F.col(f"{e.alias}_edge_id").alias("edge_id"),
    ).distinct()
    g.delete_edges(bindings[e.src_alias], e.edge_name, pairs)


def _split_union_all_depth0(text: str) -> list[str]:
    parts: list[str] = []
    cur: list[str] = []
    depth, i = 0, 0
    upper = text.upper()
    while i < len(text):
        ch = text[i]
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if depth == 0:
            mm = re.match(r"UNION\s+ALL\b", upper[i:])
            if mm and _is_kw(text, i, mm.end()):
                parts.append("".join(cur))
                cur = []
                i += mm.end()
                continue
        cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _compile_fn_body(body: str, env: dict[str, str]) -> str | None:
    """Compile a T-SQL scalar-function statement body (DECLARE / SET /
    IF...ELSE / RETURN) into ONE SQL expression, continuation-passing
    style: an IF inlines the remaining statements into both branches, so
    an early RETURN in one branch and fall-through in the other compile
    exactly. ``env`` maps @variable names to their current SQL
    expression (parameters map to the UDF argument names). Returns None
    when control falls off the end (T-SQL raises at runtime; we yield
    NULL). WHILE and side-effecting statements raise — those belong in
    CREATE PROCEDURE."""
    from graphview_spark.catalog import normalize_sql_type
    from graphview_spark.scripting import split_cond_block, split_statements

    def subst(expr: str, e: dict[str, str]) -> str:
        return re.sub(
            r"@(\w+)",
            lambda mm: f"({e[mm.group(1)]})" if mm.group(1) in e
            else mm.group(0),
            expr,
        )

    stmts = split_statements(body)
    for i, st in enumerate(stmts):
        st = st.strip()
        if not st:
            continue
        m = re.match(r"(?is)^RETURN\s+(?P<e>.+)$", st, re.DOTALL)
        if m:
            return subst(m.group("e").strip(), env)
        m = re.match(r"(?is)^DECLARE\s+(?P<rest>.+)$", st, re.DOTALL)
        if m:
            env = dict(env)
            # T-SQL allows several variables per DECLARE; split on
            # depth-0 commas (type commas like DECIMAL(10,2) and
            # initializer function calls sit inside parens)
            for item in _split_depth0(m.group("rest"), ","):
                im = re.match(
                    r"(?is)^@(?P<n>\w+)\s+(?P<t>[\w(), ]+?)"
                    r"(?:\s*=\s*(?P<init>.+))?$",
                    item.strip(),
                    re.DOTALL,
                )
                if not im:
                    raise ValueError(
                        f"cannot parse DECLARE item: {item.strip()[:60]!r}"
                    )
                env[im.group("n")] = (
                    subst(im.group("init").strip(), env)
                    if im.group("init")
                    else f"CAST(NULL AS {normalize_sql_type(im.group('t'))})"
                )
            continue
        m = re.match(r"(?is)^SET\s+@(?P<n>\w+)\s*=\s*(?P<e>.+)$", st, re.DOTALL)
        if m:
            env = dict(env)
            env[m.group("n")] = subst(m.group("e").strip(), env)
            continue
        m = re.match(r"(?is)^IF\b(?P<rest>.+)$", st, re.DOTALL)
        if m:
            cond, then_body, tail = split_cond_block(m.group("rest"))
            else_body = ""
            if tail.strip():
                em = re.match(r"(?is)^\s*ELSE\b(?P<erest>.+)$", tail, re.DOTALL)
                if not em:
                    raise ValueError(
                        f"unexpected text after IF block: {tail[:40]!r}"
                    )
                _, else_body, etail = split_cond_block(" TRUE " + em.group("erest"))
                if etail.strip():
                    raise ValueError(
                        f"unexpected text after ELSE block: {etail[:40]!r}"
                    )
            rest = ";".join(stmts[i + 1 :])
            r_then = _compile_fn_body(f"{then_body};{rest}", env)
            r_else = _compile_fn_body(f"{else_body};{rest}", env)
            return (
                f"CASE WHEN ({subst(cond, env)}) "
                f"THEN {r_then if r_then is not None else 'NULL'} "
                f"ELSE {r_else if r_else is not None else 'NULL'} END"
            )
        raise ValueError(
            "CREATE FUNCTION bodies support DECLARE / SET / IF...ELSE / "
            f"RETURN (use CREATE PROCEDURE for {st.split(None, 1)[0].upper()} "
            f"and side-effecting statements): {st[:60]!r}"
        )
    return None


def _exec_create_function(g, sql: str) -> None:
    """T-SQL scalar CREATE FUNCTION → Spark declarative SQL UDF.

    The reference parses CREATE FUNCTION and passes arbitrary function
    bodies through to SQL Server (WProcedureStatement.cs:150-250). Spark
    ≥4.0 has declarative SQL UDFs whose body is one expression, so the
    statement body (DECLARE / SET / IF...ELSE / RETURN, nested
    arbitrarily) is compiled into a single nested-CASE expression by
    ``_compile_fn_body`` — deterministic, executed JVM-side inside
    codegen, no Python UDF. WHILE loops raise with a pointer to CREATE
    PROCEDURE (driver-side interpretation), matching the split the
    reference's users see between inlineable and procedural T-SQL."""
    masked, lits = _mask_strings(sql)
    head = re.match(
        r"(?is)^\s*CREATE\s+FUNCTION\s+(?P<name>\[[^\]]+\]|[A-Za-z_]\w*)\s*(?=\()",
        masked,
    )
    if not head:
        raise ValueError(f"cannot parse CREATE FUNCTION: {sql[:60]!r}")
    pend = _match_paren(masked, head.end())
    tail = re.match(
        r"(?is)^\s*RETURNS\s+(?P<ret>[\w(), ]+?)\s+AS\s*(?=BEGIN\b)",
        masked[pend + 1 :],
    )
    if not tail:
        raise ValueError(
            "CREATE FUNCTION requires RETURNS <type> AS BEGIN ... END: "
            f"{sql[:60]!r}"
        )
    from graphview_spark.catalog import normalize_sql_type
    from graphview_spark.scripting import _find_matching_end

    rest_text = masked[pend + 1 :]
    bstart = tail.end()
    bend = _find_matching_end(rest_text, bstart)
    body = rest_text[bstart + 5 : bend - 3]
    trailing = rest_text[bend:].strip().rstrip(";").strip()
    if trailing:
        raise ValueError(
            f"unexpected text after function body: {trailing[:40]!r}"
        )

    params = []
    for p in _split_depth0(masked[head.end() + 1 : pend], ","):
        p = p.strip()
        if not p:
            continue
        pm = re.match(r"@(?P<n>\w+)\s+(?P<t>[\w(), ]+)$", p)
        if not pm:
            raise ValueError(f"cannot parse function parameter: {p!r}")
        params.append((pm.group("n"), normalize_sql_type(pm.group("t"))))
    expr = _compile_fn_body(body, {n: n for n, _ in params})
    name = head.group("name").strip("[]")
    sig = ", ".join(f"{n} {t}" for n, t in params)
    ret = normalize_sql_type(tail.group("ret"))
    if expr is None:
        expr = f"CAST(NULL AS {ret})"
    g.spark.sql(
        _unmask(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) "
            f"RETURNS {ret} RETURN {expr}",
            lits,
        )
    )


def _exec_create_procedure(g, sql: str) -> None:
    """CREATE PROCEDURE name @p TYPE[, ...] AS BEGIN stmt; [...] END —
    reference: GraphViewConnection.CreateProcedure translates the body's
    graph statements at create time (GraphViewConnection.cs:1619-1698,
    StoredProcedureTutorial.cs:39-55); we store the raw statements and run
    them through execute_statement at call time."""
    masked, lits = _mask_strings(sql)
    m = re.match(
        r"(?is)^\s*CREATE\s+PROC(?:EDURE)?\s+"
        r"(?P<name>\[[^\]]+\]|[A-Za-z_]\w*)\s*(?P<params>.*?)"
        r"\bAS\s+BEGIN\b(?P<body>.*)\bEND\s*$",
        masked,
    )
    if not m:
        raise ValueError(f"cannot parse CREATE PROCEDURE: {sql[:80]!r}")
    name = m.group("name").strip("[]")
    params = re.findall(r"@(\w+)", m.group("params"))
    statements = [
        _unmask(p, lits).strip()
        for p in _split_depth0(m.group("body"), ";")
        if p.strip()
    ]
    if not statements:
        raise ValueError(f"procedure '{name}' has an empty body")
    g.create_procedure(name, params, statements)


def _exec_exec(g, sql: str) -> DataFrame | None:
    """EXEC name @p = value[, ...] (or positional values in declaration
    order) — the dialect analog of invoking a stored procedure through a
    command object (StoredProcedureTutorial.cs:60-76). The dynamic-SQL
    form ``EXEC('statement string')`` (and concatenations of string
    literals) runs the assembled text back through the full dialect
    executor — T-SQL semantics, where the string is its own batch."""
    masked, lits = _mask_strings(sql)
    md = re.match(
        r"(?is)^\s*EXEC(?:UTE)?\s*\(\s*(?P<parts>\x00\d+\x00"
        r"(?:\s*\+\s*\x00\d+\x00)*)\s*\)\s*$",
        masked,
    )
    if md:
        text = "".join(
            _unmask(p.strip(), lits).strip()[1:-1].replace("''", "'")
            for p in md.group("parts").split("+")
        )
        return execute_statement(g, text)
    m = re.match(
        r"(?is)^\s*EXEC(?:UTE)?\s+(?P<name>\[[^\]]+\]|[A-Za-z_]\w*)\s*(?P<args>.*)$",
        masked,
    )
    if not m:
        raise ValueError(f"cannot parse EXEC: {sql[:80]!r}")
    name = m.group("name").strip("[]")
    args_text = m.group("args").strip()
    kwargs: dict[str, object] = {}
    if args_text:
        proc = g.catalog.procedures.get(name)
        items = [a.strip() for a in _split_depth0(args_text, ",") if a.strip()]
        for i, item in enumerate(items):
            am = re.match(r"(?s)^\s*@(\w+)\s*=\s*(.+)$", item)
            if am:
                kwargs[am.group(1)] = _parse_literal(
                    _unmask(am.group(2).strip(), lits)
                )
            else:
                if proc is None or i >= len(proc.params):
                    raise ValueError(
                        f"EXEC {name}: cannot bind positional argument {i}"
                    )
                kwargs[proc.params[i]] = _parse_literal(_unmask(item, lits))
    return g.execute_procedure(name, **kwargs)


def _exec_create_node_view(g, sql: str) -> None:
    """CREATE NODE VIEW V AS SELECT a[, ...] FROM T1 UNION ALL ... —
    reference grammar: one node table per SELECT, elements align by
    position, NULL pads missing properties, ``SELECT *`` in every branch
    means by-name default mapping (View.cs:689-737,
    CreateViewVisitor.cs:40-130)."""
    masked, lits = _mask_strings(sql)
    m = re.match(
        r"(?is)^\s*CREATE\s+NODE\s+VIEW\s+"
        r"(?P<name>\[[^\]]+\]|[A-Za-z_]\w*)\s+AS\s+(?P<body>.+)$",
        masked,
    )
    if not m:
        raise ValueError(f"cannot parse CREATE NODE VIEW: {sql[:80]!r}")
    name = m.group("name").strip("[]")
    branches: list[tuple[str, str]] = []
    for br in _split_union_all_depth0(m.group("body")):
        bm = re.match(
            r"(?is)^\s*SELECT\s+(?P<list>.+?)\s+FROM\s+"
            r"(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)\s*$",
            br,
        )
        if not bm:
            raise ValueError(
                "each CREATE NODE VIEW branch must be "
                f"'SELECT <props> FROM <table>': {br[:60]!r}"
            )
        branches.append(
            (g.catalog.table(bm.group("tbl").strip("[]")).name,
             bm.group("list").strip())
        )
    members = [t for t, _ in branches]
    if all(lst == "*" for _, lst in branches):
        g.create_node_view(name, members)
        return
    per_branch: list[tuple[str, list[tuple[str | None, str | None]]]] = []
    for tbl, lst in branches:
        items: list[tuple[str | None, str | None]] = []
        for item in _split_depth0(lst, ","):
            im = re.match(
                r"(?is)^\s*(?P<col>NULL|[A-Za-z_]\w*)"
                r"(?:\s+AS\s+(?P<alias>\w+))?\s*$",
                _strip_ident_brackets(item),
            )
            if not im:
                raise ValueError(
                    f"unsupported node-view select element: {item.strip()!r}"
                )
            col = None if im.group("col").upper() == "NULL" else im.group("col")
            items.append((col, im.group("alias")))
        per_branch.append((tbl, items))
    width = len(per_branch[0][1])
    if any(len(items) != width for _, items in per_branch):
        raise ValueError(
            "CREATE NODE VIEW branches must select the same number of columns"
        )
    prop_map: dict[str, dict[str, str]] = {}
    for i in range(width):
        vname = None
        for _, items in per_branch:
            if items[i][1]:
                vname = items[i][1]
                break
        if vname is None:
            for _, items in per_branch:
                if items[i][0]:
                    vname = items[i][0]
                    break
        if vname is None:
            raise ValueError(f"node-view column {i} is NULL in every branch")
        col_map = {}
        for tbl, items in per_branch:
            if items[i][0] is not None:
                col_map[tbl] = items[i][0]
        prop_map[vname] = col_map
    g.create_node_view(name, members, prop_map)


def _exec_create_edge_view(g, sql: str) -> None:
    """CREATE EDGE VIEW [V.]E AS SELECT * FROM T1.E1 UNION ALL ... —
    reference: a virtual edge column merging physical edge columns
    (View.cs:830-874). Attribute merging by name is handled by
    create_edge_view/edge_view_df."""
    masked, _lits = _mask_strings(sql)
    m = re.match(
        r"(?is)^\s*CREATE\s+EDGE\s+VIEW\s+"
        r"(?:(?P<view>[A-Za-z_]\w*)\s*\.\s*)?(?P<name>[A-Za-z_]\w*)\s+AS\s+"
        r"(?P<body>.+)$",
        _strip_ident_brackets(masked),
    )
    if not m:
        raise ValueError(f"cannot parse CREATE EDGE VIEW: {sql[:80]!r}")
    members: list[tuple[str, str]] = []
    for br in _split_union_all_depth0(m.group("body")):
        bm = re.match(
            r"(?is)^\s*SELECT\s+\*\s+FROM\s+"
            r"(?P<tbl>[A-Za-z_]\w*)\s*\.\s*(?P<edge>[A-Za-z_]\w*)\s*$",
            br,
        )
        if not bm:
            raise ValueError(
                "each CREATE EDGE VIEW branch must be "
                f"'SELECT * FROM <table>.<edge>': {br[:60]!r}"
            )
        members.append((bm.group("tbl"), bm.group("edge")))
    g.create_edge_view(m.group("name"), members)


def _exec_update(g, sql: str) -> None:
    """UPDATE T SET col = expr[, ...] [FROM ... JOIN ...] [WHERE cond]
    (reference: UPDATE is full T-SQL passthrough incl. FROM/JOIN,
    WDataModification.cs:386+). Without FROM: a map-only rewrite of the
    node DF. With FROM: the source query computes per-node new values,
    joined back on GlobalNodeId."""
    masked, lits = _mask_strings(sql)
    mh = re.match(
        r"(?is)^\s*UPDATE\s+(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)\s+SET\s+(?P<rest>.+)$",
        masked,
    )
    if not mh:
        raise ValueError(f"cannot parse UPDATE: {sql[:80]!r}")
    tbl = mh.group("tbl").strip("[]")
    rest = mh.group("rest")
    # split SET / FROM / WHERE at paren depth 0 only — a FROM inside a
    # scalar-subquery SET value must not start the source clause
    from_idx = _find_kw_depth0(rest, "FROM")
    where_idx = _find_kw_depth0(rest, "WHERE")
    set_end = min(x for x in (from_idx, where_idx, len(rest)) if x >= 0)
    set_text = rest[:set_end]
    from_text = (
        rest[from_idx + 4 : (where_idx if where_idx > from_idx else len(rest))]
        if from_idx >= 0
        else None
    )
    where_text = rest[where_idx + 5 :] if where_idx >= 0 else None
    if from_text is not None:
        _exec_update_from(g, tbl, set_text, from_text, where_text, lits)
        return
    t = g.catalog.table(tbl)

    def strip_qual(txt: str) -> str:
        # People.name → name (single-table statement, like DELETE NODE)
        return re.sub(
            rf"\b{re.escape(t.name)}\s*\.\s*(\w+)", r"\1", txt, flags=re.IGNORECASE
        )

    assignments: dict[str, str] = {}
    for item in _split_depth0(set_text, ","):
        am = re.match(
            r"(?s)\s*(?:\[(?P<bcol>[^\]]+)\]|(?P<col>[A-Za-z_]\w*))\s*=\s*(?P<val>.+)$",
            item,
        )
        if not am:
            raise ValueError(f"cannot parse SET item: {item!r}")
        col = (am.group("bcol") or am.group("col")).strip()
        assignments[col] = _unmask(strip_qual(am.group("val").strip()), lits)
    if where_text:
        cond = F.expr(_unmask(strip_qual(where_text), lits))
    else:
        cond = F.lit(True)
    g.update_nodes(tbl, assignments, cond)


def _find_kw_depth0(text: str, kw: str) -> int:
    """Index of the first depth-0 occurrence of keyword ``kw``, or -1."""
    depth = 0
    up, kwu = text.upper(), kw.upper()
    for i, ch in enumerate(text):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and up.startswith(kwu, i) and _is_kw(text, i, len(kw)):
            return i
    return -1


def _exec_update_from(g, target: str, set_text: str, from_text: str,
                      where_text: str | None, lits: list[str]) -> None:
    """UPDATE alias SET col = expr, ... FROM <sources> [WHERE ...]:
    plan ``SELECT alias.GlobalNodeId, <set exprs> FROM ... WHERE ...``
    through the normal SELECT machinery (joins, subqueries, CTE-registered
    views all work), dedupe to one row per target node (T-SQL leaves
    multi-match UPDATE..FROM nondeterministic; we take a deterministic
    first by value order), then overwrite via ``update_nodes_from``."""
    # the UPDATE target may be the table name itself or an alias bound in
    # FROM ("UPDATE C ... FROM Customer C JOIN ...")
    if g.catalog.has_table(target):
        t = g.catalog.table(target)
    else:
        am = re.search(
            rf"(?is)(\[[^\]]+\]|[A-Za-z_]\w*)\s+(?:AS\s+)?{re.escape(target)}\b",
            from_text,
        )
        if not am or not g.catalog.has_table(am.group(1).strip("[]")):
            raise ValueError(
                f"UPDATE ... FROM: cannot resolve target '{target}' to a "
                f"node table in the FROM clause"
            )
        t = g.catalog.table(am.group(1).strip("[]"))
    set_cols: list[str] = []
    set_exprs: list[str] = []
    for item in _split_depth0(set_text, ","):
        am = re.match(
            r"(?s)\s*(?:\[(?P<bcol>[^\]]+)\]|(?P<col>[A-Za-z_]\w*(?:\s*\.\s*\w+)?))"
            r"\s*=\s*(?P<val>.+)$",
            item,
        )
        if not am:
            raise ValueError(f"cannot parse SET item: {item!r}")
        col = (am.group("bcol") or am.group("col")).strip()
        col = re.sub(r"^\w+\s*\.\s*", "", col)  # alias.col → col
        set_cols.append(col)
        set_exprs.append(am.group("val").strip())
    sel = [f"{target}.GlobalNodeId AS GlobalNodeId"]
    sel += [f"{e} AS __set_{c}" for c, e in zip(set_cols, set_exprs)]
    src_sql = f"SELECT {', '.join(sel)} FROM {from_text}"
    if where_text:
        src_sql += f" WHERE {where_text}"
    updates = _exec_select(g, _unmask(src_sql, lits))
    if updates is None:
        raise ValueError("UPDATE ... FROM: source query produced no result")
    w = W.partitionBy("GlobalNodeId").orderBy(
        *[F.col(f"__set_{c}") for c in set_cols]
    )
    updates = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("__match", F.lit(True))
    )
    g.update_nodes_from(t.name, updates, set_cols)


def _exec_merge(g, sql: str) -> None:
    """MERGE INTO T [AS a] USING (<query>)|<table> [AS] s ON <cond>
    [WHEN MATCHED THEN UPDATE SET col = expr, ...]
    [WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)]

    Reference: MERGE is plain T-SQL passthrough like every non-graph DML
    statement (WDataModification.cs:77+ shows the passthrough pattern).
    Spark-first plan: ONE source scan feeds two set-oriented branches —
    the matched branch is the UPDATE...FROM join-back, the not-matched
    branch an anti-join (NOT EXISTS) INSERT...SELECT. Multi-match rows
    (which T-SQL MERGE rejects at runtime) take a deterministic first by
    value order, same as UPDATE...FROM."""
    masked, lits = _mask_strings(sql)
    mh = re.match(
        r"(?is)^\s*MERGE\s+(?:INTO\s+)?(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)"
        r"(?:\s+AS\s+(?P<talias>\w+)|\s+(?!USING\b)(?P<talias2>[A-Za-z_]\w*))?"
        r"\s+USING\s+(?=(?P<paren>\()|)",
        masked,
    )
    if not mh:
        raise ValueError(f"cannot parse MERGE: {sql[:80]!r}")
    tbl = mh.group("tbl").strip("[]")
    talias = mh.group("talias") or mh.group("talias2") or tbl
    # the USING source: balanced-paren subquery (nests arbitrarily) or a
    # bare table name
    if mh.group("paren"):
        send = _match_paren(masked, mh.end())
        src_text = masked[mh.end() : send + 1]
        after = masked[send + 1 :]
    else:
        ms = re.match(r"\s*(\[[^\]]+\]|[A-Za-z_]\w*)", masked[mh.end():])
        if not ms:
            raise ValueError(f"cannot parse MERGE USING: {sql[:80]!r}")
        src_text = ms.group(1)
        after = masked[mh.end() + ms.end():]
    ma = re.match(
        r"(?is)^(?:\s+AS\s+(?P<salias>\w+)|\s+(?!ON\b)(?P<salias2>[A-Za-z_]\w*))?"
        r"\s+ON\s+(?P<rest>.+)$",
        after,
    )
    if not ma:
        raise ValueError(f"cannot parse MERGE ON: {sql[:80]!r}")
    salias = ma.group("salias") or ma.group("salias2")
    rest = ma.group("rest")

    first_when = _find_kw_depth0(rest, "WHEN")
    if first_when < 0:
        raise ValueError("MERGE requires at least one WHEN branch")
    on_text = rest[:first_when].strip()
    branches = rest[first_when:]

    upd = re.search(
        r"(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(?P<set>.+?)"
        r"(?=WHEN\s+NOT\s+MATCHED|$)",
        branches,
    )
    # the VALUES list may nest calls arbitrarily (upper(concat(...))) —
    # scan balanced parens instead of bounding nesting depth by regex
    ins = None
    ins_head = re.search(
        r"(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*\((?P<cols>[^)]*)\)"
        r"\s*VALUES\s*(?=\()",
        branches,
    )
    if ins_head:
        vstart = ins_head.end()
        vend = _match_paren(branches, vstart)
        ins = {
            "cols": ins_head.group("cols"),
            "vals": branches[vstart + 1 : vend],
        }
    if not upd and not ins:
        raise ValueError(f"cannot parse MERGE WHEN branches: {sql[:80]!r}")

    # register the source once (a subquery plans through the full SELECT
    # machinery — MATCH, CTE views, joins all allowed)
    src = src_text.strip()
    if src.startswith("("):
        df = _exec_select(g, _unmask(src[1:-1].strip(), lits))
        if df is None:
            raise ValueError("MERGE USING: source produced no result")
        df.createOrReplaceTempView("__merge_src")
        src_ref = "__merge_src"
    else:
        src_ref = src.strip("[]")
    src_clause = f"{src_ref} {salias}" if salias else src_ref

    # T-SQL MERGE evaluates every WHEN branch against the PRE-statement
    # snapshot: an UPDATE that rewrites an ON-key column must not change
    # which source rows the INSERT branch sees. So the NOT MATCHED
    # anti-join is computed (and materialized — localCheckpoint pins the
    # rows, the lazy plan would otherwise re-read the updated target)
    # BEFORE the matched-branch update runs.
    ins_df = None
    if ins:
        anti = (
            f"SELECT {ins['vals']} FROM {src_clause} "
            f"WHERE NOT EXISTS (SELECT 1 FROM {tbl} "
            f"{talias if talias != tbl else ''} WHERE {on_text})"
        )
        ins_df = _exec_select(g, _unmask(anti, lits))
        if ins_df is None:
            raise ValueError("MERGE: NOT MATCHED branch produced no result")
        ins_df = ins_df.localCheckpoint(eager=True)
    if upd:
        from_text = f"{tbl} {talias if talias != tbl else ''} ".strip()
        from_text += f" JOIN {src_clause} ON {on_text}"
        _exec_update_from(g, talias, upd.group("set"), from_text, None, lits)
    if ins_df is not None:
        cols = [c.strip().strip("[]") for c in ins["cols"].split(",")]
        ins_df.createOrReplaceTempView("__merge_ins")
        stmt = f"INSERT INTO {tbl} ({', '.join(cols)}) SELECT * FROM __merge_ins"
        _exec_insert_node(g, stmt)


def _exec_delete_node(g, sql: str) -> None:
    masked, lits = _mask_strings(sql)
    # join-delete form first: DELETE NODE alias FROM <sources> [WHERE ..]
    # (T-SQL's DELETE x FROM T x JOIN ... passthrough shape,
    # WDataModification.cs:77+) — the alias before FROM distinguishes it
    mj = re.match(
        r"(?is)^\s*DELETE\s+NODE\s+(?P<alias>[A-Za-z_]\w*)\s+FROM\s+"
        r"(?P<src>.+?)(?:\s+WHERE\s+(?P<where>.+))?$",
        masked,
    )
    if mj:
        alias = mj.group("alias")
        from_text = mj.group("src")
        am = re.search(
            rf"(?is)(\[[^\]]+\]|[A-Za-z_]\w*)\s+(?:AS\s+)?{re.escape(alias)}\b",
            from_text,
        )
        if not am or not g.catalog.has_table(am.group(1).strip("[]")):
            raise ValueError(
                f"DELETE NODE ... FROM: cannot resolve alias '{alias}' to "
                f"a node table in the FROM clause"
            )
        t = g.catalog.table(am.group(1).strip("[]"))
        sel = f"SELECT DISTINCT {alias}.GlobalNodeId AS GlobalNodeId FROM {from_text}"
        if mj.group("where"):
            sel += f" WHERE {mj.group('where')}"
        ids = _exec_select(g, _unmask(sel, lits))
        if ids is None:
            raise ValueError("DELETE NODE ... FROM: source produced no result")
        g.delete_nodes_df(t.name, ids)
        return
    m = re.match(
        r"(?is)^\s*DELETE\s+NODE\s+FROM\s+(?P<tbl>\[[^\]]+\]|[A-Za-z_]\w*)"
        r"(?:\s+WHERE\s+(?P<where>.+))?$",
        masked,
    )
    if not m:
        raise ValueError(f"cannot parse DELETE NODE: {sql[:80]!r}")
    tbl = m.group("tbl").strip("[]")
    t = g.catalog.table(tbl)
    if m.group("where"):
        cond = m.group("where")
        # strip table-name qualifiers: People.name → name
        cond = re.sub(
            rf"\b{re.escape(t.name)}\s*\.\s*(\w+)", r"\1", cond, flags=re.IGNORECASE
        )
        g.delete_nodes(tbl, F.expr(_unmask(cond, lits)))
    else:
        g.delete_nodes(tbl, F.lit(True))
