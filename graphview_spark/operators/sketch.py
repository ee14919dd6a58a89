"""Cardinality sketches (SURVEY §2.9 — net-new, the "novel sketch"
class a 100 TB training-data pipeline needs).

HyperLogLog over a deterministic md5-derived hash: estimating the
distinct-token (vocabulary) count of a corpus shard is exactly the
statistic the LM-perplexity operators need sized WITHOUT the
vocabulary-sized shuffle a ``countDistinct`` pays — the register table
is ONE map-side-combinable groupBy whose output is at most ``m`` rows
per group, and registers MERGE across shards/corpora/days with a plain
``max`` (the union query proves merge(sketch(A), sketch(B)) ==
sketch(A ∪ B) value-for-value).

Everything is deterministic and oracle-checkable, unlike the builtin
``approx_count_distinct`` (whose HLL++ register layout DuckDB cannot
replicate): the hash is the repo's standard
``conv(substring(md5(w), 1, 15), 16, 10)`` 60-bit integer (identical
in DuckDB via digit folding — operators/dedup.py), the register value
is an integer leading-zero rank, the estimator's register sum is
accumulated INTEGER-SCALED (Σ2^(S−M_j) as BIGINT — exact and
partition-order-independent; a double Σ2^(−M_j) can exceed the 53-bit
mantissa span and round scheduling-dependently), and the final
estimate is rounded to a long. The one transcendental (ln in the
small-range correction) sits ~10 orders of magnitude above the
rounding grid, the same exposure class as the LM perplexity snaps.

Reference: Flajolet, Fusy, Gandouet, Meunier, "HyperLogLog: the
analysis of a near-optimal cardinality estimation algorithm" (AofA
2007). The reference repo has no sketch surface (GraphView delegates
aggregation to SQL Server); this is parity-plus for the pipeline
story.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphview_spark.session import read_table

HLL_M = 256            # registers: low 8 bits of the hash
HLL_REST_BITS = 52     # 60-bit hash minus the 8 bucket bits
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)   # standard bias constant


class SketchSpec(NamedTuple):
    """One mergeable sketch as the (build, merge, read) triple every
    member of the family shares — the small-operator-algebra view of
    "Building Advanced SQL Analytics From Low-Level Plan Operators"
    (SIGMOD 2021):

    - ``build(df, group_cols, value_col, ..., store=None)``: the
      per-group sketch table of ``df``'s non-NULL values, with an
      earlier table ``store`` merged in the same pass;
    - ``merge(tbl, group_cols)``: the one lossless merge — any union of
      sketch tables folds to the sketch of the union of their inputs
      (extra columns such as a shard tag drop out);
    - ``read``: the estimator — ``read(tbl, group_cols)`` for HLL,
      HDR, KMV and the bucket counts; CMS adds its probe tokens, and
      the Bloom probe takes the items to test first, the table after.
    """

    build: Callable[..., DataFrame]
    merge: Callable[[DataFrame, list[str]], DataFrame]
    read: Callable[..., DataFrame]


def _cell_merge(agg: Callable[[str], Column], val: str, *cells: str):
    """Merge of a cell-keyed sketch table: fold ``val`` with ``agg``
    per (group..., cells...) in one map-side-combinable aggregate."""
    def merge(tbl: DataFrame, group_cols: list[str]) -> DataFrame:
        return tbl.groupBy(*group_cols, *cells).agg(agg(val).alias(val))
    return merge


def _build(
    spec: SketchSpec, df: DataFrame, group_cols: list[str], value_col: str,
    store: DataFrame | None, cells: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The build step every sketch shares. NULL values are outside
    every sketch's domain and are dropped here, once; ``cells`` maps
    each remaining row to one sketch-table row (its singleton sketch),
    and ``spec.merge`` folds those rows — with ``store`` when given —
    into the table. So build is merge of singletons, and a streaming
    store update is one merge pass over store ∪ batch."""
    rows = cells(df.filter(F.col(value_col).isNotNull()))
    if store is not None:
        rows = store.unionByName(rows)
    return spec.merge(rows, group_cols)


def _hash60(col: Column) -> Column:
    """The repo-standard 60-bit md5 hash (dedup.py's idiom)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str,
    store: DataFrame | None = None,
) -> DataFrame:
    """Per-group HLL register table: (group..., bucket, m) where
    ``m`` = max leading-zero rank observed in the bucket. ONE
    map-side-combinable shuffle; output ≤ HLL_M rows per group
    regardless of input cardinality — the whole point at 100 TB.
    Register tables merge across shards with groupBy(bucket).max(m)."""
    if "_h" in group_cols:
        raise ValueError("group column name '_h' is reserved here")
    rest = F.expr(f"_h div {HLL_M}")  # integer div: top 52 hash bits
    rho = F.when(rest == 0, F.lit(HLL_REST_BITS + 1)).otherwise(
        # leading-zero rank: bin() length is floor(log2)+1, exactly
        F.lit(HLL_REST_BITS + 1) - F.length(F.bin(rest))
    )
    return _build(HLL, df, group_cols, value_col, store, lambda d: (
        d.select(*group_cols, _hash60(F.col(value_col)).alias("_h"))
        .select(*group_cols, (F.col("_h") % HLL_M).alias("bucket"),
                rho.alias("m"))
    ))


# integer-scaled register sum: Σ 2^(−M_j) is accumulated as the BIGINT
# Σ 2^(S − M_j) with S = REST_BITS+1 = 53 (M_j ∈ [1, 53] so every term
# is an exact integer ≤ 2^52; the sum over ≤256 registers ≤ 2^60 —
# BIGINT-exact and PARTITION-ORDER-INDEPENDENT, unlike a double sum
# whose rounding could in principle make the est_distinct boundary
# depend on task scheduling). The estimator numerator absorbs the 2^S
# scale as one double constant computed ONCE here and embedded verbatim
# in both engines, so neither engine re-associates the multiplication.
_HLL_SHIFT = HLL_REST_BITS + 1
_HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(1 << _HLL_SHIFT)


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """HLL estimate from a register table: raw estimator
    αm²/Σ2^(−M_j) (empty registers contribute 2⁰ = 1), with the
    standard small-range correction m·ln(m/V) when E ≤ 2.5m and V > 0
    empty registers remain. The register sum is integer-scaled
    (see _HLL_SHIFT) so it is exact regardless of partition order;
    returns (group..., n_registers, est_distinct long)."""
    m = HLL_M
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.expr(f"shiftleft(1L, {_HLL_SHIFT} - m)")).alias("_si"),
    )
    # integer denominator: Σ2^(S−M_j) + (m − n_reg)·2^S — the empty
    # registers' 2^0 terms at the same scale; < 2^62, BIGINT-exact
    denom = (
        F.col("_si")
        + (F.lit(m) - F.col("n_registers")) * F.lit(1 << _HLL_SHIFT)
    )
    e_raw = F.lit(_HLL_NUMER) / denom.cast("double")
    v = F.lit(m) - F.col("n_registers")
    est = F.when(
        (e_raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return agg.select(
        *group_cols,
        "n_registers",
        F.round(est, 0).cast("long").alias("est_distinct"),
    )


HLL = SketchSpec(
    hll_registers, _cell_merge(F.max, "m", "bucket"), hll_estimate)


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("w"),
    ).filter(F.col("w") != "")


def q_sketch_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary-size estimate: HLL over the token
    stream. One register shuffle (≤ 256 rows/language out) + a tiny
    estimate aggregate — vs the token-vocabulary-sized shuffle of an
    exact countDistinct, the operator this sketch replaces at scale."""
    regs = hll_registers(_tokens(spark, sf_dir), ["lang"], "w")
    return hll_estimate(regs, ["lang"])


def q_sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability end-to-end: per-language sketches built on the two
    doc_id-parity HALVES of the corpus, merged register-wise
    (HLL.merge), then estimated. The DuckDB oracle computes
    the whole-corpus sketch DIRECTLY (no halves) — the two formulations
    agree value-for-value exactly when register merge is lossless,
    which is the property that lets per-shard/per-day sketches roll up
    without re-reading the corpus."""
    tok = _tokens(spark, sf_dir).withColumn(
        "half", (F.col("doc_id") % 2).cast("int"))
    merged = HLL.merge(hll_registers(tok, ["lang", "half"], "w"), ["lang"])
    return hll_estimate(merged, ["lang"])


def _sql_hll(group_by_half: bool = False) -> str:
    """DuckDB mirror: same hash, same register math, same estimator."""
    from graphview_spark.operators.dedup import _sql_hex15_to_int

    m = HLL_M
    rb = HLL_REST_BITS
    halves = (
        "SELECT lang, doc_id % 2 AS half, h FROM h0"
        if group_by_half else "SELECT lang, h FROM h0"
    )
    merge = (
        # per-half registers, then lossless max-merge (mirrors the
        # Spark side); identical to direct registers by construction
        f"r0 AS (SELECT lang, half, h % {m} AS bucket, "
        f"max(CASE WHEN h // {m} = 0 THEN {rb + 1} "
        f"ELSE {rb + 1} - length(printf('%b', h // {m})) END) AS m "
        "FROM hh GROUP BY lang, half, bucket), "
        "r AS (SELECT lang, bucket, max(m) AS m FROM r0 "
        "GROUP BY lang, bucket)"
        if group_by_half else
        f"r AS (SELECT lang, h % {m} AS bucket, "
        f"max(CASE WHEN h // {m} = 0 THEN {rb + 1} "
        f"ELSE {rb + 1} - length(printf('%b', h // {m})) END) AS m "
        "FROM hh GROUP BY lang, bucket)"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
h0 AS (
  SELECT doc_id, lang, {_sql_hex15_to_int('w')} AS h
  FROM tok WHERE w <> ''
),
hh AS ({halves}),
{merge},
agg AS (
  SELECT lang, count(*) AS n_registers,
         sum((1::BIGINT << ({_HLL_SHIFT} - m)))::BIGINT AS si
  FROM r GROUP BY lang
),
est AS (
  SELECT lang, n_registers,
         {_HLL_NUMER!r}::DOUBLE
           / (si + ({m} - n_registers) * {1 << _HLL_SHIFT})::DOUBLE AS e_raw,
         {m} - n_registers AS v
  FROM agg
)
SELECT lang, n_registers,
       round(CASE WHEN e_raw <= {2.5 * m} AND v > 0
                  THEN {float(m)!r} * ln({float(m)!r} / v)
                  ELSE e_raw END)::BIGINT AS est_distinct
FROM est
"""


# --------------------------------------------------------------------------
# Count-Min sketch — the frequency sibling of the HLL cardinality
# sketch: approximate per-token counts (heavy hitters, boilerplate and
# stopword detection) from a cell table of at most depth×width rows per
# group, built in ONE map-side-combinable shuffle and merged across
# shards by plain SUM. Deterministic md5 row-hashes, integer cells —
# oracle-replicable exactly. Classic guarantee: estimates never
# undercount and overcount by ≤ (e/width)·N with probability
# 1−exp(−depth) (Cormode & Muthukrishnan 2005).
# --------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024
# Kirsch–Mitzenmacher double hashing ("Less Hashing, Same Performance",
# 2006): row i's bucket is g_i(x) = (a_i·h1(x) + b_i·h2(x) + i) mod P
# mod WIDTH, where h1/h2 are the two independent 60-bit halves of ONE
# md5 (hex chars 1-15 and 16-30), folded to 28 bits so a_i·h fits a
# BIGINT. One md5 per value instead of depth salted md5s — the hash was
# the map-side hot path (depth× the HLL cost for the same corpus).
CMS_P = 2_147_483_647              # Mersenne prime 2^31 − 1
_CMS_FOLD = 1 << 28                # fold the 60-bit halves to 28 bits
CMS_COEFFS = [                     # (a_i, b_i), fixed — oracle-replicable
    (1_000_003, 8_191),
    (69_621, 65_537),
    (48_271, 16_127),
    (16_807, 524_287),
]
assert len(CMS_COEFFS) == CMS_DEPTH


def _cms_halved(
    df: DataFrame, keep_cols: list[str], value_col: str
) -> DataFrame:
    """Project the two folded md5 halves as REAL columns (_h1, _h2)
    before any per-row fan-out. An explicit projection, not inline
    subexpressions inside the coordinate structs: codegen's
    subexpression elimination does NOT reach across array/struct
    element boundaries (measured 2.4× slower inlined — each struct
    recomputed the md5/conv), while CollapseProject keeps a staged
    non-cheap alias intact, so each row pays exactly one md5 and two
    convs."""
    hx = F.md5(F.col(value_col))
    return df.select(
        *keep_cols,
        (F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
         % _CMS_FOLD).alias("_h1"),
        (F.conv(F.substring(hx, 16, 15), 16, 10).cast("long")
         % _CMS_FOLD).alias("_h2"),
    )


def _cms_coords(width: int = CMS_WIDTH) -> Column:
    """Array of (r, c) coordinates from the staged _h1/_h2 columns:
    depth double-hashed buckets, integer ops only. ``width`` is the
    modulus — CMS_WIDTH for the count sketch, BLOOM_BITS for the Bloom
    filter's bit positions (same Kirsch–Mitzenmacher family)."""
    return F.array(*[
        F.struct(
            F.lit(i).alias("r"),
            (((F.lit(a) * F.col("_h1") + F.lit(b) * F.col("_h2")
               + F.lit(i)) % CMS_P) % width).alias("c"),
        )
        for i, (a, b) in enumerate(CMS_COEFFS)
    ])


def cms_cells(
    df: DataFrame, group_cols: list[str], value_col: str,
    store: DataFrame | None = None,
) -> DataFrame:
    """Per-group CMS cell table (group..., r, c, n): each value
    increments one bucket per hash row. One explode (depth small and
    fixed) + one map-side-combinable groupBy; output is bounded by
    depth×width rows per group regardless of input size. Cell tables
    merge across shards by summing n."""
    return _build(CMS, df, group_cols, value_col, store, lambda d: (
        _cms_halved(d, group_cols, value_col)
        .select(*group_cols, F.explode(_cms_coords()).alias("rc"))
        .select(*group_cols, F.col("rc.r").alias("r"),
                F.col("rc.c").alias("c"), F.lit(1).alias("n"))
    ))


def cms_estimate(
    cells: DataFrame, group_cols: list[str], probes: list[str]
) -> DataFrame:
    """Point-query the sketch for a probe set: min over the depth rows
    of each probe's cell (0 when the cell is empty — the group never
    saw a colliding value). Returns (group..., token, est long).

    ``cells`` is pin()ned first: it is referenced twice (the group
    scaffold's distinct and the probe join), and without the pin each
    reference re-planned the full corpus explode+hash+aggregate (r12
    plan audit: 4 FileScans at sketch_cms_counts). The pinned frame is
    sketch state — ≤ depth·width rows per group — never the corpus."""
    from graphview_spark.plans import lazy as _lazy

    cells = _lazy.pin(cells)
    spark = cells.sparkSession
    pdf = spark.createDataFrame([(t,) for t in probes], "token string")
    coords = _cms_halved(pdf, ["token"], "token").select(
        "token",
        F.explode(_cms_coords()).alias("rc"),
    ).select("token", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    groups = cells.select(*group_cols).distinct()
    base = groups.crossJoin(coords)
    return (
        base.join(cells, [*group_cols, "r", "c"], "left")
        .groupBy(*group_cols, "token")
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est"))
    )


CMS = SketchSpec(cms_cells, _cell_merge(F.sum, "n", "r", "c"), cms_estimate)


# fixed probe set for the gate queries: three corpus heavy hitters +
# one token that never occurs (its estimate is pure collision noise,
# bounded by the CMS error guarantee — and deterministic, so the
# oracle reproduces it exactly)
CMS_PROBES = ["join", "hash", "scan", "zz_absent_token"]


def q_sketch_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language approximate token counts for a fixed probe set via
    Count-Min — the one-pass bounded-state replacement for an exact
    per-token count at corpus scale."""
    cells = cms_cells(_tokens(spark, sf_dir), ["lang"], "w")
    return cms_estimate(cells, ["lang"], CMS_PROBES)


def q_sketch_cms_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS mergeability end-to-end: per-half cell tables summed
    register-wise, then point-queried. The oracle computes the
    whole-corpus cells directly — equality proves the SUM merge is
    lossless (counts are linear), the property that lets per-shard
    sketches roll up without re-reading the corpus."""
    tok = _tokens(spark, sf_dir).withColumn(
        "half", (F.col("doc_id") % 2).cast("int"))
    merged = CMS.merge(cms_cells(tok, ["lang", "half"], "w"), ["lang"])
    return cms_estimate(merged, ["lang"], CMS_PROBES)


def _sql_fold_hex(hexpr: str) -> str:
    """DuckDB: fold a hex-string expression to BIGINT (mirrors Spark's
    ``conv(<hex>, 16, 10)`` — the same digit folding dedup.py uses)."""
    return (
        f"list_reduce(list_transform(string_split({hexpr}, ''), "
        "c -> strpos('0123456789abcdef', c)::BIGINT - 1), (a, b) -> a * 16 + b)"
    )


def _sql_cms() -> str:
    """DuckDB mirror: same one-md5 double hashing, same cells, same
    min-of-rows point query (direct whole-corpus form — also the union
    oracle)."""
    d, w, p, fold = CMS_DEPTH, CMS_WIDTH, CMS_P, _CMS_FOLD
    probe_rows = ", ".join(f"('{t}')" for t in CMS_PROBES)
    h1 = _sql_fold_hex("substr(hx, 1, 15)")
    h2 = _sql_fold_hex("substr(hx, 16, 15)")
    row_selects = " UNION ALL ".join(
        f"SELECT lang, {i} AS r, "
        f"(({a} * h1 + {b} * h2 + {i}) % {p}) % {w} AS c FROM h"
        for i, (a, b) in enumerate(CMS_COEFFS)
    )
    probe_coords = " UNION ALL ".join(
        f"SELECT token, {i} AS r, "
        f"(({a} * h1 + {b} * h2 + {i}) % {p}) % {w} AS c FROM ph"
        for i, (a, b) in enumerate(CMS_COEFFS)
    )
    return f"""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
  WHERE TRUE
),
tok2 AS (SELECT lang, md5(w) AS hx FROM tok WHERE w <> ''),
h AS (
  SELECT lang, {h1} % {fold} AS h1, {h2} % {fold} AS h2 FROM tok2
),
coords AS ({row_selects}),
cells AS (
  SELECT lang, r, c, count(*) AS n FROM coords GROUP BY lang, r, c
),
probes(token) AS (VALUES {probe_rows}),
phx AS (SELECT token, md5(token) AS hx FROM probes),
ph AS (
  SELECT token, {h1} % {fold} AS h1, {h2} % {fold} AS h2 FROM phx
),
pc AS ({probe_coords}),
base AS (SELECT DISTINCT lang FROM cells),
pointq AS (
  SELECT b.lang, p.token, p.r, p.c, coalesce(cl.n, 0) AS n
  FROM base b CROSS JOIN pc p
  LEFT JOIN cells cl ON cl.lang = b.lang AND cl.r = p.r AND cl.c = p.c
)
SELECT lang, token, min(n) AS est FROM pointq GROUP BY lang, token
"""


# --------------------------------------------------------------------------
# Bloom filter — the MEMBERSHIP sibling of the HLL (cardinality) and CMS
# (frequency) sketches: a bounded bitmap answering "was this value in the
# set?" with no false negatives and a tunable false-positive rate
# (Bloom 1970; hash family per Kirsch–Mitzenmacher 2006, shared with the
# CMS above — one md5 per value, k derived bit positions).
#
# The pipeline use is benchmark decontamination at corpus scale: the
# exact operator (pipeline_decontam) joins every training n-gram against
# the benchmark gram set — correct, but the bench-gram table rides along
# as a real (if broadcast) join input everywhere the scrub runs. The
# Bloom form compresses the ENTIRE membership set into ≤ BLOOM_BITS/32
# bitmap words (128 KiB at the default — broadcast-trivial at any corpus
# size), probes are k pure column lookups against that bitmap, and
# bitmaps MERGE across benchmark shards/versions with a plain bit_or
# (the union query proves merge(bloom(A), bloom(B)) == bloom(A ∪ B)
# value-for-value). One-sided error is the contract that makes this
# sound for scrubbing: a false positive drops a clean document
# (bounded, tunable loss); a false negative — leaking benchmark text
# into training data — cannot happen.
#
# Determinism/oracle notes: bit positions are the CMS's integer double
# hashes mod BLOOM_BITS; the bitmap packs 32 bits per BIGINT word
# (position >> 5 / & 31 — DuckDB raises on 1::BIGINT << 63, so 64-bit
# words would trap on the top bit; 32-bit masks stay in [1, 2^31],
# exactly representable and shift-safe in both engines).
#
# Size the filter to the membership set at production scale: the
# default m = 2^20 bits, k = 4 keeps the PER-GRAM FPR ≈ (1−e^(−4n/m))^4
# under ~0.5% through a 100k-gram benchmark (the sf3 sweep's size), so
# the PER-DOC flag rate (≈ 1−(1−fpr)^grams over ~60 grams/doc) stays
# meaningful; a fixed default always saturates eventually, which is why
# ``bloom_auto_m`` sizes m from an HLL estimate of the gram count
# (round 11 — the derivation that used to live only in this comment),
# warning loudly when even the cap saturates. Saturation degrades
# usefulness only, never correctness — the oracle replicates the same
# bitmap, and false negatives remain impossible at any fill level. The
# GATE queries keep the fixed default on purpose: their DuckDB oracles
# embed m as a literal, and a data-dependent m would make the oracle
# text depend on a Spark job.
# --------------------------------------------------------------------------

BLOOM_BITS = 1 << 20       # default filter size m in bits (128 KiB)
BLOOM_WORD_SHIFT = 5       # 32-bit words: word = pos >> 5, bit = pos & 31
BLOOM_K = CMS_DEPTH        # hash functions (reuses CMS_COEFFS rows)
BLOOM_TARGET_FPR = 0.01    # auto-sizing target per-gram FPR
# auto-sizing cap: 2^27 bits = 16 MiB of bitmap = ≤ 4.2M word rows —
# the most the probe side should ever broadcast per filter; past this
# the saturation warning fires instead of growing further
BLOOM_MAX_BITS = 1 << 27


def bloom_predicted_fpr(n_distinct: int, m_bits: int) -> float:
    """Standard Bloom FPR model (1 − e^(−k·n/m))^k for BLOOM_K hashes —
    the number both the auto-sizer and the saturation warning use."""
    import math

    if n_distinct <= 0:
        return 0.0
    return (1.0 - math.exp(-BLOOM_K * n_distinct / m_bits)) ** BLOOM_K


def bloom_m_table(target_fpr: float = BLOOM_TARGET_FPR) -> list[tuple[int, int]]:
    """[(m_bits, n_max)] for each power-of-two m from BLOOM_BITS to
    BLOOM_MAX_BITS: n_max = ⌊−m·ln(1 − t^(1/k)) / k⌋ is the LARGEST
    estimated distinct count whose predicted FPR meets the target at
    m — the FPR-model inequality inverted once, driver-side, into
    INTEGER thresholds. Sizing then needs no libm at decision time in
    either engine (the thresholds embed as literals in the
    sketch_bloom_autom oracle), and bloom_auto_m picks the identical m
    the cross-engine row reports: n ≤ n_max(m) ⟺
    bloom_predicted_fpr(n, m) ≤ t (boundary equivalence pinned by
    tests/test_sketch.py)."""
    import math

    per_hash = math.log(1.0 - target_fpr ** (1.0 / BLOOM_K))
    out = []
    m = BLOOM_BITS
    while m <= BLOOM_MAX_BITS:
        out.append((m, math.floor(-m * per_hash / BLOOM_K)))
        m <<= 1
    return out


def bloom_auto_m(
    df: DataFrame,
    value_col: str,
    target_fpr: float = BLOOM_TARGET_FPR,
) -> int:
    """Size the bitmap FROM THE DATA (VERDICT r10 "What's wrong #2"):
    estimate the distinct value count with the HLL sketch (one bounded
    ≤256-register aggregate — the composition the module docs always
    prescribed), then pick the smallest power-of-two m whose predicted
    FPR meets ``target_fpr``. Never returns less than the BLOOM_BITS
    default; warns LOUDLY if even BLOOM_MAX_BITS cannot meet the
    target (the saturation case — the filter is still correct, only
    its usefulness as a scrub degrades). Under lazy plan inspection no
    job may run, so the default size is returned unchanged."""
    import warnings

    from graphview_spark.plans import lazy as _lazy

    if _lazy.is_lazy():
        return BLOOM_BITS
    est_row = hll_estimate(hll_registers(df, [], value_col), []).first()
    # a global (no-group) aggregate over ZERO rows still yields one
    # row, with a NULL estimate (sum over nothing) — `or 0` covers the
    # empty-frame case the `is not None` guard can never reach
    # (ADVICE r11)
    n = int(est_row["est_distinct"] or 0) if est_row is not None else 0
    # integer threshold scan — the same decision the sketch_bloom_autom
    # oracle row makes from SQL-embedded literals
    table = bloom_m_table(target_fpr)
    m = table[-1][0]
    for cand_m, n_max in table:
        if n <= n_max:
            m = cand_m
            break
    fpr = bloom_predicted_fpr(n, m)
    if fpr > target_fpr:
        warnings.warn(
            f"bloom_auto_m: ~{n} distinct values saturate even the "
            f"{BLOOM_MAX_BITS}-bit cap (predicted per-value FPR "
            f"{fpr:.2%} > target {target_fpr:.2%}) — shard the filter "
            "or raise BLOOM_MAX_BITS",
            stacklevel=2,
        )
    return m


def bloom_words(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    m_bits: int = BLOOM_BITS,
    store: DataFrame | None = None,
) -> DataFrame:
    """Per-group Bloom bitmap as a sparse word table (group..., word,
    bits): each value sets BLOOM_K bits. ONE map-side-combinable
    bit_or shuffle; output ≤ m_bits/32 rows per group regardless
    of input size. Word tables merge across shards with
    groupBy(word).agg(bit_or(bits)) — bit_or is idempotent and
    associative, so shard overlap is harmless. ``m_bits`` must match
    between build and probe (size it with bloom_auto_m; the fixed
    default eventually saturates — see the module comment)."""
    return _build(BLOOM, df, group_cols, value_col, store, lambda d: (
        _cms_halved(d, group_cols, value_col)
        .select(
            *group_cols,
            F.explode(_cms_coords(m_bits)).alias("rc"),
        )
        .select(*group_cols, F.col("rc.c").alias("pos"))
        .select(
            *group_cols,
            F.shiftright(F.col("pos"), BLOOM_WORD_SHIFT).alias("word"),
            # variable-amount shift: SQL form (the Python F.shiftleft
            # binding takes only a literal bit count)
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 31 AS INT))")
            .alias("bits"),
        )
    ))


def bloom_probe(
    items: DataFrame,
    id_cols: list[str],
    value_col: str,
    words: DataFrame,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Probe each item row's value against a (word, bits) Bloom table:
    returns id_cols + ``present`` (true iff all BLOOM_K bits are set —
    definitely-absent otherwise). ``m_bits`` must equal the build-side
    size. Plan shape: BLOOM_K broadcast hash joins against the
    ≤ m_bits/32-row word table (bounded BY CONSTRUCTION — the PLANS.md
    rule for an explicit broadcast hint), zero shuffles, one row in →
    one row out; the corpus never repartitions."""
    probed = _cms_halved(items, id_cols, value_col)
    present = F.lit(True)
    for i, (a, b) in enumerate(CMS_COEFFS[:BLOOM_K]):
        pos = (
            (F.lit(a) * F.col("_h1") + F.lit(b) * F.col("_h2") + F.lit(i))
            % CMS_P
        ) % m_bits
        w = words.select(
            F.col("word").alias(f"_bw{i}"), F.col("bits").alias(f"_bb{i}")
        )
        probed = probed.withColumn(f"_bpos{i}", pos).withColumn(
            f"_bm{i}",
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_bpos{i} & 31 AS INT))"),
        ).join(
            F.broadcast(w),
            F.shiftright(F.col(f"_bpos{i}"), BLOOM_WORD_SHIFT)
            == F.col(f"_bw{i}"),
            "left",
        )
        present = present & (
            F.coalesce(F.col(f"_bb{i}"), F.lit(0)).bitwiseAND(F.col(f"_bm{i}"))
            == F.col(f"_bm{i}")
        )
    return probed.select(*id_cols, present.alias("present"))


BLOOM = SketchSpec(
    bloom_words, _cell_merge(F.bit_or, "bits", "word"), bloom_probe)


def _bloom_scrub(
    docs: DataFrame, words: DataFrame
) -> DataFrame:
    """Shared tail of the two Bloom gate queries: probe every train
    doc's distinct DECONTAM_N-grams against a benchmark bitmap and
    report per-doc flagged-gram counts (pipeline_decontam's output
    shape, so exact-vs-bloom is diffable operator-to-operator)."""
    from graphview_spark.operators.pipeline import DECONTAM_N, _word_ngrams

    train = docs.filter(F.col("doc_id") % 97 != 0)
    grams = train.select(
        "doc_id", F.explode(_word_ngrams(F.col("text"), DECONTAM_N)).alias("g")
    )
    hits = (
        bloom_probe(grams, ["doc_id"], "g", words)
        .filter(F.col("present"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
            (F.coalesce("n_flagged", F.lit(0)) > 0).alias("flagged"),
        )
    )


def q_sketch_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark scrub: the benchmark's distinct 5-grams
    (doc_id % 97 == 0, pipeline_decontam's fixture) compressed to one
    128 KiB bitmap, then every training document's grams probed with k
    pure column lookups. No-false-negative contract: every truly
    contaminated doc is flagged; false positives are the bounded,
    deterministic price (identical in the oracle, which replicates the
    bitmap bit-for-bit)."""
    from graphview_spark.operators.pipeline import (
        DECONTAM_N, _word_ngrams, benchmark_docs,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench_grams = benchmark_docs(docs).select(
        F.explode(_word_ngrams(F.col("text"), DECONTAM_N)).alias("g")
    )
    words = bloom_words(bench_grams, [], "g")
    return _bloom_scrub(docs, words)


def q_sketch_bloom_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom mergeability end-to-end: per-half bitmaps (benchmark docs
    split by doc_id parity — the shards may share grams; bit_or is
    idempotent) merged word-wise, then probed. The oracle builds the
    whole-benchmark bitmap DIRECTLY — value-for-value equality proves
    the bit_or merge is lossless, the property that lets per-version /
    per-benchmark bitmaps roll up without re-reading any benchmark."""
    from graphview_spark.operators.pipeline import (
        DECONTAM_N, _word_ngrams, benchmark_docs,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench_grams = benchmark_docs(docs).select(
        (F.col("doc_id") % 2).cast("int").alias("half"),
        F.explode(_word_ngrams(F.col("text"), DECONTAM_N)).alias("g"),
    )
    words = BLOOM.merge(bloom_words(bench_grams, ["half"], "g"), [])
    return _bloom_scrub(docs, words)


def q_sketch_bloom_autom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine exposure of the Bloom AUTO-SIZING path itself
    (VERDICT r11 "Next #5": bloom_auto_m was production-only; the gate
    rows pin m as an oracle literal by design). The value stream is
    position-keyed (doc_id:pos — every token position distinct, so the
    cardinality GROWS with the corpus: ~27k at sf0.01 keeps the 2^20
    default, ~270k at sf0.1 sizes to 2^22, sf1 to 2^25), the HLL
    estimates it, and the m decision is the bloom_m_table integer
    threshold scan expressed as a CASE — the SAME table bloom_auto_m
    consults, pinned equal by pytest. The oracle recomputes estimate
    AND decision from embedded literals, so the sizing path is gated
    at every sweep rung, each exercising a different chosen m."""
    docs = read_table(spark, sf_dir, "documents")
    keys = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
        .select(F.concat_ws(":", "doc_id", "pos").alias("k"))
    )
    est = hll_estimate(hll_registers(keys, [], "k"), [])
    table = bloom_m_table()
    m_expr = F.lit(table[-1][0])
    for cand_m, n_max in reversed(table):
        m_expr = F.when(
            F.col("est_distinct") <= n_max, F.lit(cand_m)
        ).otherwise(m_expr)
    return est.select(
        "est_distinct",
        m_expr.cast("long").alias("m_bits"),
        (F.col("est_distinct") > table[-1][1]).alias("saturated"),
    )


def _sql_bloom_autom() -> str:
    """DuckDB mirror of q_sketch_bloom_autom: the HLL estimator over
    the same position keys (global, no group), then the identical
    integer-threshold CASE."""
    from graphview_spark.operators.dedup import _sql_hex15_to_int

    m = HLL_M
    table = bloom_m_table()
    case = "CASE " + " ".join(
        f"WHEN est_distinct <= {n_max} THEN {cand_m}::BIGINT"
        for cand_m, n_max in table
    ) + f" ELSE {table[-1][0]}::BIGINT END"
    return f"""
WITH tok AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
         unnest(string_split(text, ' ')) AS w
  FROM documents
),
keys AS (
  SELECT doc_id::VARCHAR || ':' || pos::VARCHAR AS k
  FROM tok WHERE w <> ''
),
h0 AS (SELECT {_sql_hex15_to_int('k')} AS h FROM keys),
r AS (SELECT h % {m} AS bucket,
             max(CASE WHEN h // {m} = 0 THEN {HLL_REST_BITS + 1}
                 ELSE {HLL_REST_BITS + 1} - length(printf('%b', h // {m}))
                 END) AS m
      FROM h0 GROUP BY bucket),
agg AS (SELECT count(*) AS n_registers,
               sum((1::BIGINT << ({_HLL_SHIFT} - m)))::BIGINT AS si
        FROM r),
est0 AS (SELECT n_registers,
                {_HLL_NUMER!r}::DOUBLE
                  / (si + ({m} - n_registers)
                     * {1 << _HLL_SHIFT})::DOUBLE AS e_raw,
                {m} - n_registers AS v
         FROM agg),
est AS (SELECT round(CASE WHEN e_raw <= {2.5 * m} AND v > 0
                     THEN {float(m)!r} * ln({float(m)!r} / v)
                     ELSE e_raw END)::BIGINT AS est_distinct
        FROM est0)
SELECT est_distinct,
       {case} AS m_bits,
       est_distinct > {table[-1][1]} AS saturated
FROM est
"""


def _sql_bloom() -> str:
    """DuckDB mirror: same md5 halves, same double-hashed bit
    positions, same 32-bit word packing, same k left joins (direct
    whole-benchmark bitmap — also the union oracle)."""
    from graphview_spark.operators.pipeline import (
        DECONTAM_N, _sql_word_ngrams,
    )

    m, p, fold = BLOOM_BITS, CMS_P, _CMS_FOLD
    g = _sql_word_ngrams(DECONTAM_N)
    h1 = _sql_fold_hex("substr(hx, 1, 15)")
    h2 = _sql_fold_hex("substr(hx, 16, 15)")
    bench_pos = " UNION ALL ".join(
        f"SELECT (({a} * h1 + {b} * h2 + {i}) % {p}) % {m} AS pos FROM bh"
        for i, (a, b) in enumerate(CMS_COEFFS[:BLOOM_K])
    )
    probe_cols = ", ".join(
        f"(({a} * h1 + {b} * h2 + {i}) % {p}) % {m} AS pos{i}"
        for i, (a, b) in enumerate(CMS_COEFFS[:BLOOM_K])
    )
    joins = " ".join(
        f"LEFT JOIN words w{i} ON w{i}.word = (t.pos{i} >> 5)"
        for i in range(BLOOM_K)
    )
    present = " AND ".join(
        f"(coalesce(w{i}.bits, 0) & (1::BIGINT << (t.pos{i} & 31)))"
        f" = (1::BIGINT << (t.pos{i} & 31))"
        for i in range(BLOOM_K)
    )
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (SELECT doc_id, {g} AS grams FROM w),
bg AS (SELECT DISTINCT unnest(grams) AS gram FROM grams WHERE doc_id % 97 = 0),
bh AS (
  SELECT {h1} % {fold} AS h1, {h2} % {fold} AS h2
  FROM (SELECT md5(gram) AS hx FROM bg)
),
bpos AS ({bench_pos}),
words AS (
  SELECT pos >> 5 AS word,
         bit_or(1::BIGINT << (pos & 31)) AS bits
  FROM bpos GROUP BY 1
),
tg AS (SELECT doc_id, unnest(grams) AS gram FROM grams WHERE doc_id % 97 <> 0),
t AS (
  SELECT doc_id, {probe_cols}
  FROM (SELECT doc_id, {h1} % {fold} AS h1, {h2} % {fold} AS h2
        FROM (SELECT doc_id, md5(gram) AS hx FROM tg))
),
hits AS (
  SELECT t.doc_id, count(*) AS n_flagged
  FROM t {joins}
  WHERE {present}
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(h.n_flagged, 0) AS n_flagged,
       coalesce(h.n_flagged, 0) > 0 AS flagged
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN hits h USING (doc_id)
"""


# --------------------------------------------------------------------------
# HDR histogram — the QUANTILE member of the sketch family: bounded-
# state percentile estimates with a guaranteed RELATIVE error, merged
# across shards by plain count-sum. Log-scaled buckets after
# HdrHistogram (Tene): values scale to integer micro-units, each lands
# in the bucket keyed by (exponent, top HDR_SUB_BITS mantissa bits) —
# ≤ 64 · 2^HDR_SUB_BITS buckets EVER, so per-group state is ~4k rows
# no matter the value domain or corpus size, and the estimate's
# relative error is ≤ 2^-HDR_SUB_BITS (1.56% at the default 6 bits).
#
# Why not percentile_approx/GK: Spark's sketch is neither mergeable-
# by-SQL nor replicable in DuckDB. Here EVERYTHING is integer: the
# micro-scaling (floor of one correctly-rounded multiply — Spark's
# double→long cast truncates while DuckDB's rounds, so the explicit
# floor is load-bearing), the bucket id (bit-length + shifts), the
# rank (ceil via integer division), and the reported estimate (the
# bucket's exact lower bound in micro-units, BIGINT). Both engines
# agree bit-for-bit; the union query's oracle computes the whole-table
# histogram directly while Spark sums per-half bucket tables —
# equality IS the mergeability proof (counts are linear).
# --------------------------------------------------------------------------

HDR_SUB_BITS = 6                    # mantissa resolution: 2^-6 rel. error
_HDR_SUB = 1 << HDR_SUB_BITS        # 64 subbuckets per binary magnitude
HDR_PCTS = [50, 90, 99]             # gate-query percentiles
# Supported value domain: micro-scaled values are clamped to
# [0, 2^62] IDENTICALLY in both engines (ADVICE r10 #4): above
# ~9.2e12 the unclamped double→long cast DIVERGES — Spark's non-ANSI
# cast silently saturates while DuckDB's ::BIGINT raises — so an
# extreme input would be passing-but-wrong in Spark and an error in
# the oracle. 2^62 is exactly representable as a double, so the
# least() comparison and the subsequent cast are exact in both.
HDR_MAX_MICRO = 1 << 62


def _hdr_bucket_expr() -> Column:
    """Monotone log-scale bucket id of the staged non-negative BIGINT
    column ``_vm``: values < 64 map to themselves (exact); above,
    shift = bitlen−7 and id = shift·64 + (v >> shift) — contiguous,
    order-preserving, integer-only (bin() length is floor(log2)+1,
    the HLL's idiom)."""
    s = HDR_SUB_BITS + 1
    return F.expr(
        f"CAST(greatest(length(bin(_vm)) - {s}, 0) AS BIGINT) * {_HDR_SUB}"
        f" + shiftright(_vm, CAST(greatest(length(bin(_vm)) - {s}, 0) AS INT))"
    )


def _hdr_lower_expr() -> Column:
    """Exact lower bound (micro-units) of the ``hdr_b`` bucket column:
    the inverse of _hdr_bucket_expr's leading-bits truncation."""
    return F.expr(
        f"shiftleft(hdr_b - CAST(greatest(hdr_b div {_HDR_SUB} - 1, 0) "
        f"AS BIGINT) * {_HDR_SUB}, "
        f"CAST(greatest(hdr_b div {_HDR_SUB} - 1, 0) AS INT))"
    )


def hdr_buckets(
    df: DataFrame, group_cols: list[str], value_col: str,
    store: DataFrame | None = None,
) -> DataFrame:
    """Per-group HDR bucket table (group..., hdr_b, cnt): ONE map-side-
    combinable shuffle, ≤ ~4k rows per group out regardless of input
    size. Bucket tables merge across shards by summing cnt. Values are
    scaled to integer micro-units with an explicit floor (see module
    comment on the cast divergence) and clamped to [0, HDR_MAX_MICRO]
    — the clamp is mirrored in the oracle so out-of-range inputs
    degrade identically in both engines. NaN and NULL values are
    FILTERED here and in the oracle (ADVICE r11): unfiltered, Spark's
    floor(NaN) lands in bucket 0 while DuckDB's least(floor(NaN),
    2^62) lands in the top clamp bucket — a silent cross-engine
    divergence; and NULL is worse in BOTH engines, because
    least/greatest skip NULL args, so the r10 clamp was silently
    counting every NULL measurement as a max-value observation.
    Non-measurements are out of the sketch's domain, full stop (NULL
    leaves in the shared build step, NaN — and a value that does not
    cast to a double — here)."""
    vd = F.col(value_col).cast("double")
    vm = F.greatest(
        F.least(F.floor(vd * 1_000_000), F.lit(float(HDR_MAX_MICRO)))
        .cast("long"),
        F.lit(0).cast("long"),
    )
    return _build(HDR, df, group_cols, value_col, store, lambda d: (
        d.filter(vd.isNotNull() & ~F.isnan(vd))
        .select(*group_cols, vm.alias("_vm"))
        .select(*group_cols, _hdr_bucket_expr().alias("hdr_b"),
                F.lit(1).alias("cnt"))
    ))


def hdr_quantiles(
    buckets: DataFrame, group_cols: list[str], pcts: list[int] = HDR_PCTS
) -> DataFrame:
    """Percentile estimates from a bucket table: rank_p = ⌈n·p/100⌉
    (integer), estimate = lower bound of the first bucket whose
    cumulative count reaches the rank. The window runs over the tiny
    bucket table (≤ ~4k rows/group), never the data."""
    wc = (
        W.partitionBy(*group_cols).orderBy("hdr_b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy(*group_cols)
    cum = buckets.select(
        *group_cols,
        "hdr_b",
        F.sum("cnt").over(wc).alias("_cum"),
        F.sum("cnt").over(wall).alias("_n"),
        _hdr_lower_expr().alias("_lo"),
    )
    aggs = [F.max("_n").alias("n_rows")]
    for p in pcts:
        rank = F.expr(f"(_n * {p} + 99) div 100")  # ⌈n·p/100⌉, integer
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col("_lo")))
            .alias(f"p{p}_micro")
        )
    return cum.groupBy(*group_cols).agg(*aggs)


HDR = SketchSpec(
    hdr_buckets, _cell_merge(F.sum, "cnt", "hdr_b"), hdr_quantiles)


def q_sketch_hdr_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type latency-style percentiles (p50/p90/p99 of value,
    micro-units) from the bounded HDR bucket table — the rollup-able
    replacement for an exact per-group sort at corpus scale."""
    ev = read_table(spark, sf_dir, "events")
    return hdr_quantiles(
        hdr_buckets(ev, ["event_type"], "value"), ["event_type"]
    )


def q_sketch_hdr_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR mergeability end-to-end: per-half bucket tables (event_id
    parity) summed bucket-wise, then estimated; the oracle histograms
    the whole table directly — equality proves the count-sum merge is
    lossless, the property that lets per-shard/per-day histograms roll
    up into any window's percentiles without re-reading events."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "half", (F.col("event_id") % 2).cast("int")
    )
    merged = HDR.merge(
        hdr_buckets(ev, ["event_type", "half"], "value"), ["event_type"])
    return hdr_quantiles(merged, ["event_type"])


def _sql_hdr() -> str:
    """DuckDB mirror: same micro-floor, same bit-length buckets, same
    integer ranks and lower bounds (direct whole-table form — also the
    union oracle)."""
    s = HDR_SUB_BITS + 1
    sub = _HDR_SUB
    p_cols = ",\n       ".join(
        f"min(CASE WHEN cum >= (n * {p} + 99) // 100 THEN lo END) "
        f"AS p{p}_micro"
        for p in HDR_PCTS
    )
    return f"""
WITH vm AS (
  SELECT event_type,
         greatest(least(floor(value::DOUBLE * 1000000),
                        {HDR_MAX_MICRO})::BIGINT, 0) AS v
  FROM events
  -- mirror of hdr_buckets' domain filter: NaN and NULL measurements
  -- are excluded identically in both engines (ADVICE r11)
  WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
),
bk AS (
  SELECT event_type,
         greatest(length(printf('%b', v)) - {s}, 0)::BIGINT * {sub}
           + (v >> greatest(length(printf('%b', v)) - {s}, 0)) AS hdr_b
  FROM vm
),
cells AS (
  SELECT event_type, hdr_b, count(*) AS cnt FROM bk GROUP BY 1, 2
),
cum AS (
  SELECT event_type, hdr_b, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY hdr_b
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n,
         (hdr_b - greatest(hdr_b // {sub} - 1, 0) * {sub})
           << greatest(hdr_b // {sub} - 1, 0)::INT AS lo
  FROM cells
)
SELECT event_type, max(n)::BIGINT AS n_rows, {p_cols}
FROM cum GROUP BY event_type
"""


# --------------------------------------------------------------------------
# KMV / theta sketch — the SET-OPERATION member of the sketch family
# (Bar-Yossef et al. 2002 "Counting distinct elements in a data stream";
# the k-minimum-values form θ-sketches generalize): keep the k smallest
# distinct hash values per group. Unlike the HLL (cardinality only),
# KMV sketches support INTERSECTION and Jaccard estimates between sets
# — "how much does this corpus snapshot overlap that one?", the
# question a dedup/decontam pipeline asks across shards, days and
# sources before paying for an exact join.
#
# Scale shape: the k-smallest selection is a rank window the same
# WindowGroupLimit rewrite as weighted sampling uses — every task
# keeps only its local top-k BEFORE the shuffle, so the exchange
# carries O(k · groups · tasks) rows, never the corpus; sketch state
# is ≤ KMV_K rows per group EVER. Sketches MERGE by taking the k
# smallest of the union (KMV.merge, proved by the merge-law pytest).
#
# Determinism/oracle notes: hashes are the repo-standard 60-bit md5
# integers (no ties — ranks are total), the θ denominator is the k-th
# smallest hash (a BIGINT), and each estimate is ONE correctly-rounded
# double division of exactly-representable integers ((k−1)·2^60 has 8
# significant bits), so DuckDB replicates every value bit-for-bit.
# Groups with fewer than k distinct values estimate EXACTLY (the
# sketch holds the whole set).
# --------------------------------------------------------------------------

KMV_K = 256                 # sketch size; rel. std. error ≈ 1/√(k−2) ≈ 6%
_KMV_DOMAIN = 1 << 60       # hash domain (15 md5 hex digits)


def _kmv_topk(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """The KMV_K smallest ``h`` per group of a frame holding each
    (group, h) once — the family's one k-smallest selection: sketch
    build and merge, and the union sketch of every set report.
    row_number over unique, tie-free hashes is a total order, and the
    rank filter is WindowGroupLimit-eligible (map-side partial top-k)."""
    w = W.partitionBy(*group_cols).orderBy("h")
    return (
        df.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= KMV_K)
        .drop("_r")
    )


def kmv_sketch(
    df: DataFrame, group_cols: list[str], value_col: str,
    store: DataFrame | None = None,
) -> DataFrame:
    """Per-group KMV sketch: (group..., h) — the KMV_K smallest
    DISTINCT 60-bit hashes of ``value_col``. ``store``, an earlier
    sketch of the same groups, merges in the same pass (the k smallest
    of a union are associative): the streaming store's min-merge.

    Distinct FIRST, top-k second (r12 optimization, guide §2.3
    "aggregate before you shuffle"). The previous shape —
    dense_rank ≤ k over the raw hash stream, distinct after — let the
    map-side WindowGroupLimit keep every row whose LOCAL dense_rank
    ≤ k, which prunes nothing when per-group distinct counts are near
    or below k (heavily duplicated value streams: every duplicate of
    the k smallest hashes survives), so the group-keyed exchange
    carried the whole token stream into |groups| window tasks
    (measured at sf1: 7.0s for the sketch alone, two 1.4M-row
    single-task sorts). Distinct is a partial-final HashAggregate:
    each task collapses its duplicates BEFORE the exchange, and the
    (group, h) exchange parallelizes over all shuffle partitions
    instead of |groups| tasks. row_number over the now-unique rows is
    the same total order dense_rank gave (no duplicates left to share
    a rank, hashes are tie-free), still WindowGroupLimit-eligible for
    high-cardinality streams where the per-task distinct exceeds k.
    Output-identical by construction; asserted bit-exact vs the old
    shape at sf0.1 and by every KMV oracle row."""
    return _build(KMV, df, group_cols, value_col, store, lambda d: (
        d.select(*group_cols, _hash60(F.col(value_col)).alias("h"))
    ))


def _kmv_est() -> Column:
    """The one KMV estimator, over (n_kept, _hk): (k−1)·2^60 / h_k
    when the sketch is full, the exact held count otherwise. One
    correctly-rounded double division (module comment); unrounded."""
    return F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float((KMV_K - 1) * _KMV_DOMAIN)) / F.col("_hk").cast("double")
    )


def kmv_estimate(sk: DataFrame, group_cols: list[str]) -> DataFrame:
    """Distinct-count estimate from a sketch. Returns (group...,
    n_kept, est_distinct long)."""
    agg = sk.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("_hk"),
    )
    return agg.select(
        *group_cols, "n_kept",
        F.round(_kmv_est(), 0).cast("long").alias("est_distinct"),
    )


KMV = SketchSpec(
    kmv_sketch,
    lambda tbl, group_cols: _kmv_topk(
        tbl.select(*group_cols, "h").distinct(), group_cols),
    kmv_estimate,
)


def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary estimate via the KMV sketch — the same
    question as sketch_distinct_hll answered by the set-operation
    sketch (so the two estimators cross-check each other in tests),
    with the k-smallest selection running as a map-side partial
    top-k."""
    return kmv_estimate(
        kmv_sketch(_tokens(spark, sf_dir), ["lang"], "w"), ["lang"]
    ).select("lang", "n_kept", "est_distinct")


def _kmv_union(tagged: DataFrame, group_cols: list[str]) -> DataFrame:
    """The one union-membership pass behind every two-set KMV report.
    ``tagged`` holds (group..., h, _side) rows of two sides' sketches
    (_side 0 = A, 1 = B). One aggregation gives each distinct hash its
    per-side membership (not a distinct union re-joined against each
    side: that form referenced each input lineage once per join and
    Catalyst re-planned the full corpus scan at every reference — r12
    plan audit); the union sketch is its k smallest per group; one
    aggregate then counts n_kept, matches, only_a and only_b, beside
    the unrounded estimate ``_est`` of |A ∪ B|. Every operand is
    sketch-sized (≤ 2·KMV_K rows per group), never data. Exact when
    the union fits the sketch."""
    memb = tagged.groupBy(*group_cols, "h").agg(
        F.max(F.when(F.col("_side") == 0, F.lit(1))).alias("_ina"),
        F.max(F.when(F.col("_side") == 1, F.lit(1))).alias("_inb"),
    )
    ina, inb = F.col("_ina").isNotNull(), F.col("_inb").isNotNull()

    def n(cond: Column) -> Column:
        return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))

    return _kmv_topk(memb, group_cols).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("_hk"),
        n(ina & inb).alias("matches"),
        n(ina & ~inb).alias("only_a"),
        n(inb & ~ina).alias("only_b"),
    ).withColumn("_est", _kmv_est())


def _kmv_share(count_col: str) -> Column:
    """count/n_kept · est(|A ∪ B|), rounded: the union sketch's sample
    fraction scaled to the union estimate."""
    return F.round(
        F.col(count_col).cast("double") / F.col("n_kept") * F.col("_est"), 0
    ).cast("long")


def _kmv_overlap(tagged: DataFrame, group_cols: list[str]) -> DataFrame:
    """Overlap report over _kmv_union: (group..., n_kept, matches,
    est_union, est_intersection, jaccard_milli), where jaccard_milli =
    ⌊1000·matches/n_kept⌋ is integer — no float comparison surface."""
    return _kmv_union(tagged, group_cols).select(
        *group_cols,
        "n_kept",
        "matches",
        F.round("_est", 0).cast("long").alias("est_union"),
        _kmv_share("matches").alias("est_intersection"),
        F.expr("CAST(matches * 1000 AS BIGINT) div n_kept")
        .alias("jaccard_milli"),
    )


def _kmv_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token sketches of the even and odd doc_id halves as ONE
    sketch pass grouped by half, tagged as the two sides."""
    tok = _tokens(spark, sf_dir).withColumn(
        "half", (F.col("doc_id") % 2).cast("int"))
    return kmv_sketch(tok, ["half"], "w").select(
        "h", F.col("half").alias("_side"))


def q_sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus overlap WITHOUT the exact join: token-set
    intersection and Jaccard between the even and odd doc_id halves of
    the corpus, estimated entirely from two ≤ KMV_K-row sketches
    (_kmv_overlap)."""
    return _kmv_overlap(_kmv_halves(spark, sf_dir), [])


def kmv_union_report(
    sk_a: DataFrame, sk_b: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Per-group overlap report from TWO KMV sketch stores (the
    grouped form of q_sketch_kmv_intersect). This is the day-level
    rollup the streaming stores promise: two snapshots' overlap
    without re-reading either snapshot — the inputs are ≤ KMV_K-row
    stores, so the whole report is sketch-sized work."""
    a = sk_a.select(*group_cols, "h", F.lit(0).alias("_side"))
    b = sk_b.select(*group_cols, "h", F.lit(1).alias("_side"))
    return _kmv_overlap(a.unionByName(b), group_cols)


def q_sketch_kmv_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set DIFFERENCE estimates from the same two half-corpus sketches
    as q_sketch_kmv_intersect — the theta-sketch A-not-B operation:
    "how many tokens are NEW in this snapshot, how many were DROPPED?"
    is the question an incremental ingest asks between days, and KMV
    answers it from two ≤ KMV_K-row sketches without an exact anti
    join. only_a = union-sketch hashes present in A's sketch but not
    B's (and symmetrically); est_only_a = only_a/n_kept · est(|A ∪ B|)
    — same single-division estimator discipline as the intersection,
    so DuckDB replicates every value bit-for-bit. Identity matches +
    only_a + only_b = n_kept holds by construction (each union hash is
    in at least one side's sketch)."""
    return _kmv_union(_kmv_halves(spark, sf_dir), []).select(
        "n_kept",
        "only_a",
        "only_b",
        F.round("_est", 0).cast("long").alias("est_union"),
        _kmv_share("only_a").alias("est_only_a"),
        _kmv_share("only_b").alias("est_only_b"),
    )


def kmv_pairwise_report(sk: DataFrame, group_col: str) -> DataFrame:
    """All-pairs overlap matrix from ONE per-group KMV sketch store:
    for every unordered group pair (s1 < s2), the union-sketch
    estimates of |A ∪ B|, |A ∩ B| and Jaccard — the cross-SOURCE
    overlap report a data card wants ("which crawls duplicate each
    other?") computed entirely in sketch space. The input store is
    ≤ KMV_K rows per group; the pair expansion carries each sketch
    into its S−1 pairs, so the whole report is O(S² · k) sketch rows —
    quadratic in the number of GROUPS, never touching the corpus
    (for very large S, pre-filter the pair table to candidates). Same
    report as kmv_union_report, grouped by pair.

    The input sketch is pin()ned (a ≤ k·S-row materialization) before
    the fan-out: the pair scaffold + both join sides reference it five
    times, and without the pin Catalyst planned the full corpus
    scan+hash+top-k lineage at every reference (r12 plan audit: 12
    FileScans at the gate query, where one is sufficient)."""
    from graphview_spark.plans import lazy as _lazy

    sk = _lazy.pin(sk.select(F.col(group_col).alias(group_col), "h"))
    g = F.col(group_col)
    srcs = sk.select(g.alias("s")).distinct()
    pairs = (
        srcs.select(F.col("s").alias("s1"))
        .join(srcs.select(F.col("s").alias("s2")), F.col("s1") < F.col("s2"))
    )
    a = pairs.join(sk.select(g.alias("s1"), "h"), "s1")
    b = pairs.join(sk.select(g.alias("s2"), "h"), "s2")
    sides = a.select("s1", "s2", "h", F.lit(0).alias("_side")).unionByName(
        b.select("s1", "s2", "h", F.lit(1).alias("_side")))
    return _kmv_overlap(sides, ["s1", "s2"])


def q_sketch_kmv_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the source×source token-overlap matrix (all 190
    unordered pairs of the 20 synthetic sources at gate scale) from
    one per-source KMV sketch pass over the corpus. The corpus is
    read ONCE (explode + hash + the WindowGroupLimit top-k per
    source); everything after is sketch-sized."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    return kmv_pairwise_report(kmv_sketch(tok, ["source"], "w"), "source")


# --------------------------------------------------------------------------
# Bucket counts — the plain histogram the PSI drift report reads
# (operators/pipeline.py drift_report): per-(group, bucket) row counts
# of an already-bucketed column, sum-merged; bounded at groups ×
# buckets rows.
# --------------------------------------------------------------------------

def bucket_counts(
    df: DataFrame, group_cols: list[str], value_col: str,
    store: DataFrame | None = None,
) -> DataFrame:
    """Per-group counts of each ``value_col`` bucket id: (group...,
    bucket, c)."""
    return _build(COUNTS, df, group_cols, value_col, store, lambda d: (
        d.select(*group_cols, F.col(value_col).alias("bucket"),
                 F.lit(1).alias("c"))
    ))


# the counts table is its own read: drift_report joins two of them
COUNTS = SketchSpec(
    bucket_counts, _cell_merge(F.sum, "c", "bucket"), lambda tbl, _g: tbl)


def _sql_kmv_hash(var: str) -> str:
    """DuckDB mirror of _hash60 (the dedup module's digit-fold idiom
    applied to md5({var}))."""
    from graphview_spark.operators.dedup import _sql_hex15_to_int

    return _sql_hex15_to_int(var)


def _sql_kmv(intersect: bool = False) -> str:
    k, dom = KMV_K, _KMV_DOMAIN
    numer = float((KMV_K - 1) * _KMV_DOMAIN)
    tok = """
tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents),
tk AS (SELECT * FROM tok WHERE w <> '')"""
    if not intersect:
        return f"""
WITH {tok},
h AS (SELECT DISTINCT lang, {_sql_kmv_hash('w')} AS h FROM tk),
r AS (SELECT lang, h,
             row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM h),
sk AS (SELECT lang, h FROM r WHERE rn <= {k}),
agg AS (SELECT lang, count(*) AS n_kept, max(h) AS hk FROM sk GROUP BY lang)
SELECT lang, n_kept,
       round(CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                  ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_distinct
FROM agg
"""
    return f"""
WITH {tok},
hh AS (SELECT DISTINCT (doc_id % 2)::INT AS half, {_sql_kmv_hash('w')} AS h
       FROM tk),
r AS (SELECT half, h,
             row_number() OVER (PARTITION BY half ORDER BY h) AS rn
      FROM hh),
sk AS (SELECT half, h FROM r WHERE rn <= {k}),
u AS (SELECT DISTINCT h FROM sk),
ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u),
usk AS (SELECT h FROM ur WHERE rn <= {k}),
fl AS (
  SELECT usk.h,
         (SELECT count(*) FROM sk WHERE sk.half = 0 AND sk.h = usk.h) AS ina,
         (SELECT count(*) FROM sk WHERE sk.half = 1 AND sk.h = usk.h) AS inb
  FROM usk
),
agg AS (SELECT count(*) AS n_kept, max(h) AS hk,
               sum(CASE WHEN ina > 0 AND inb > 0 THEN 1 ELSE 0 END)::BIGINT
                 AS matches
        FROM fl)
SELECT n_kept, matches,
       round(CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                  ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_union,
       round(matches::DOUBLE / n_kept
             * CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                    ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_intersection,
       (matches * 1000 // n_kept)::BIGINT AS jaccard_milli
FROM agg
"""


def _sql_kmv_diff() -> str:
    """DuckDB mirror of q_sketch_kmv_diff: the intersect oracle's CTE
    chain with an A-not-B / B-not-A final aggregate."""
    k = KMV_K
    numer = float((KMV_K - 1) * _KMV_DOMAIN)
    return f"""
WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
             FROM documents),
tk AS (SELECT * FROM tok WHERE w <> ''),
hh AS (SELECT DISTINCT (doc_id % 2)::INT AS half, {_sql_kmv_hash('w')} AS h
       FROM tk),
r AS (SELECT half, h,
             row_number() OVER (PARTITION BY half ORDER BY h) AS rn
      FROM hh),
sk AS (SELECT half, h FROM r WHERE rn <= {k}),
u AS (SELECT DISTINCT h FROM sk),
ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u),
usk AS (SELECT h FROM ur WHERE rn <= {k}),
fl AS (
  SELECT usk.h,
         (SELECT count(*) FROM sk WHERE sk.half = 0 AND sk.h = usk.h) AS ina,
         (SELECT count(*) FROM sk WHERE sk.half = 1 AND sk.h = usk.h) AS inb
  FROM usk
),
agg AS (SELECT count(*) AS n_kept, max(h) AS hk,
               sum(CASE WHEN ina > 0 AND inb = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS only_a,
               sum(CASE WHEN inb > 0 AND ina = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS only_b
        FROM fl)
SELECT n_kept, only_a, only_b,
       round(CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                  ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_union,
       round(only_a::DOUBLE / n_kept
             * CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                    ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_only_a,
       round(only_b::DOUBLE / n_kept
             * CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                    ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_only_b
FROM agg
"""


def _sql_kmv_pairwise() -> str:
    """DuckDB mirror of q_sketch_kmv_pairwise: per-source sketches,
    unordered pair table, per-pair union sketch + membership flags."""
    k = KMV_K
    numer = float((KMV_K - 1) * _KMV_DOMAIN)
    return f"""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
             FROM documents),
tk AS (SELECT * FROM tok WHERE w <> ''),
hh AS (SELECT DISTINCT source, {_sql_kmv_hash('w')} AS h FROM tk),
r AS (SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM hh),
sk AS (SELECT source, h FROM r WHERE rn <= {k}),
pairs AS (SELECT a.s AS s1, b.s AS s2
          FROM (SELECT DISTINCT source AS s FROM sk) a
          JOIN (SELECT DISTINCT source AS s FROM sk) b ON a.s < b.s),
memb AS (SELECT p.s1, p.s2, s.h,
                max(CASE WHEN s.source = p.s1 THEN 1 ELSE 0 END) AS ina,
                max(CASE WHEN s.source = p.s2 THEN 1 ELSE 0 END) AS inb
         FROM pairs p
         JOIN sk s ON s.source = p.s1 OR s.source = p.s2
         GROUP BY p.s1, p.s2, s.h),
usk AS (SELECT * FROM (
          SELECT s1, s2, h, ina, inb,
                 row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
          FROM memb)
        WHERE rn <= {k}),
agg AS (SELECT s1, s2, count(*) AS n_kept, max(h) AS hk,
               sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)::BIGINT
                 AS matches
        FROM usk GROUP BY s1, s2)
SELECT s1, s2, n_kept, matches,
       round(CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                  ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_union,
       round(matches::DOUBLE / n_kept
             * CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                    ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_intersection,
       (matches * 1000 // n_kept)::BIGINT AS jaccard_milli
FROM agg
"""


def _sql_kmv_rollup() -> str:
    """DuckDB mirror of the two-store day rollup (kmv_union_report
    over per-day stores, day = doc_id % 2, grouped by lang): each
    day's sketch is computed DIRECTLY from the whole corpus — equality
    with the Spark side (whose sketches arrive through two streaming
    min-merge stores) proves both the per-store merge AND the
    cross-store union rollup lose nothing."""
    k = KMV_K
    numer = float((KMV_K - 1) * _KMV_DOMAIN)
    return f"""
WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
             FROM documents),
tk AS (SELECT * FROM tok WHERE w <> ''),
hh AS (SELECT DISTINCT lang, (doc_id % 2)::INT AS day,
              {_sql_kmv_hash('w')} AS h
       FROM tk),
r AS (SELECT lang, day, h,
             row_number() OVER (PARTITION BY lang, day ORDER BY h) AS rn
      FROM hh),
sk AS (SELECT lang, day, h FROM r WHERE rn <= {k}),
u AS (SELECT DISTINCT lang, h FROM sk),
ur AS (SELECT lang, h,
              row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
       FROM u),
usk AS (SELECT lang, h FROM ur WHERE rn <= {k}),
fl AS (SELECT u.lang, u.h,
              max(CASE WHEN s.day = 0 THEN 1 ELSE 0 END) AS ina,
              max(CASE WHEN s.day = 1 THEN 1 ELSE 0 END) AS inb
       FROM usk u JOIN sk s ON s.lang = u.lang AND s.h = u.h
       GROUP BY u.lang, u.h),
agg AS (SELECT lang, count(*) AS n_kept, max(h) AS hk,
               sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)::BIGINT
                 AS matches
        FROM fl GROUP BY lang)
SELECT lang, n_kept, matches,
       round(CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                  ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_union,
       round(matches::DOUBLE / n_kept
             * CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                    ELSE {numer!r}::DOUBLE / hk::DOUBLE END, 0)::BIGINT
         AS est_intersection,
       (matches * 1000 // n_kept)::BIGINT AS jaccard_milli
FROM agg
"""


QUERIES = {}
ORACLES = {}
EXTRA_QUERIES = {
    "sketch_distinct_hll": q_sketch_distinct_hll,
    "sketch_hll_union": q_sketch_hll_union,
    "sketch_cms_counts": q_sketch_cms_counts,
    "sketch_cms_union": q_sketch_cms_union,
    "sketch_bloom_decontam": q_sketch_bloom_decontam,
    "sketch_bloom_union": q_sketch_bloom_union,
    "sketch_bloom_autom": q_sketch_bloom_autom,
    "sketch_hdr_quantile": q_sketch_hdr_quantile,
    "sketch_hdr_union": q_sketch_hdr_union,
    "sketch_kmv_distinct": q_sketch_kmv_distinct,
    "sketch_kmv_intersect": q_sketch_kmv_intersect,
    "sketch_kmv_diff": q_sketch_kmv_diff,
    "sketch_kmv_pairwise": q_sketch_kmv_pairwise,
}
EXTRA_ORACLES = {
    "sketch_distinct_hll": _sql_hll(group_by_half=False),
    # NOTE: the union oracles are the DIRECT whole-corpus sketch — the
    # Spark side goes through the per-half merge; equality IS the
    # mergeability proof
    "sketch_hll_union": _sql_hll(group_by_half=False),
    "sketch_cms_counts": _sql_cms(),
    "sketch_cms_union": _sql_cms(),
    "sketch_bloom_decontam": _sql_bloom(),
    "sketch_bloom_autom": _sql_bloom_autom(),
    # direct whole-benchmark bitmap — equality proves the bit_or merge
    "sketch_bloom_union": _sql_bloom(),
    "sketch_hdr_quantile": _sql_hdr(),
    # direct whole-table histogram — equality proves the count-sum merge
    "sketch_hdr_union": _sql_hdr(),
    "sketch_kmv_distinct": _sql_kmv(),
    "sketch_kmv_intersect": _sql_kmv(intersect=True),
    "sketch_kmv_diff": _sql_kmv_diff(),
    "sketch_kmv_pairwise": _sql_kmv_pairwise(),
}
