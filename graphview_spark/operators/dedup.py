"""Deduplication operators for large-scale training-data pipelines.

Net-new surface beyond the reference (SURVEY.md §7 phase 7): exact
dedup, MinHash+LSH, SimHash, n-gram Jaccard with length blocking, and
embedding-cosine near-dup. Every operator is a pure DataFrame plan whose
hash primitives (md5) exist verbatim in DuckDB, so each query has an
exact oracle — no RNG, no UDFs, no driver-side loops.

Scale design (the whole point of these operators):
  - Exact dedup: one hash-shuffle on md5(text) — the canonical
    map-side-combinable groupBy.
  - MinHash+LSH: signatures are per-row column math (no shuffle);
    candidate generation shuffles on the *band key* only (tiny), and the
    expensive Jaccard verification runs only on band-collision pairs.
    This is the textbook O(n·sig + candidates) layout that survives
    100 TB, vs the O(n²) all-pairs join that does not.
  - SimHash: per-row 60-bit fingerprint; candidates via the pigeonhole
    chunk trick (hamming ≤ k pairs must collide on one of k+1 chunks) —
    again equi-join shuffles on short keys only.
  - n-gram Jaccard (T=0.5): same signatures, wider LSH band shape
    (8 x 2) so the s-curve midpoint matches the lower threshold;
    candidates are a function of pair similarity, not corpus size.
  - Embedding cosine: brute-force within-label blocking here;
    the LSH-bucketed variant lives in operators/similarity.py.
"""

from __future__ import annotations

try:  # optional: ONLY the LSH bucketing seam needs pandas — a
    # pandas-less environment must still import the query registry
    # (ADVICE r6 #3); module-level because pandas_udf resolves the
    # seam's pd.Series type hints in this module's globals
    import pandas as pd
except ImportError:  # pragma: no cover - env-dependent
    pd = None  # type: ignore[assignment]
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphview_spark import artifacts
from graphview_spark.session import read_table

SHINGLE_N = 4          # words per shingle
N_PERM = 16            # minhash permutations
N_BANDS = 4            # LSH bands (rows per band = N_PERM // N_BANDS)
NGRAM_BANDS = 8        # wide-band shape for the 0.5-threshold join
MINHASH_JACCARD_T = 0.7
NGRAM_JACCARD_T = 0.5
SIMHASH_BITS = 60      # 15 hex chars of md5 → 60-bit fingerprint
SIMHASH_CHUNKS = 4     # pigeonhole: hamming ≤ CHUNKS-1 guaranteed caught
SIMHASH_HAMMING_T = 3
COSINE_T = 0.4


def read_spread(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Read a table and spread it across the cluster's cores.

    The synthetic tables are single small parquet files → Spark scans them
    as one partition, which would serialize every per-row-heavy operator
    (md5 signatures, intersections) onto one core. On a real deployment
    the scan is already split by ``spark.sql.files.maxPartitionBytes`` —
    so the repartition only fires when the scan has fewer splits than
    cores (a 100 TB scan returns thousands of splits and passes through
    untouched; no gratuitous full shuffle at scale). Hashing on the row
    key keeps the spread deterministic."""
    df = read_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


# --------------------------------------------------------------------------
# shared shingling (Spark + the DuckDB-SQL mirror)
# --------------------------------------------------------------------------

def shingles_col(text: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles of a space-tokenized text column.

    Guarded so short documents yield [] (Spark's ``sequence`` would
    otherwise emit a *descending* range when stop < start). The split
    array is lambda-bound via ``eval_once`` so the document is
    tokenized once per row, not once per shingle position.
    """
    from graphview_spark.operators import eval_once

    def _shingles(words: Column) -> Column:
        return F.when(
            F.size(words) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(words) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return eval_once(F.split(text, " "), _shingles)


def _sql_shingles(n: int = SHINGLE_N) -> str:
    """DuckDB expression mirroring ``shingles_col`` (w = word list)."""
    return (
        f"CASE WHEN len(w) >= {n} THEN list_distinct(list_transform("
        f"generate_series(1, len(w) - {n - 1}), "
        f"i -> array_to_string(w[i:i+{n - 1}], ' '))) "
        f"ELSE [] END"
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


_SQL_JACCARD = (
    "len(list_intersect({a}, {b}))::DOUBLE / "
    "(len({a}) + len({b}) - len(list_intersect({a}, {b})))"
)


# --------------------------------------------------------------------------
# exact dedup — hash groupBy
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate grouping by content hash. Each doc maps to the
    canonical (min doc_id) member of its md5(text) group; ``is_dup``
    marks rows a dedup pass would drop.

    Min/count come from a map-side-combinable AGGREGATION joined back on
    the hash — not an unordered window over the hash partition, which
    lands every copy of a viral duplicate on one reducer. The join's
    group side is one row per distinct hash."""
    docs = read_table(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    groups = hashed.groupBy("h").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return hashed.join(groups, "h").select(
        "doc_id",
        "canonical_id",
        "group_size",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )


ORACLE_DEDUP_EXACT = """
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
g AS (SELECT h, min(doc_id) AS canonical_id, count(*) AS group_size
      FROM h GROUP BY h)
SELECT doc_id, canonical_id, group_size,
       doc_id <> canonical_id AS is_dup
FROM h JOIN g USING (h)
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

MINHASH_P = 2_147_483_647          # Mersenne prime 2^31 - 1
_MINHASH_MASK = 1 << 28            # fold the 60-bit shingle hash to 28 bits


def _minhash_coeffs(n_perm: int = N_PERM) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for the universal-hash permutations — public,
    deterministic constants mirrored into the DuckDB oracle (same pattern
    as the similarity module's hyperplanes)."""
    import numpy as np

    rng = np.random.RandomState(41)
    return [
        (int(rng.randint(1, MINHASH_P)), int(rng.randint(0, MINHASH_P)))
        for _ in range(n_perm)
    ]


MINHASH_COEFFS = _minhash_coeffs()


def minhash_signatures(docs: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """(doc_id, hs = hashed shingle set, sigs = array<long>(n_perm)).

    Each shingle hashes ONCE (md5 → 60-bit int); permutation *i* is the
    universal hash ``(a_i * (h % 2^28) + b_i) % (2^31-1)`` — integer
    column math instead of the naive n_perm md5 calls per shingle (16×
    less digest work, the dominant CPU cost of MinHash at scale).

    All n_perm minima are computed in ONE fold over ``hs`` (accumulator =
    running-minimum array, ``zip_with`` against the coefficient arrays),
    so the shingle-hash expression is referenced exactly once per
    consumer and the whole signature is a single narrow map stage — no
    checkpoint, no shuffle, and no n_perm-fold recompute under Catalyst's
    projection collapse (the per-permutation ``array_min`` form re-read
    ``hs`` inside each of 16 lambdas).

    ``hs`` (the 60-bit hashed shingle set) also feeds the exact-Jaccard
    verification: intersecting longs is ~10× cheaper than 30-char
    strings, and the oracle hashes identically so a (negligible,
    2^-60-scale) collision cannot cause a mismatch."""
    hs = F.array_distinct(
        F.transform(
            shingles_col(F.col("text")),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        )
    )
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in MINHASH_COEFFS[:n_perm]])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in MINHASH_COEFFS[:n_perm]])
    coeffs = F.arrays_zip(a_arr.alias("a"), b_arr.alias("b"))
    sig_arr = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(MINHASH_P).cast("long"), n_perm),
        lambda acc, h: F.zip_with(
            acc,
            coeffs,
            lambda m, c: F.least(
                m, (c["a"] * (h % F.lit(_MINHASH_MASK)) + c["b"]) % F.lit(MINHASH_P)
            ),
        ),
    )
    # word-count guard instead of size(hs) > 0: same predicate (distinct
    # shingles are non-empty iff the doc has ≥ SHINGLE_N words) without a
    # second evaluation of the md5 transform
    return (
        docs.filter(F.size(F.split(F.col("text"), " ")) >= SHINGLE_N)
        .select("doc_id", hs.alias("hs"), sig_arr.alias("sigs"))
    )


def band_keys_col(n_bands: int, rows: int) -> Column:
    """array<string>(n_bands): band *b*'s key is the '|'-joined slice
    ``sigs[b*rows : b*rows+rows]`` — computed from the materialized
    ``sigs`` array in one expression (the per-band union-of-scans form
    cost n_bands passes over the signature table)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.array_join(
            F.transform(
                F.slice(F.col("sigs"), b * rows + 1, rows),
                lambda v: v.cast("string"),
            ),
            "|",
        ),
    )


# The three gate queries built on MinHash (T=0.7 pairs, T=0.5 n-gram
# pairs, cluster selection) all start from the SAME per-document
# signature table — exactly what a production pipeline materializes once
# per corpus snapshot and reuses. Both it and the verified pair tables
# are app-scoped artifacts (graphview_spark.artifacts) pinned by an eager
# localCheckpoint.


def cached_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (doc_id, hs, sigs) for a corpus dir, computed once
    per Spark app. The checkpoint also breaks lineage so every consumer
    (band explode, verify join, repeated queries) reads materialized rows
    instead of re-running the md5 signature pass."""
    return artifacts.memo(spark, "signatures", sf_dir, lambda: (
        minhash_signatures(read_spread(spark, sf_dir, "documents", "doc_id"))
        .localCheckpoint(eager=True)))


def _lsh_verified_pairs(
    spark: SparkSession, sf_dir: str, n_bands: int, threshold: float,
    materialize: bool = True,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification,
    parameterized by band shape. Pairs must agree on at least one full
    band of the 16-permutation signature; only those candidates pay the
    exact set-intersection cost. The band shape tunes the LSH s-curve:
    collision probability for a pair at Jaccard J is ``1-(1-J^r)^b``
    (r = rows per band), with midpoint ``(1/b)^(1/r)`` — so expected
    candidates are a function of pair SIMILARITY, independent of corpus
    size or length distribution."""
    rows = N_PERM // n_bands

    def verified(sigs: DataFrame) -> DataFrame:
        # one generate pass over the signature table → (doc_id, band, bkey);
        # hs/sigs stay OUT of the self-join so the shuffle rows are short
        bands = sigs.select(
            "doc_id", F.posexplode(band_keys_col(n_bands, rows))
        ).select("doc_id", F.col("pos").alias("band"), F.col("col").alias("bkey"))
        left = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
        right = bands.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
        cands = (
            left.join(right, ["band", "bkey"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        sh = sigs.select("doc_id", "hs")
        a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
        b2 = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
        return (
            cands.join(a, "doc_a")
            .join(b2, "doc_b")
            .withColumn("jaccard", F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 3))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )

    if not materialize:
        # plan-audit path: the full lineage (signatures included), no
        # checkpoint barriers, nothing cached
        return verified(minhash_signatures(
            read_spread(spark, sf_dir, "documents", "doc_id")))
    return artifacts.memo(
        spark, "pairs", (sf_dir, n_bands, threshold),
        lambda: verified(cached_signatures(spark, sf_dir))
        .localCheckpoint(eager=True))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup join at T=0.7: 4 bands x 4 rows — s-curve
    midpoint (1/4)^(1/4) ≈ 0.71, matched to the verify threshold."""
    return _lsh_verified_pairs(spark, sf_dir, N_BANDS, MINHASH_JACCARD_T)


def _sql_hex15_to_int(var: str = "s") -> str:
    """DuckDB: first 15 hex chars of md5(var) → BIGINT (mirrors Spark's
    ``conv(substring(md5(s), 1, 15), 16, 10)``)."""
    return (
        f"list_reduce(list_transform(string_split(substr(md5({var}), 1, 15), ''), "
        "c -> strpos('0123456789abcdef', c)::BIGINT - 1), (a, b) -> a * 16 + b)"
    )


def _oracle_lsh_verified(n_bands: int, threshold: float) -> str:
    rows = N_PERM // n_bands
    sig_exprs = ",\n  ".join(
        f"list_min(list_transform(hs, h -> ({a} * (h % {_MINHASH_MASK}) + {b}) "
        f"% {MINHASH_P})) AS sig_{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sigs".format(
            b=b,
            key=" || '|' || ".join(f"sig_{b * rows + r}" for r in range(rows)),
        )
        for b in range(n_bands)
    )
    jac = _SQL_JACCARD.format(a="x.hs", b="y.hs")
    return f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id, {_sql_shingles()} AS shw FROM docs),
shn AS (SELECT doc_id,
        list_distinct(list_transform(shw, s -> {_sql_hex15_to_int()})) AS hs
        FROM sh WHERE len(shw) > 0),
sigs AS (SELECT doc_id, hs, {sig_exprs} FROM shn),
bands AS ({band_selects}),
cands AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bkey = r.bkey
  WHERE l.doc_id < r.doc_id)
SELECT doc_a, doc_b, round({jac}, 3) AS jaccard
FROM cands JOIN shn x ON x.doc_id = doc_a JOIN shn y ON y.doc_id = doc_b
WHERE round({jac}, 3) >= {threshold}
"""


def _oracle_minhash() -> str:
    return _oracle_lsh_verified(N_BANDS, MINHASH_JACCARD_T)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def word_hashes_col(text: Column) -> Column:
    """Per-word 60-bit hashes (15 hex chars of md5 → bigint)."""
    return F.transform(
        F.split(text, " "),
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
    )


def simhash_from_hashes(hs: Column) -> Column:
    """60-bit SimHash from a word-hash array: per bit, strict majority of
    word-hash bits sets the fingerprint bit. ONE walk over the word
    hashes (zip_with accumulating the 60 per-bit counts), then a fold of
    counts×masks into the fingerprint — per-row, no shuffle, no UDF.
    The previous bit-outer form (60 masks each re-aggregating ``hs``)
    walked the array 60×; measured 0.54s→0.36s at sf0.1 for the
    fingerprint pass, r12. (A 60-separate-aggregates groupBy form
    compiled pathologically slowly in whole-stage codegen on occasion —
    still avoided.) ``hs`` is referenced twice (counts + size): pass a
    staged column, not an inline expression, on hot paths."""
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)])
    n = F.size(hs)
    counts = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(0)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts, masks,
            lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: fingerprint per doc, candidates via
    pigeonhole chunking (hamming ≤ 3 ⇒ equal on ≥1 of 4 15-bit chunks),
    verified with bit_count(xor)."""
    from graphview_spark.plans import lazy as _lazy

    docs = read_spread(spark, sf_dir, "documents", "doc_id")
    # stage the word-hash array as a projected column (simhash reads it
    # twice — counts + size; CollapseProject keeps a non-cheap alias
    # referenced twice, so each row pays one md5+conv per word), then
    # pin() the tiny (doc_id, fp) table: the 4-chunk × 2-side fan-out
    # below references it 8 times. One stage computes the fingerprints
    # — the former per-stage eager checkpoint of the word-hash arrays
    # is gone (r12: fingerprint pass 0.54s→0.36s at sf0.1).
    fp = _lazy.pin(
        docs.select("doc_id", word_hashes_col(F.col("text")).alias("hs"))
        .select("doc_id", simhash_from_hashes(F.col("hs")).alias("fp"))
    )
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1

    chunks = None
    for c in range(SIMHASH_CHUNKS):
        part = fp.select(
            "doc_id", "fp", F.lit(c).alias("chunk"),
            F.shiftright(F.col("fp"), c * chunk_bits).bitwiseAND(F.lit(mask)).alias("ckey"),
        )
        chunks = part if chunks is None else chunks.unionByName(part)
    left = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"), "chunk", "ckey"
    )
    right = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"), "chunk", "ckey"
    )
    # hamming filter BEFORE the distinct: the per-pair hamming is a
    # function of (doc_a, doc_b), so filter∘distinct ≡ distinct∘filter —
    # but the filter drops the chunk-collision noise first (r12 measured
    # 277k candidate rows → 1094 survivors at sf0.1), so the distinct's
    # exchange carries survivors only, guide §2.3 "shuffle fewer bytes".
    return (
        left.join(right, ["chunk", "ckey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_T)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def _oracle_simhash() -> str:
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    hex_to_int = (
        "list_reduce(list_transform(string_split(substr(md5(x), 1, 15), ''), "
        "c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)"
    )
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> {j}) & 1)) "
        f"> len(hs) THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    chunk_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, fp, {c} AS chunk, (fp >> {c * chunk_bits}) & {mask} AS ckey FROM fps"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
hashed AS (SELECT doc_id, list_transform(w, x -> {hex_to_int}) AS hs FROM docs),
fps AS (SELECT doc_id, ({bit_terms}) AS fp FROM hashed),
chunks AS ({chunk_selects}),
cands AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.fp AS fp_a, r.fp AS fp_b
  FROM chunks l JOIN chunks r ON l.chunk = r.chunk AND l.ckey = r.ckey
  WHERE l.doc_id < r.doc_id)
SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b)) AS hamming
FROM cands
WHERE bit_count(xor(fp_a, fp_b)) <= {SIMHASH_HAMMING_T}
"""


# --------------------------------------------------------------------------
# n-gram Jaccard at the lower 0.5 threshold — wide-band LSH candidates
# --------------------------------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard join at T=0.5: the SAME 16-permutation MinHash
    signatures as ``dedup_minhash_lsh``, banded 8 x 2 instead of 4 x 4 so
    the LSH s-curve midpoint (1/8)^(1/2) ≈ 0.35 sits below the 0.5
    verify threshold (vs ≈0.71 for the 4 x 4 shape tuned to T=0.7).

    Candidate bound is a function of pair SIMILARITY, not of corpus size
    or length distribution: a pair at Jaccard J collides in ≥1 band with
    probability 1-(1-J²)⁸ (≈0.90 at J=0.5, ≈0.2% at the random-pair
    J≈0.01), so expected candidates ≈ Σ_pairs [1-(1-J²)⁸] — only
    near-duplicate mass generates work. The previous length-band
    blocking collided ALL same-length documents, so its candidate count
    grew quadratically with corpus size at any fixed length
    distribution; this shape is the scale-safe replacement, and the
    exact intersection over hashed shingles still only runs on
    band collisions."""
    return _lsh_verified_pairs(spark, sf_dir, NGRAM_BANDS, NGRAM_JACCARD_T)


def _oracle_ngram() -> str:
    return _oracle_lsh_verified(NGRAM_BANDS, NGRAM_JACCARD_T)


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns via higher-order
    functions — stays in Tungsten, no UDF, no Python boundary.

    In pair-join hot paths prefer precomputing ``norm_col`` per ROW before
    the join and using ``dot_col(a, b) / (na * nb)`` — numerically
    identical (same fold, same expression), but the norms are evaluated
    n times instead of n² times."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


EMBED_CHUNKS = 8  # sub-splits per label block for pair-join parallelism

# Hybrid scale path (default): labels with more rows than this go
# through hyperplane-LSH candidate bucketing instead of the quadratic
# within-label pair join. Gate-scale labels (≈50 rows at sf0.01, ≈500
# at sf0.1) stay exact; a 100 TB label blows past this and gets banded.
EMBED_LSH_LABEL_ROWS = 4096
EMBED_LSH_BITS = 12    # hyperplanes per table (AND-amplification)
EMBED_LSH_TABLES = 8   # OR-amplified tables; recall ≈ 1-(1-p^bits)^tables
_EMBED_LSH_SEED = 101

# Density-adaptive shape (round-11, VERDICT r10 "What's wrong #1"): with
# a FIXED 2^12-bucket table, per-bucket occupancy grows linearly with
# label size, so the collision-verify mass grows ~quadratically — the
# sf10 rung measured 19.6× cost at 10× data. The fix sizes bits so the
# EXPECTED random-sign occupancy n/2^bits stays ≤ a constant, making
# the random collision mass n²/2^bits ≈ n·TARGET_OCC — linear in rows —
# and then re-sizes the OR-amplified table count so the recall bound at
# the 0.99 gate threshold is UNCHANGED: miss = (1-p^bits)^tables ≤
# _EMBED_LSH_MISS with p = 1 - arccos(0.99)/π. At bits=12 the formula
# reproduces tables=8 exactly, so every corpus whose labels fit in
# 2^12·TARGET_OCC rows (all gate/bench SFs through sf1) keeps the
# historical (12, 8) shape and byte-identical plans.
EMBED_LSH_TARGET_OCC = 2       # target expected rows per sign bucket
EMBED_LSH_MAX_BITS = 24        # 16M buckets; far past any tested rung
_EMBED_LSH_MISS = 2e-3         # per-pair miss budget at cosine 0.99
# rows per Arrow-batched matmul task (the coalesce target feeding the
# bucketing pandas UDF): ~16 MB of 64-dim doubles per task, big enough
# to amortize the per-task Python boundary, small enough that real
# corpora still fan out wide (coalesce never splits, so this only
# collapses tiny inputs)
EMBED_LSH_MATMUL_ROWS = 32_768


def _lsh_shape(max_label_rows: int | None) -> tuple[int, int]:
    """(bits, tables) for a corpus whose biggest label has
    ``max_label_rows`` rows; (EMBED_LSH_BITS, EMBED_LSH_TABLES) when
    unknown (lazy plan audit) or small. Pure integer/driver math."""
    import math

    if max_label_rows is None or max_label_rows <= 0:
        return EMBED_LSH_BITS, EMBED_LSH_TABLES
    bits = max(
        EMBED_LSH_BITS,
        math.ceil(math.log2(max(max_label_rows / EMBED_LSH_TARGET_OCC, 1))),
    )
    bits = min(bits, EMBED_LSH_MAX_BITS)
    if bits == EMBED_LSH_BITS:
        return bits, EMBED_LSH_TABLES
    p = 1.0 - math.acos(0.99) / math.pi       # sign-agreement prob/plane
    miss_per_table = 1.0 - p ** bits
    tables = max(
        EMBED_LSH_TABLES,
        math.ceil(math.log(_EMBED_LSH_MISS) / math.log(miss_per_table)),
    )
    return bits, tables


def _embed_lsh_planes(
    dim: int, bits: int = EMBED_LSH_BITS, tables: int = EMBED_LSH_TABLES
) -> list[list[list[float]]]:
    """tables × bits seeded hyperplanes (driver-side constants folded
    into the plan as array literals — nothing shipped to Python)."""
    import numpy as np

    rng = np.random.RandomState(_EMBED_LSH_SEED)
    return [
        [
            [round(float(x), 6) for x in rng.randn(dim)]
            for _ in range(bits)
        ]
        for _ in range(tables)
    ]


def _table_buckets_col(v: Column, planes: list[list[list[float]]]) -> Column:
    """array<int> of per-table sign-bucket ids for vector column ``v`` —
    an Arrow-batched vectorized matmul (``sign(V @ W.T)`` over each
    batch), the second sanctioned Python eval seam after the multimodal
    decoders (PLANS.md).

    Why not pure SQL expressions: this is BLAS-shaped work. The
    expression forms were tried and measured at sf0.1 — 96 separate
    aggregate(zip_with) trees cost ~9s of whole-stage-codegen compile
    per execution; a single transform/zip_with/aggregate lambda over a
    literal (tables × bits × dim) tensor avoids the codegen blowup but
    interprets ~tables·bits·dim lambda steps per row with an array
    allocation per dot product (~5s at 4k rows, and per-ROW cost is
    what a 10⁹-row corpus multiplies). The batched matmul does the same
    arithmetic at NumPy/BLAS speed with one Python worker per executor
    core, and the plane tensor rides task serialization as a ~50 KB
    numpy closure, not 6144 plan literals."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if pd is None:  # pragma: no cover - env-dependent
        raise ImportError(
            "pandas is required for the embedding-LSH bucketing leg")

    W = np.asarray(planes, dtype=np.float64)      # (tables, bits, dim)
    tables, bits, dim = W.shape
    flat = W.reshape(tables * bits, dim)
    powers = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("array<int>")
    def _buckets(vs: pd.Series) -> pd.Series:
        # validate before vstack: a NULL or wrong-length embedding row
        # would otherwise kill the task with an opaque numpy traceback
        # (ADVICE r6 #4); name the row so dead letters are diagnosable
        arrs = vs.to_numpy()
        for i, a in enumerate(arrs):
            if a is None or len(a) != dim:
                raise ValueError(
                    f"embedding row in batch position {i} is "
                    f"{'NULL' if a is None else f'length {len(a)}'}, "
                    f"expected a {dim}-dim vector; filter or impute "
                    "dirty vectors before LSH bucketing"
                )
        V = np.vstack(arrs)                       # (batch, dim)
        signs = (V @ flat.T >= 0).reshape(len(V), tables, bits)
        bk = (signs * powers).sum(axis=2).astype(np.int32)
        return pd.Series(list(bk))

    # non-deterministic mark (guide §4.4): consumers posexplode this
    # column, and Generate(outer=false) lets the optimizer INFER a
    # `size(udf(v)) > 0 AND isnotnull(udf(v))` filter which it then
    # pushes below the union/scan — re-evaluating the matmul once per
    # copy (measured: THREE ArrowEvalPython nodes for one call site,
    # 14.2s vs 0.4s for the bucketing pass at sf0.1). The function is
    # pure; the mark only forbids the optimizer from duplicating or
    # reordering it.
    return _buckets.asNondeterministic()(v)


def embed_cosine_pairs(
    emb: DataFrame,
    cosine_t: float,
    label_threshold: int | None = EMBED_LSH_LABEL_ROWS,
    dim: int = 64,
    stats: tuple[int, int] | None = None,
    shape: tuple[int, int] | None = None,
) -> DataFrame:
    """Within-label embedding near-dup pairs (cosine ≥ ``cosine_t``)
    with the hyperplane-LSH bucketing as the DEFAULT scale path: labels
    with ≤ ``label_threshold`` rows take the exact chunked pair join;
    bigger labels generate candidates by per-table sign-bucket equi-join
    (EMBED_LSH_TABLES OR-amplified tables of EMBED_LSH_BITS hyperplanes)
    and only candidates are exactly verified. ``emb`` needs columns
    (vec_id, v: array<double>, label).

    ``label_threshold=None`` means EXACT AT EVERY SIZE — no LSH leg is
    ever built, whatever the stats say. This is the contract for
    operators whose oracle is the exact SQL (round-10 sf3 finding: the
    default threshold silently swapped q_dedup_embed_cosine's exact
    semantics for ~4% LSH recall the first time a label crossed 4096
    rows — at cosine_t well below the near-dup regime, sign-bucket
    collision probability (1-θ/π)^bits is a candidate FILTER, not a
    recall guarantee).

    Scale notes: the exact leg is quadratic per label but bounded by
    label_threshold²; the LSH leg's candidate count tracks true-pair
    count (near-identical vectors agree on all sign bits with
    probability (1-θ/π)^bits per table). Candidate ids are de-duplicated
    across tables BEFORE vectors are re-joined, so each surviving pair
    pays exactly one cosine. Recall on true near-dups (cosine ≥ 0.99)
    is ≥ 1-1e-6; tests/test_dedup.py asserts LSH ≡ exact on such a
    fixture.

    ``stats`` = (max label rows, data dim) or the richer
    (max label rows, MIN label rows, data dim, total rows), if the
    caller already knows them (e.g. from the per-corpus stat cache —
    see q_dedup_embed_cosine): routing then costs NOTHING. Otherwise
    one map-side-combinable aggregate probes all four. When every label
    fits under ``label_threshold`` the _lbl_n bookkeeping join is
    skipped entirely — the all-small case (the common one at gate
    scale) runs the exact leg straight over ``emb``; symmetrically,
    when the MIN label size already exceeds the threshold (the
    clone-union gate queries, or a uniformly dense corpus) EVERY label
    routes big, so the sizes join, the pin and the empty exact leg are
    all skipped and the LSH leg runs straight over ``emb``.

    ``shape`` pins the LSH leg's (bits, tables) instead of deriving it
    from the stats — the hook that lets a GATE-SCALE corpus drive the
    high-density shapes the adaptive sizing reserves for huge labels
    (VERDICT r11 "Next #2": the sf10 (15, 9) leg deserved an oracle
    row at its own shape, not just rows-identity evidence). Forcing a
    bigger shape never changes WHICH pairs identical vectors produce —
    sign(w·v) is deterministic, so clone recall is exactly 1 at any
    (bits, tables) — it only re-sizes the bucket space the candidates
    route through."""
    from graphview_spark.plans import lazy as _lazy

    emb = emb.withColumn("nv", norm_col(F.col("v")))
    # driver-side routing (the same class of plan decision AQE makes):
    # only build the legs that have rows — the 96-hyperplane LSH
    # expression tree costs seconds of codegen even over an empty
    # frame. Under lazy plan inspection there is no materialized frame
    # to probe, so BOTH legs build (mx=None) — the worst-case plan is
    # what gets audited.
    mx = mn = data_dim = n_rows = None
    if stats is not None:
        if len(stats) == 4:
            mx, mn, data_dim, n_rows = stats
        else:  # legacy (max label rows, dim) hint — min/total unknown
            mx, data_dim = stats
    elif not _lazy.is_lazy():
        row = (
            emb.groupBy("label")
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.max(F.size("v")).alias("_d"))
            .agg(F.max("_n"), F.min("_n"), F.max("_d"), F.sum("_n"))
            .first()
        )
        mx, mn = row[0] or 0, row[1] or 0
        data_dim, n_rows = row[2], row[3] or 0
    if label_threshold is None:
        # exact contract: every label takes the exact leg, no stats
        # consulted, no LSH leg even under lazy plan audit
        small, big = emb, None
    elif mx is not None and mx > label_threshold and data_dim != dim:
        # zip_with against a wrong-length plane yields NULL, NULL >= 0
        # is false for every bit, and every vector would silently land
        # in bucket 0 of every table — an 8×-replicated quadratic join
        # instead of the scale path. Fail loudly instead.
        raise ValueError(
            f"embed_cosine_pairs: data dimension {data_dim} != "
            f"hyperplane dim {dim} — pass dim= explicitly"
        )
    elif mx is not None and mx <= label_threshold:
        # all labels small: no _lbl_n join, no pin, exact leg only
        small, big = emb, None
    elif mn is not None and mn > label_threshold:
        # all labels big: no _lbl_n join, no pin, no (empty) exact leg
        small, big = None, emb
    else:
        sizes = emb.groupBy("label").agg(
            F.count(F.lit(1)).alias("_lbl_n"))
        emb = _lazy.pin(emb.join(F.broadcast(sizes), "label"))
        small = emb.filter(F.col("_lbl_n") <= label_threshold)
        big = emb.filter(F.col("_lbl_n") > label_threshold)

    cosine = dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))

    # exact leg: chunk-salted within-label self-join (parallelism =
    # label_count × EMBED_CHUNKS shuffle cells instead of label_count);
    # skipped outright when the stats prove every label routes big
    exact = None
    if small is not None:
        a = small.select(
            F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
            F.col("nv").alias("na"), "label",
            F.pmod(F.col("vec_id"), F.lit(EMBED_CHUNKS)).alias("chunk"),
        )
        b = small.select(
            F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
            F.col("nv").alias("nb"), "label",
        ).withColumn(
            "chunk", F.explode(F.sequence(F.lit(0), F.lit(EMBED_CHUNKS - 1)))
        )
        exact = (
            a.join(b, ["label", "chunk"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cosine", F.round(cosine, 4))
            .filter(F.col("cosine") >= cosine_t)
            .select("vec_a", "vec_b", "cosine")
        )
    if big is None or (mx is not None and mx <= label_threshold):
        return exact

    # LSH leg: ids-only candidate generation, then one exact verify.
    # Shape is density-adaptive: bits sized so expected bucket occupancy
    # stays O(1) as labels grow (mx=None under lazy audit → default).
    bits, tables = shape if shape is not None else _lsh_shape(mx)
    planes = _embed_lsh_planes(dim, bits, tables)
    # right-size the Arrow-batched matmul's task count to the data: the
    # pandas-UDF boundary costs ~10-15ms per task regardless of rows, so
    # a tiny corpus spread over defaultParallelism scan partitions pays
    # pure overhead (64 × ~60-row tasks measured 0.9s vs 0.3s at sf0.1).
    # coalesce() never INCREASES partitions, so at scale — where
    # rows/EMBED_LSH_MATMUL_ROWS exceeds the scan's partition count —
    # this is a no-op and the scan parallelism stands (guide §2/§4:
    # scale-adaptive, not tuned to either rung).
    src = big
    if n_rows is not None and n_rows > 0:
        src = big.coalesce(
            max(1, -(-int(n_rows) // EMBED_LSH_MATMUL_ROWS)))
    keyed = src.select(
        "vec_id", "label", _table_buckets_col(F.col("v"), planes).alias("_bk")
    ).select(
        "vec_id", "label",
        F.posexplode("_bk").alias("_table", "_bucket"),
    )
    # pin before the self-join: both join sides would otherwise
    # re-evaluate the ArrowEvalPython matmul subtree (measured 3.4s vs
    # 0.55s for the candidate stage at sf0.1) — the keyed frame is
    # ids-only (4 narrow columns × rows·tables), never the vectors
    keyed = _lazy.pin(keyed)
    cand = (
        keyed.alias("x")
        .join(
            keyed.alias("y"),
            ["label", "_table", "_bucket"],
        )
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    va = big.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    vb = big.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    approx = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cosine", F.round(cosine, 4))
        .filter(F.col("cosine") >= cosine_t)
        .select("vec_a", "vec_b", "cosine")
    )
    return approx if exact is None else exact.unionByName(approx)


def embed_stats(spark: SparkSession, sf_dir: str,
                emb: DataFrame) -> tuple[int, int, int, int] | None:
    """Memoized (max label rows, min label rows, embedding dim, total
    rows) for a corpus dir — one map-side-combinable aggregate per app,
    which makes embed_cosine_pairs' label routing FREE on every call
    after the first. None under lazy plan inspection (no jobs may run;
    the callee then builds the worst-case both-legs plan for the
    audit)."""
    from graphview_spark.plans import lazy as _lazy

    if _lazy.is_lazy():
        return None

    def build() -> tuple[int, int, int, int]:
        row = (
            emb.groupBy("label")
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.max(F.size("v")).alias("_d"))
            .agg(F.max("_n"), F.min("_n"), F.max("_d"), F.sum("_n"))
            .first()
        )
        return (row[0] or 0, row[1] or 0, row[2], row[3] or 0)
    return artifacts.memo(spark, "embed_stats", sf_dir, build)


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decoded (vec_id, v, label) embeddings corpus, pinned once per
    app: unpinned, every consumer re-pays read_spread's overhead (~0.15s
    of DataFrame→RDD partition probing + ~0.35s scan/repartition), the
    majority of an embed query at gate scale (VERDICT r7 "What's wrong
    #1"). DML never touches the embeddings corpus, so the only
    invalidation is app death."""
    from graphview_spark.plans import lazy as _lazy

    decode = lambda: read_spread(  # noqa: E731
        spark, sf_dir, "embeddings", "vec_id"
    ).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )
    if _lazy.is_lazy():  # plan audit: full pipeline, no cache, no jobs
        return decode()
    return artifacts.memo(spark, "embeddings", sf_dir,
                          lambda: decode().localCheckpoint(eager=True))


def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, blocked by the
    cluster label (the pre-assigned coarse partition — the IVF idea:
    high-cosine pairs almost surely share a coarse cluster), EXACT at
    every scale (label_threshold=None): that is this operator's
    contract and its oracle. The within-label chunked self-join is
    quadratic per label — inherent to exactness; the exact SQL oracle
    pays the same — and distributes over label × EMBED_CHUNKS shuffle
    cells. Users who accept approximate recall at scale use the LSH
    route (q_dedup_embed_lsh / embed_cosine_pairs with a threshold).

    Round-10 regression note: this query previously inherited the
    LSH-above-4096-rows default and stayed oracle-green at sf0.01/0.1/1
    only because no label crossed the gate; the first sf3 sweep caught
    recall collapsing to ~4% (spark 3,525 vs exact 86,608 pairs).
    Pinned exact by tests/test_pipeline_ops.py (giant-label stats +
    LSH-leg tripwire)."""
    emb = read_embeddings(spark, sf_dir)
    return embed_cosine_pairs(emb, COSINE_T, label_threshold=None)


# clones get vec_id + _EMB_LSH_ID_OFFSET — far above any real vec_id at
# every tested SF, asserted in tests so growth can't silently collide
_EMB_LSH_ID_OFFSET = 10_000_000
EMBED_LSH_GATE_T = 0.99


def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the hyperplane-LSH candidate leg END-TO-END under the
    exact-SQL oracle (the leg the 4096-row default threshold reserves
    for 100 TB labels, which gate-scale corpora never reach): the corpus
    is unioned with an id-shifted clone of itself, label_threshold=16
    routes every (now ≥2×-sized) label through the LSH leg, and the
    0.99 threshold keeps only clone pairs. Identical vectors agree on
    every hyperplane sign DETERMINISTICALLY (sign(w·v) is a pure
    function of v), so LSH recall is exactly 1 here and the result must
    hash-match the oracle's brute-force self-join — a true equivalence
    gate on the bucketing, candidate-join and verify plumbing."""
    emb = read_embeddings(spark, sf_dir)
    doubled = emb.unionByName(
        emb.select(
            (F.col("vec_id") + F.lit(_EMB_LSH_ID_OFFSET)).alias("vec_id"),
            "v", "label",
        )
    )
    st = embed_stats(spark, sf_dir, emb)
    # clone-union doubles every label count and the total exactly
    stats = (2 * st[0], 2 * st[1], st[2], 2 * st[3]) if st else None
    return embed_cosine_pairs(
        doubled, EMBED_LSH_GATE_T, label_threshold=16, stats=stats)


# the sf10 rung's measured max-label density: _lsh_shape of a ~40k-row
# label is (15, 9) — the adaptive shape the r11 sweep could only
# evidence with byte-identical output rows. q_dedup_embed_lsh_hi pins
# that exact shape over the gate-scale clone corpus so the >13-bit leg
# carries a DuckDB hash row at sf0.01 cost (VERDICT r11 "Next #2").
EMBED_LSH_HI_LABEL_ROWS = 40_000


def q_dedup_embed_lsh_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME clone-union equivalence gate as q_dedup_embed_lsh, but
    with the LSH leg FORCED to the high-density shape the adaptive
    sizing picks for the sf10 rung's ~40k-row labels —
    _lsh_shape(40000) = (15 bits, 9 tables), asserted by
    tests/test_property_dedup.py so this row tracks the production
    formula instead of a hardcoded pair. Identical vectors agree on
    every hyperplane sign at ANY shape (sign(w·v) is deterministic),
    so recall on the clone pairs is exactly 1 and the result must
    hash-match the same brute-force oracle: a true equivalence gate on
    the bits>13 bucket space, the 9-table OR-amplified candidate join,
    and the verify plumbing at small-corpus cost."""
    emb = read_embeddings(spark, sf_dir)
    doubled = emb.unionByName(
        emb.select(
            (F.col("vec_id") + F.lit(_EMB_LSH_ID_OFFSET)).alias("vec_id"),
            "v", "label",
        )
    )
    st = embed_stats(spark, sf_dir, emb)
    stats = (2 * st[0], 2 * st[1], st[2], 2 * st[3]) if st else None
    return embed_cosine_pairs(
        doubled, EMBED_LSH_GATE_T, label_threshold=16, stats=stats,
        shape=_lsh_shape(EMBED_LSH_HI_LABEL_ROWS))


ORACLE_DEDUP_EMBED_LSH = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
              FROM embeddings),
e AS (SELECT * FROM base
      UNION ALL
      SELECT vec_id + {_EMB_LSH_ID_OFFSET}, v, label FROM base)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {EMBED_LSH_GATE_T}
"""


ORACLE_DEDUP_EMBED = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {COSINE_T}
"""


# --------------------------------------------------------------------------
# near-dup clustering + canonical selection
# --------------------------------------------------------------------------

def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Group near-duplicate PAIRS into clusters and pick one canonical
    document per cluster — the step a real dedup pipeline runs after any
    pair generator (LSH/SimHash/cosine): connected components over the
    pair graph, cluster id = min doc_id in the component, ``keep`` marks
    the canonical doc. Returns one row per clustered doc:
    (doc_id, cluster_id, cluster_size, keep).

    Scale: min-label propagation converges in O(cluster diameter)
    rounds, and near-dup clusters are small-diameter by construction
    (members pairwise-similar to a shared template), so a handful of
    one-shuffle rounds suffices even at 100 TB; the alternating
    large-star/small-star formulation is the drop-in upgrade if
    adversarial chain-shaped clusters appear. Singleton docs never enter
    the pair graph, so cost scales with duplicate mass, not corpus size.
    """
    from pyspark.sql import Window as W

    from graphview_spark.algorithms import connected_components

    nodes = (
        pairs.select(F.col("doc_a").alias("GlobalNodeId"))
        .union(pairs.select("doc_b"))
        .distinct()
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("sink")
    )
    cc = connected_components(nodes, edges)
    return (
        cc.select(
            F.col("GlobalNodeId").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )
        .withColumn(
            "cluster_size", F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters over the T=0.7 MinHash-LSH verified pair graph."""
    pairs = _lsh_verified_pairs(spark, sf_dir, N_BANDS, MINHASH_JACCARD_T)
    return dedup_clusters(pairs)


def _oracle_clusters(rounds: int = 6) -> str:
    """Components over the pair graph as UNROLLED propagate+compress
    rounds (each O(E); label chains halve per round, so 6 rounds cover
    any cluster of diameter ≤ 2⁶ — near-dup clusters are near-cliques,
    diameter ~2). Replaces the recursive reach closure, which was
    quadratic in component size (25 s of the 30 s SCALECHECK r4 wall at
    sf0.1 was this oracle, not the Spark operator). A load-bearing
    fixpoint sentinel (multiplied into cluster_size) errors if the last
    round still changed a label."""
    pair_sql = _oracle_lsh_verified(N_BANDS, MINHASH_JACCARD_T)
    parts = [
        f"pairs AS MATERIALIZED ({pair_sql})",
        "sym AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS id FROM sym)",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)",
    ]
    for i in range(1, rounds + 1):
        prev = f"l{i - 1}"
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT n.id, "
            f"least(n.label, coalesce(min(l.label), n.label)) AS label "
            f"FROM {prev} n LEFT JOIN sym e ON e.b = n.id "
            f"LEFT JOIN {prev} l ON l.id = e.a "
            f"GROUP BY n.id, n.label)"
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT a.id, "
            f"coalesce(b.label, a.label) AS label "
            f"FROM p{i} a LEFT JOIN p{i} b ON b.id = a.label)"
        )
    return (
        "WITH " + ",\n".join(parts) + f""",
comp AS (SELECT id AS doc_id, label AS cluster_id FROM l{rounds}),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp
          GROUP BY cluster_id),
chg AS (SELECT count(*) AS c FROM l{rounds} a
        JOIN l{rounds - 1} b ON b.id = a.id AND b.label <> a.label)
SELECT doc_id, cluster_id,
       (cluster_size * (SELECT CASE WHEN c > 0
          THEN error('clusters oracle: unroll depth {rounds} did not reach fixpoint - raise rounds')
          ELSE 1 END FROM chg))::BIGINT AS cluster_size,
       doc_id = cluster_id AS keep
FROM comp JOIN sizes USING (cluster_id)
"""
    )


HELDOUT_SOURCES = ("src0", "src1")  # held-out slice for cross-corpus dedup


def q_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dedup: flag TRAIN documents that near-duplicate
    (MinHash Jaccard ≥ T) any document in the HELD-OUT sources — the
    train-vs-eval leak scrub a pipeline runs before packing. Reuses the
    corpus-wide LSH verified pairs (signatures built once, banded
    candidates, exact Jaccard only on collisions), then a metadata join
    splits pairs by source; only pair rows shuffle, never the corpus."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _lsh_verified_pairs(spark, sf_dir, N_BANDS, MINHASH_JACCARD_T)
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    tagged = pairs.join(sa, "doc_a").join(sb, "doc_b")
    held = list(HELDOUT_SOURCES)
    flagged = tagged.filter(
        ~F.col("src_a").isin(held) & F.col("src_b").isin(held)
    ).select(
        F.col("doc_a").alias("doc_id"),
        F.col("src_a").alias("source"),
        F.col("doc_b").alias("held_match"),
    ).union(
        tagged.filter(
            F.col("src_a").isin(held) & ~F.col("src_b").isin(held)
        ).select(
            F.col("doc_b").alias("doc_id"),
            F.col("src_b").alias("source"),
            F.col("doc_a").alias("held_match"),
        )
    )
    return flagged.groupBy("doc_id", "source").agg(
        F.min("held_match").alias("held_match"),
        F.count(F.lit(1)).alias("n_matches"),
    )


def _oracle_cross_corpus() -> str:
    held = ", ".join(f"'{s}'" for s in HELDOUT_SOURCES)
    pair_sql = _oracle_lsh_verified(N_BANDS, MINHASH_JACCARD_T)
    return f"""
WITH pairs AS MATERIALIZED ({pair_sql}),
tagged AS (
  SELECT p.doc_a, p.doc_b, a.source AS src_a, b.source AS src_b
  FROM pairs p
  JOIN documents a ON a.doc_id = p.doc_a
  JOIN documents b ON b.doc_id = p.doc_b
),
flagged AS (
  SELECT doc_a AS doc_id, src_a AS source, doc_b AS held_match
  FROM tagged
  WHERE src_a NOT IN ({held}) AND src_b IN ({held})
  UNION ALL
  SELECT doc_b, src_b, doc_a FROM tagged
  WHERE src_a IN ({held}) AND src_b NOT IN ({held})
)
SELECT doc_id, source, min(held_match) AS held_match,
       count(*)::BIGINT AS n_matches
FROM flagged
GROUP BY doc_id, source
"""


# --------------------------------------------------------------------------
# incremental near-dup ingest — the production shape of MinHash dedup:
# a NEW batch of documents is checked against the PERSISTED signature
# index of everything already accepted, and each new doc gets an
# accept/reject verdict (plus its best index match). The streaming
# ingest-rejection operator (tests/test_dedup_stream.py) runs exactly
# this body per micro-batch; this batch row gives that mechanism its
# cross-engine oracle. Fixture split: even doc_ids = the index, odd
# doc_ids = the arriving batch.
#
# Scale shape: the index side is signatures ONLY (never text) — at
# 100 TB it is a bucketed parquet artifact keyed by band key, so the
# candidate join shuffles just the batch's short (doc_id, band, bkey)
# rows against co-located index bands; the exact-Jaccard verify then
# touches only colliding pairs. Nothing here is corpus × corpus.
# --------------------------------------------------------------------------


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-new-doc verdict: (doc_id, is_dup, matched_id, jaccard) for
    every odd-doc_id document, where matched_id is the best (highest
    rounded Jaccard, lowest id) even-doc_id match at T=0.7 via the
    4×4 band shape — NULL when the doc clears the index."""
    sigs = cached_signatures(spark, sf_dir)
    newdocs = (
        read_spread(spark, sf_dir, "documents", "doc_id")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id")
    )
    return incremental_verdicts(sigs, newdocs)


def incremental_verdicts(sigs: DataFrame, newdocs: DataFrame) -> DataFrame:
    """Core of :func:`q_dedup_incremental` over any signature store —
    also what the plan audit builds from the un-checkpointed lineage."""
    from pyspark.sql import Window as W

    rows = N_PERM // N_BANDS
    bands = sigs.select(
        "doc_id", F.posexplode(band_keys_col(N_BANDS, rows))
    ).select("doc_id", F.col("pos").alias("band"), F.col("col").alias("bkey"))
    idx_b = bands.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("doc_idx"), "band", "bkey")
    new_b = bands.filter(F.col("doc_id") % 2 == 1)
    cands = (
        new_b.join(idx_b, ["band", "bkey"])
        .select("doc_id", "doc_idx")
        .distinct()
    )
    sh = sigs.select("doc_id", "hs")
    verified = (
        cands
        .join(sh.select(F.col("doc_id"), F.col("hs").alias("sh_n")),
              "doc_id")
        .join(sh.select(F.col("doc_id").alias("doc_idx"),
                        F.col("hs").alias("sh_i")),
              "doc_idx")
        .withColumn("jaccard",
                    F.round(_jaccard(F.col("sh_n"), F.col("sh_i")), 3))
        .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
    )
    # best match as ONE hash aggregate (r12, guide §2.4): min over
    # (−jaccard, doc_idx) structs is the window's exact (jaccard desc,
    # doc_idx asc) order — (doc_id, doc_idx) pairs are unique so the
    # order is total; jaccard ≥ T > 0 after the filter, negation exact.
    # Map-side partial min replaces a sort window over the candidates.
    best = (
        verified.groupBy("doc_id")
        .agg(F.min(F.struct((-F.col("jaccard")).alias("__nj"),
                            F.col("doc_idx"))).alias("__m"))
        .select("doc_id", F.col("__m.doc_idx").alias("matched_id"),
                (-F.col("__m.__nj")).alias("jaccard"))
    )
    return (
        newdocs.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("matched_id").isNotNull().alias("is_dup"),
            "matched_id",
            "jaccard",
        )
    )


def _oracle_incremental() -> str:
    rows = N_PERM // N_BANDS
    sig_exprs = ",\n  ".join(
        f"list_min(list_transform(hs, h -> ({a} * (h % {_MINHASH_MASK}) + {b}) "
        f"% {MINHASH_P})) AS sig_{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sigs".format(
            b=b,
            key=" || '|' || ".join(
                f"sig_{b * rows + r}" for r in range(rows)),
        )
        for b in range(N_BANDS)
    )
    jac = _SQL_JACCARD.format(a="x.hs", b="y.hs")
    return f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id, {_sql_shingles()} AS shw FROM docs),
shn AS (SELECT doc_id,
        list_distinct(list_transform(shw, s -> {_sql_hex15_to_int()})) AS hs
        FROM sh WHERE len(shw) > 0),
sigs AS (SELECT doc_id, hs, {sig_exprs} FROM shn),
bands AS ({band_selects}),
cands AS (
  SELECT DISTINCT n.doc_id AS doc_id, i.doc_id AS doc_idx
  FROM bands n JOIN bands i ON n.band = i.band AND n.bkey = i.bkey
  WHERE n.doc_id % 2 = 1 AND i.doc_id % 2 = 0),
ver AS (
  SELECT c.doc_id, c.doc_idx, round({jac}, 3) AS jaccard
  FROM cands c JOIN shn x ON x.doc_id = c.doc_id
               JOIN shn y ON y.doc_id = c.doc_idx
  WHERE round({jac}, 3) >= {MINHASH_JACCARD_T}),
best AS (
  SELECT doc_id, doc_idx, jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY jaccard DESC, doc_idx ASC) AS rn
    FROM ver)
  WHERE rn = 1)
SELECT d.doc_id, b.doc_idx IS NOT NULL AS is_dup,
       b.doc_idx AS matched_id, b.jaccard
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
WHERE d.doc_id % 2 = 1
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embed_cosine": q_dedup_embed_cosine,
    "dedup_clusters": q_dedup_clusters,
    "dedup_cross_corpus": q_dedup_cross_corpus,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_minhash_lsh": _oracle_minhash(),
    "dedup_ngram_jaccard": _oracle_ngram(),
    "dedup_embed_cosine": ORACLE_DEDUP_EMBED,
    "dedup_clusters": _oracle_clusters(),
    "dedup_cross_corpus": _oracle_cross_corpus(),
}

# outside the 50-entry driver gate — oracle-checked via extra_queries()
# dedup_simhash rotated OUT of the gate in round 4 (driver-green r2-3)
EXTRA_QUERIES = {
    "dedup_simhash": q_dedup_simhash,
    "dedup_embed_lsh": q_dedup_embed_lsh,
    "dedup_embed_lsh_hi": q_dedup_embed_lsh_hi,
    "dedup_incremental": q_dedup_incremental,
}
EXTRA_ORACLES = {
    "dedup_simhash": _oracle_simhash(),
    "dedup_embed_lsh": ORACLE_DEDUP_EMBED_LSH,
    # same exact oracle: the forced (15, 9) shape must be result-
    # invariant — that equality IS the row's claim
    "dedup_embed_lsh_hi": ORACLE_DEDUP_EMBED_LSH,
    "dedup_incremental": _oracle_incremental(),
}
