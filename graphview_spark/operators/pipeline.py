"""Training-data pipeline operators: decontamination, sequence packing,
quantile-based quality filtering, and domain mixing.

Net-new surface (SURVEY.md §2.9) — the steps between "raw corpus" and
"training batches" that a 100 TB pipeline runs after dedup:

  - Decontamination: drop training documents that share any word n-gram
    with a held-out benchmark set. The benchmark n-gram set is tiny
    relative to the corpus (thousands of eval documents), so candidate
    matching is a BROADCAST semi-join against the corpus's exploded
    n-grams — the corpus is never shuffled, and the explode is map-side
    fuel for a codegen'd hash probe.
  - Sequence packing: concat-and-chunk packing of token streams into
    fixed-budget training sequences. A running token-offset window per
    shard; shards are hash-assigned so the sort parallelizes, and the
    shard count is the knob that bounds per-task sort size at scale.
  - Quality quantile filter: keep documents at or above a per-language
    score quantile. ``cume_dist`` over (lang, score) — deterministic
    under ties (equal scores share a rank), unlike sampled percentiles.
    The one-pass sketch alternative (approx_percentile) is asserted in
    tests as the scale path when an exact global sort is not worth it.
  - Domain mixing: deterministic hash-acceptance resampling to target
    per-language rates, with an importance weight (1/rate) carried on
    kept rows so downstream loss weighting can undo the bias.

Every operator is a pure DataFrame plan with md5-based determinism (no
RNG), so each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from graphview_spark.session import read_table

DECONTAM_N = 5            # words per decontamination n-gram
PACK_BUDGET = 2048        # tokens per packed training sequence
PACK_SHARDS = 8           # parallel packing streams (per-task sort bound)
QUANTILE_KEEP = 0.5       # keep docs at/above this per-lang score quantile
MIX_RATES = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.25}
MIX_BUCKETS = 1000        # acceptance-hash granularity
# Measured-size broadcast gate for the bigram LM's scored count table
# (rows counted on the PINNED cb checkpoint, never an estimate — the
# same discipline as algorithms._DRIVER_EDGES). 1M (prev, cur, nll)
# rows ≈ low hundreds of MB as a hash relation: safely under the 8 GB
# broadcast cap, far above any corpus whose vocab² table should
# shuffle instead.
BIGRAM_BCAST_ROWS = 1_000_000


def _word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams of a space-tokenized text column (same
    guard as dedup.shingles_col: short docs yield []). The split array
    is lambda-bound via ``eval_once`` so the document is tokenized once
    per row, not once per n-gram position."""
    from graphview_spark.operators import eval_once

    def _grams(words: Column) -> Column:
        return F.when(
            F.size(words) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(words) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(words, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return eval_once(F.split(text, " "), _grams)


def _sql_word_ngrams(n: int) -> str:
    """DuckDB mirror of ``_word_ngrams`` (w = word list)."""
    return (
        f"CASE WHEN len(w) >= {n} THEN list_distinct(list_transform("
        f"generate_series(1, len(w) - {n - 1}), "
        f"i -> array_to_string(w[i:i+{n - 1}], ' '))) "
        f"ELSE [] END"
    )


# --------------------------------------------------------------------------
# decontamination
# --------------------------------------------------------------------------

def benchmark_docs(docs: DataFrame) -> DataFrame:
    """Deterministic stand-in for a held-out eval benchmark: every 97th
    document. A real pipeline feeds the actual benchmark table here."""
    return docs.filter(F.col("doc_id") % 97 == 0)


def decontaminate(train: DataFrame, benchmark: DataFrame, n: int = DECONTAM_N) -> DataFrame:
    """Flag training documents sharing ≥1 word n-gram with the benchmark.

    Plan shape: the benchmark's distinct n-grams (small) broadcast into
    an inner join against the corpus's exploded n-grams — per-doc match
    counts aggregate map-side, and only the contaminated-id list
    shuffles. The benchmark gram set keeps a broadcast hint (benchmarks
    are fixtures — provably bounded); the contaminated-id list does NOT
    (its size scales with contamination mass, which is data-dependent) —
    AQE broadcast-converts that join when runtime stats show it small,
    so at small contamination the corpus is still never repartitioned.
    Returns every train row with (doc_id, n_shared_ngrams,
    contaminated)."""
    bench_grams = (
        benchmark.select(F.explode(_word_ngrams(F.col("text"), n)).alias("gram"))
        .distinct()
    )
    train_grams = train.select(
        "doc_id", F.explode(_word_ngrams(F.col("text"), n)).alias("gram")
    )
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_ngrams", F.lit(0)).alias("n_shared_ngrams"),
            (F.coalesce("n_shared_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def q_pipeline_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, benchmark_docs(docs))


def _oracle_decontam() -> str:
    g = _sql_word_ngrams(DECONTAM_N)
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (SELECT doc_id, {g} AS grams FROM w),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM grams WHERE doc_id % 97 = 0),
train AS (SELECT doc_id, unnest(grams) AS gram FROM grams WHERE doc_id % 97 <> 0),
hits AS (SELECT t.doc_id, count(*) AS n_shared_ngrams
         FROM train t JOIN bench b USING (gram) GROUP BY t.doc_id)
SELECT d.doc_id,
       coalesce(h.n_shared_ngrams, 0) AS n_shared_ngrams,
       coalesce(h.n_shared_ngrams, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN hits h USING (doc_id)
"""


# --------------------------------------------------------------------------
# sequence packing
# --------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    shards: int = PACK_SHARDS,
) -> DataFrame:
    """Concat-and-chunk packing: documents are laid end-to-end per shard
    (ordered by doc_id) and the token stream is cut every ``budget``
    tokens; a document belongs to the sequence containing its first
    token. One running-sum window per shard — ``shards`` bounds the
    per-task sort, so raise it with corpus size (it only changes which
    docs co-pack, not the operator's correctness)."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    return (
        toks.withColumn("end", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.floor((F.col("end") - F.col("n_tokens")) / budget).alias("seq_id"),
            ((F.col("end") - F.col("n_tokens")) % budget).alias("seq_offset"),
        )
    )


def q_pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(read_table(spark, sf_dir, "documents"))


def _oracle_pack() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents),
s AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS e
  FROM t)
SELECT doc_id, shard, n_tokens,
       ((e - n_tokens) // {PACK_BUDGET})::BIGINT AS seq_id,
       ((e - n_tokens) % {PACK_BUDGET})::BIGINT AS seq_offset
FROM s
"""


# --------------------------------------------------------------------------
# quality quantile filter
# --------------------------------------------------------------------------

def q_pipeline_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-quantile filter: a document is kept when its
    quality score's cumulative distribution within its language reaches
    1 - QUANTILE_KEEP (i.e. the top half per language). cume_dist is
    computed as EXACT integer counts (c = docs with score ≤ mine, n =
    lang total): q = round-half-up(10⁴·c/n)/10⁴ and kept ⟺ 2c ≥ n —
    engine-independent at halfway values, where rounding the float
    cume_dist() diverged. The approx_percentile sketch is the one-pass
    alternative (tests/test_pipeline2.py)."""
    from pyspark.sql import Window as W

    from graphview_spark.operators.text import quality_milli_col

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", quality_milli_col(F.col("text")).alias("milli")
    )
    # the milli score has ≤ 1001 distinct values, so the EXACT cumulative
    # count comes from a tiny histogram: one map-side-combinable groupBy,
    # a window over ≤ 1001 rows per language, and a broadcast join back.
    # No corpus-wide sort — a cume_dist window over (lang) would sort
    # each whole language's documents on a handful of reducers at 100 TB.
    hist = scored.groupBy("lang", "milli").agg(F.count(F.lit(1)).alias("__c"))
    wc = (
        W.partitionBy("lang")
        .orderBy("milli")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.select(
        "lang",
        "milli",
        F.sum("__c").over(wc).alias("__cum"),
        F.sum("__c").over(W.partitionBy("lang")).alias("__n"),
    )
    c, n = F.col("__cum"), F.col("__n")
    return scored.join(F.broadcast(cum), ["lang", "milli"]).select(
        "doc_id",
        "lang",
        (F.col("milli") / F.lit(1000.0)).alias("quality_score"),
        (F.floor((20000 * c + n) / (2 * n)) / F.lit(10000.0)).alias("q"),
        (2 * c >= n).alias("kept"),
    )


def _oracle_quality_quantile() -> str:
    from graphview_spark.operators.text import SQL_QUALITY_MILLI

    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
m AS (SELECT doc_id, lang, {SQL_QUALITY_MILLI} AS milli FROM t),
r AS (SELECT doc_id, lang, milli,
             count(*) OVER (PARTITION BY lang ORDER BY milli
                            RANGE UNBOUNDED PRECEDING) AS c,
             count(*) OVER (PARTITION BY lang) AS n
      FROM m)
SELECT doc_id, lang, milli / 1000.0 AS quality_score,
       ((20000 * c + n) // (2 * n)) / 10000.0 AS q,
       2 * c >= n AS kept
FROM r
"""


# --------------------------------------------------------------------------
# domain mixing
# --------------------------------------------------------------------------

def q_pipeline_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-acceptance resampling to per-language target
    rates. Map-only (the acceptance test is per-row md5 math — no
    shuffle, no RNG); kept rows carry weight = 1/rate so weighted counts
    remain unbiased. Languages absent from MIX_RATES default to 1.0."""
    docs = read_table(spark, sf_dir, "documents")
    rate = None
    for lang, r in MIX_RATES.items():
        rate = (
            F.when(F.col("lang") == lang, F.lit(r))
            if rate is None
            else rate.when(F.col("lang") == lang, F.lit(r))
        )
    rate = rate.otherwise(F.lit(1.0))
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id"))), 1, 15), 16, 10)
        .cast("long") % MIX_BUCKETS
    )
    return (
        docs.select("doc_id", "lang", rate.alias("rate"), bucket.alias("b"))
        .filter(F.col("b") < F.col("rate") * MIX_BUCKETS)
        .select(
            "doc_id",
            "lang",
            F.round(1.0 / F.col("rate"), 3).alias("weight"),
        )
    )


def _oracle_mix() -> str:
    cases = " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIX_RATES.items())
    hex_to_int = (
        "list_reduce(list_transform(string_split("
        "substr(md5('mix|' || doc_id::VARCHAR), 1, 15), ''), "
        "c -> strpos('0123456789abcdef', c)::BIGINT - 1), (a, b) -> a * 16 + b)"
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         CASE lang {cases} ELSE 1.0 END AS rate,
         {hex_to_int} % {MIX_BUCKETS} AS b
  FROM documents)
SELECT doc_id, lang, round(1.0 / rate, 3) AS weight
FROM t WHERE b < rate * {MIX_BUCKETS}
"""


CHUNK_WORDS = 10   # words per dedup chunk


def q_pipeline_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring deduplication at chunk granularity (the
    boilerplate-removal pass real corpora run after document-level
    dedup): each document splits into consecutive CHUNK_WORDS-word
    chunks; a chunk survives only at its FIRST corpus occurrence
    (ordered by doc_id, then position), and documents reassemble from
    their surviving chunks.

    Plan shape: explode → first occurrence per hash via a min-struct
    AGGREGATION (map-side combinable — a window rank would sort every
    hash's rows on one reducer, a skew hazard when one boilerplate chunk
    appears millions of times; the min-struct partial collapses that hot
    key before the shuffle) → join the winners back on the hash → one
    shuffle on doc_id to reassemble in position order. Returns
    (doc_id, n_chunks, n_kept, clean_text)."""
    from graphview_spark.operators import eval_once
    from graphview_spark.operators.dedup import read_spread

    # spread: the chunking transform is the per-row-heavy pass (no-op
    # at scale); eval_once binds the split so the document tokenizes
    # once per row, not once per chunk slice
    docs = read_spread(spark, sf_dir, "documents", "doc_id")

    def _chunks(words: Column) -> Column:
        n_chunks = F.ceil(F.size(words) / CHUNK_WORDS).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(words, i * CHUNK_WORDS + 1, CHUNK_WORDS)
            ),
        )

    chunks = eval_once(F.split(F.col("text"), " "), _chunks)
    exploded = docs.select(
        "doc_id", F.posexplode(chunks).alias("idx", "chunk")
    ).withColumn("h", F.md5("chunk"))
    winners = exploded.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("__w")
    )
    kept = exploded.join(winners, "h").withColumn(
        "keep",
        (F.col("doc_id") == F.col("__w.doc_id"))
        & (F.col("idx") == F.col("__w.idx")),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("idx"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
        )
    )


ORACLE_CHUNK_DEDUP = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (SELECT doc_id,
             unnest(list_transform(
               generate_series(0, cast(ceil(len(w) / {CHUNK_WORDS}.0) AS INT) - 1),
               i -> struct_pack(idx := i,
                 chunk := array_to_string(
                   w[i * {CHUNK_WORDS} + 1 : i * {CHUNK_WORDS} + {CHUNK_WORDS}],
                   ' ')))) AS u
      FROM w),
e AS (SELECT doc_id, u.idx AS idx, u.chunk AS chunk, md5(u.chunk) AS h FROM c),
r AS (SELECT doc_id, idx, chunk,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
      FROM e)
SELECT doc_id, count(*) AS n_chunks,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                           ORDER BY idx), '') AS clean_text
FROM r GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# temperature-based domain mixing — the UL2/Gopher-style resampler:
# source s with share c_s gets sampling weight c_s^alpha (alpha<1
# flattens the distribution toward small domains), normalized to a
# global row budget. Two tiny aggregates (per-source counts, one
# weight-sum) broadcast back onto a map-only hash-acceptance pass —
# the corpus itself never shuffles.
# --------------------------------------------------------------------------

TEMP_ALPHA = 0.5
TEMP_BUDGET = 300          # target accepted rows at sf0.01 scale


def temperature_mix(
    docs: DataFrame,
    group_col: str = "source",
    key_col: str = "doc_id",
    alpha: float = TEMP_ALPHA,
    budget: int = TEMP_BUDGET,
) -> DataFrame:
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("c"))
    w = counts.withColumn("w", F.pow(F.col("c"), F.lit(float(alpha))))
    tw = w.agg(F.sum("w").alias("tw"))
    # p_keep rounds to 6dp on BOTH engines so the acceptance boundary is
    # identical regardless of float-sum ordering
    probs = w.crossJoin(F.broadcast(tw)).select(
        group_col,
        F.round(
            F.least(
                F.lit(1.0),
                (F.lit(float(budget)) * F.col("w") / F.col("tw")) / F.col("c"),
            ),
            6,
        ).alias("p_keep"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("tmix|"), F.col(key_col).cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long")
        % MIX_BUCKETS
    )
    return (
        docs.join(F.broadcast(probs), group_col)
        .withColumn("_b", bucket)
        .filter(F.col("_b") < F.col("p_keep") * MIX_BUCKETS)
        .select(key_col, group_col)
    )


def q_pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_mix(read_table(spark, sf_dir, "documents"))


def _oracle_temperature_mix() -> str:
    from graphview_spark.operators.dedup import _sql_hex15_to_int

    salted = "'tmix|' || doc_id::VARCHAR"
    bucket = f"({_sql_hex15_to_int(salted)} % {MIX_BUCKETS})"
    return f"""
WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
w AS (SELECT source, c, pow(c, {TEMP_ALPHA}) AS w FROM c),
t AS (SELECT sum(w) AS tw FROM w),
p AS (SELECT source, round(least(1.0, ({TEMP_BUDGET}.0 * w / tw) / c), 6) AS p_keep
      FROM w, t),
b AS (SELECT doc_id, source, {bucket} AS b FROM documents)
SELECT b.doc_id AS doc_id, b.source AS source
FROM b JOIN p USING (source)
WHERE b.b < p.p_keep * {MIX_BUCKETS}
"""


def q_pipeline_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: per (source, lang) slice — document count,
    character/token volume, and mean quality — the summary table a
    dataset release ships. One map pass + one groupBy; the quality mean
    is computed in exact integer arithmetic (sum of integer milli-scores
    + round-half-up division) so the oracle agrees bit-for-bit."""
    from graphview_spark.operators.text import TOKEN_PATTERN, quality_milli_col

    docs = read_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)")
        ).cast("long").alias("n_tokens"),
        quality_milli_col(F.col("text")).cast("long").alias("q_milli"),
    )
    agg = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("q_milli").alias("_qsum"),
    )
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.floor(
            (2 * F.col("_qsum") + F.col("n_docs")) / (2 * F.col("n_docs"))
        ).alias("mean_quality_milli"),
    )


def _oracle_data_card() -> str:
    from graphview_spark.operators.text import SQL_QUALITY_MILLI

    return f"""
WITH split AS (
  SELECT source, lang, n_chars, text, string_split(text, ' ') AS w
  FROM documents
),
per_doc AS (
  SELECT source, lang, n_chars,
         len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens,
         ({SQL_QUALITY_MILLI})::BIGINT AS q_milli
  FROM split
)
SELECT source, lang, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       sum(n_tokens)::BIGINT AS total_tokens,
       ((2 * sum(q_milli)::BIGINT + count(*)) // (2 * count(*)))::BIGINT
         AS mean_quality_milli
FROM per_doc
GROUP BY source, lang
"""


def q_pipeline_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document (the CCNet/RedPajama-style
    quality signal: low perplexity under a corpus LM ≈ fluent text,
    extreme values ≈ boilerplate or garbage). Add-one smoothing:
    p(w) = (c(w)+1)/(N+V) with corpus token count N and vocab size V.

    Determinism: each token's negative log-prob is snapped to INTEGER
    micro-nats (round(-ln p × 1e6) as BIGINT), so the per-document sum
    is exact integer arithmetic — order-independent under any partition
    scheme, same discipline as the integer-exact ratios in text.py.

    Scale: token counts are one map-side-combinable groupBy; (N, V) is
    a 1-row broadcast (provably bounded, so the hint is kept); the
    count table joins back onto the exploded tokens WITHOUT a broadcast
    hint — its size is the corpus vocabulary, which grows with the
    corpus (billions of distinct tokens at 100 TB), and ``F.broadcast``
    is a hint AQE cannot override, so forcing it would OOM executors at
    scale. Catalyst/AQE still picks a broadcast join at small SF from
    runtime stats; at scale it degrades to a shuffle join on token, and
    hot stopword keys are exactly what AQE skew-join splits. The final
    per-doc aggregate shuffles once on doc_id."""
    from graphview_spark.plans import lazy as _lazy

    # NOT spread: the unigram tokenize is one plain split per row (no
    # quadratic HOF), so a repartition would cost a text shuffle for
    # nothing — measured 0.61s → 1.03s for the count pass at sf0.1
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    # pinned: the token count table feeds BOTH the (N, V) aggregate and
    # the scored join — unpinned, the explode+groupBy over the corpus
    # re-ran once per reference
    counts = _lazy.pin(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("c")))
    tot = counts.agg(
        F.sum("c").alias("N"), F.count(F.lit(1)).alias("V")
    )
    nll = F.round(
        -F.log((F.col("c") + 1) / (F.col("N") + F.col("V"))) * 1e6, 0
    ).cast("long")
    # score the count table (one log/round per DISTINCT token — the
    # same value each occurrence would compute), then one join onto
    # the token stream carrying only the 8-byte nll
    scored_counts = counts.join(F.broadcast(tot)).select(
        "token", nll.alias("nll"))
    scored = tok.join(scored_counts, "token").select("doc_id", "nll")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.exp(F.sum("nll") / (F.count(F.lit(1)) * F.lit(1e6))), 4
        ).alias("perplexity"),
    )


ORACLE_PIPELINE_PERPLEXITY = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
c AS (SELECT token, count(*) AS c FROM t GROUP BY token),
tot AS (SELECT sum(c) AS N, count(*) AS V FROM c),
s AS (SELECT doc_id,
             round(-ln((c.c + 1) / (tot.N + tot.V)) * 1e6)::BIGINT AS nll
      FROM t JOIN c USING (token) CROSS JOIN tot)
SELECT doc_id, count(*) AS n_tokens,
       round(exp(sum(nll) / (count(*) * 1000000.0)), 4) AS perplexity
FROM s GROUP BY doc_id
"""


def q_pipeline_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity per document — one order up from
    q_pipeline_perplexity (CCNet's KenLM scoring is an n-gram LM; the
    bigram captures local fluency the unigram cannot: scrambled text
    scores near-unigram, fluent text much lower). Add-one smoothing on
    the conditional: p(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) /
    (c_ctx(w_{i-1}) + V), where c_ctx counts the token as a bigram
    CONTEXT (positions 1..n-1) and V is the full unigram vocab.

    Bigrams come straight off the split array with one map-only
    transform (no lag window, so no extra doc-keyed shuffle); counts
    are map-side-combinable groupBys joined back onto the bigram
    stream without BROADCAST hints — the bigram count table scales
    super-linearly with corpus vocabulary (the worst of the LM count
    tables at 100 TB), so no hint may assert it broadcastable. The
    1-row V aggregate keeps a broadcast hint, and the scored join
    carries a SHUFFLE_HASH build-side hint — scale-safe because it
    only picks which side builds the hash table (the count table, the
    provably smaller frame at every scale) and never asserts
    broadcastability; see the in-line comment at the join for the
    sf10 planner failure it fixes. The same integer micro-nat snap as
    the unigram makes the per-doc sum order-independent. Docs with
    < 2 tokens have no transitions and are excluded (mirrored by the
    oracle)."""
    from graphview_spark.operators.dedup import read_spread

    # spread: the per-row pass below is the expensive part; a
    # single-file gate-scale scan would run it on one core (read_spread
    # is a no-op once the scan has ≥ cores splits). The bigram array is
    # built with NO higher-order function: any lambda (transform /
    # eval_once) in the generator expression forces GenerateExec out of
    # whole-stage codegen into interpreted per-row eval — measured at
    # sf10 (noop, min-of-2, this host): staged-column + transform
    # 79.2s, eval_once + transform 9.6s, arrays_zip(slice, slice) 2.8s
    # — the unigram explode floor is 2.1s. arrays_zip/slice/size are
    # plain codegen expressions (codegen CSE shares the split), so the
    # tokenize stays fused and linear. Row identity vs the transform
    # shape verified exceptAll both ways = 0 at sf1 and sf10.
    # Docs with < 2 tokens yield empty zip arrays and explode drops
    # them — identical to the previous size>=2 pre-filter.
    docs = read_spread(spark, sf_dir, "documents", "doc_id")
    w = F.split("text", " ")
    bg_arr = F.arrays_zip(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
    )
    bigs = (
        docs.select("doc_id", F.explode(bg_arr).alias("bg"))
        .select("doc_id", F.col("bg.0").alias("prev"),
                F.col("bg.1").alias("cur"))
    )
    from graphview_spark.plans import lazy as _lazy

    # NOT pinned: the stream has only TWO consumers since cc moved onto
    # the count table (r12), and the bigram stream is BIGGER in bytes
    # than the source text (explode ≈ 2× text + struct overhead,
    # uncompressed in checkpoint storage), so materializing it costs
    # more than the linear eval_once tokenize it saves — measured at
    # sf1: pin write 9.7s + two pinned reads vs 3.4s per recompute
    # (stage probe, OPTIMIZATION_r12.md); at 100 TB the checkpoint
    # write/read of ~3× the corpus loses to two compressed-parquet
    # scans by the same argument.
    # pinned: the bigram count table feeds BOTH the scored join and the
    # context-count derivation below — unpinned, Spark re-plans (and
    # re-runs) the full groupBy over the stream once per reference
    cb = _lazy.pin(
        bigs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cb")))
    # context count = Σ_cur cb(prev, cur): derived from the bigram COUNT
    # table instead of a second full aggregation pass over the pinned
    # stream — the count table is the smaller frame at every scale
    cc = cb.groupBy("prev").agg(F.sum("cb").alias("cc"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .agg(F.count_distinct("token").alias("V"))
    )
    nll = F.round(
        -F.log((F.col("cb") + 1) / (F.col("cc") + F.col("V"))) * 1e6, 0
    ).cast("long")
    # score the COUNT table (one nll per DISTINCT bigram — identical
    # value to scoring each occurrence, it is a pure function of
    # (cb, cc, V)), then attach to the stream with a single join: the
    # corpus-sized bigram stream used to shuffle TWICE (join on
    # (prev, cur), re-shuffle the joined stream on prev); now the
    # second join runs count-table vs count-table
    scored_counts = (
        cb.join(cc, "prev")
        .join(F.broadcast(vocab))
        .select("prev", "cur", nll.alias("nll"))
    )
    # Build-side choice for the scored join, r12+r13:
    # - The static planner picks the build side from SIZE ESTIMATES,
    #   and the stream's estimate is the COMPRESSED parquet size (the
    #   31-word corpus compresses ~50x), so at sf10 it chose to
    #   BROADCAST THE BIGRAM STREAM — the driver collected 27.5M rows
    #   into a hash relation (230s, a 239s heartbeat-timeout GC
    #   freeze). r12 fixed the build side with a SHUFFLE_HASH hint on
    #   the count table (provably the smaller frame at every scale):
    #   measured sf10 254.1s -> 26.9s.
    # - r13 (VERDICT r12 "Next #2"): even with the right build side,
    #   the SHJ still shuffles the FULL bigram stream — the residual
    #   13.8× cost at 10× data. The count table is bounded by vocab²,
    #   and cb is already pinned (an EAGER localCheckpoint), so its
    #   TRUE row count is one cheap job over materialized partitions —
    #   the same measured-size gate as algorithms._DRIVER_EDGES,
    #   not an estimate and not a blanket hint. Below the gate the
    #   scored count table is broadcast (the corpus-sized stream never
    #   shuffles for the join, and the following doc_id aggregation is
    #   map-side combined); above it — vocab² outgrowing memory at
    #   100 TB — the r12 shuffle_hash shape stands. Under lazy_plans()
    #   no job may run, so the audit takes the worst-case (shuffle)
    #   branch — PLANS.md budgets stay the unmaterialized worst case.
    if not _lazy.is_lazy() and cb.count() <= BIGRAM_BCAST_ROWS:
        scored_counts = F.broadcast(scored_counts)
    else:
        scored_counts = scored_counts.hint("shuffle_hash")
    scored = (
        bigs.join(scored_counts, ["prev", "cur"])
        .select("doc_id", "nll")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.exp(F.sum("nll") / (F.count(F.lit(1)) * F.lit(1e6))), 4
        ).alias("perplexity"),
    )


ORACLE_PIPELINE_PERPLEXITY_BIGRAM = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
big AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 1),
                      i -> [w[i], w[i + 1]])) AS bg
        FROM w WHERE len(w) >= 2),
b AS (SELECT doc_id, bg[1] AS prev, bg[2] AS cur FROM big),
cb AS (SELECT prev, cur, count(*) AS cb FROM b GROUP BY prev, cur),
cc AS (SELECT prev, count(*) AS cc FROM b GROUP BY prev),
v AS (SELECT count(DISTINCT token) AS V
      FROM (SELECT unnest(w) AS token FROM w)),
s AS (SELECT b.doc_id,
             round(-ln((cb.cb + 1) / (cc.cc + v.V)) * 1e6)::BIGINT AS nll
      FROM b JOIN cb USING (prev, cur) JOIN cc USING (prev) CROSS JOIN v)
SELECT doc_id, count(*) AS n_bigrams,
       round(exp(sum(nll) / (count(*) * 1000000.0)), 4) AS perplexity
FROM s GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Distribution-drift monitor (PSI — population stability index, the
# standard "did this week's corpus shift?" alarm a continuously-fed
# training pipeline runs between snapshots before retraining). The two
# snapshots here are the even/odd doc_id halves (the repo's standard
# day-0/day-1 fixture split); the monitored statistic is the per-lang
# document-length distribution over fixed integer buckets
# (min(n_chars div 256, 15) — pure integer math, no log-scale bucket
# edges whose floor(log2) could flip cross-engine at exact powers).
#
# PSI = Σ (p_i − q_i)·ln(p_i/q_i) over buckets present in BOTH
# snapshots; buckets that appear or vanish are reported as separate
# integer milli-mass columns instead of being epsilon-smoothed into
# the sum — no ε constant to disagree about, and "3% of day-1 mass
# sits in buckets day-0 never had" is the actionable alarm anyway.
# Determinism: every count/total is exact integer; each PSI term is
# snapped to integer MICRO units after one ln of a ratio of
# exactly-representable integer products (the perplexity exposure
# class), so the per-lang sum is exact integer arithmetic.
#
# Scale: one map-only bucket projection + one map-side-combinable
# (lang, bucket, half) count — the corpus is touched once, everything
# after is ≤ langs × 16 rows.
# --------------------------------------------------------------------------

DRIFT_BUCKET_W = 256    # n_chars per bucket
DRIFT_BUCKETS = 16      # buckets 0..15, top bucket open-ended


def drift_bucket(n_chars: Column) -> Column:
    """The monitored statistic's integer bucket id (exact because the
    width is a power of two, so the double division is a pure exponent
    shift). NULL for a NULL length: ``least`` skips NULLs, so the clamp
    alone would put a length-less document in the top bucket."""
    b = F.floor(n_chars.cast("long") / F.lit(DRIFT_BUCKET_W))
    return F.when(b.isNotNull(), F.least(F.lit(DRIFT_BUCKETS - 1), b)).cast("int")


def q_pipeline_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language drift report between the even (baseline) and odd
    (candidate) corpus halves: (lang, n_common, psi_micro,
    new_mass_milli, gone_mass_milli)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "lang",
        (F.col("doc_id") % 2).cast("int").alias("half"),
        drift_bucket(F.col("n_chars")).alias("bucket"),
    ).filter(F.col("bucket").isNotNull())
    cnt = (
        docs.groupBy("lang", "bucket")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
        )
    )
    return drift_report(cnt)


def drift_report(cnt: DataFrame) -> DataFrame:
    """PSI report from a joined (lang, bucket, ca, cb) count table —
    also what the streaming drift rollup feeds from its two bounded
    bucket-count stores."""
    tot = cnt.groupBy("lang").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    j = cnt.join(tot, "lang").filter((F.col("ta") > 0) & (F.col("tb") > 0))
    p_a = F.col("ca").cast("double") / F.col("ta").cast("double")
    p_b = F.col("cb").cast("double") / F.col("tb").cast("double")
    ratio = (F.col("ca") * F.col("tb")).cast("double") / (
        F.col("cb") * F.col("ta")).cast("double")
    term = F.round((p_a - p_b) * F.log(ratio) * F.lit(1000000.0), 0).cast(
        "long")
    return (
        j.groupBy("lang")
        .agg(
            F.sum(
                F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1).otherwise(0)
            ).alias("n_common"),
            F.sum(
                F.when((F.col("ca") > 0) & (F.col("cb") > 0), term)
                .otherwise(F.lit(0))
            ).alias("psi_micro"),
            F.sum(F.when(F.col("ca") == 0, F.col("cb")).otherwise(0))
            .alias("_new"),
            F.sum(F.when(F.col("cb") == 0, F.col("ca")).otherwise(0))
            .alias("_gone"),
            F.max("ta").alias("_ta"),
            F.max("tb").alias("_tb"),
        )
        .select(
            "lang",
            "n_common",
            "psi_micro",
            F.expr("CAST(_new * 1000 AS BIGINT) div _tb")
            .alias("new_mass_milli"),
            F.expr("CAST(_gone * 1000 AS BIGINT) div _ta")
            .alias("gone_mass_milli"),
        )
    )


def _oracle_drift() -> str:
    w, nb = DRIFT_BUCKET_W, DRIFT_BUCKETS
    return f"""
WITH d AS (
  SELECT lang, (doc_id % 2)::INT AS half,
         least({nb - 1}, n_chars // {w})::INT AS bucket
  FROM documents
  WHERE n_chars IS NOT NULL
),
cnt AS (
  SELECT lang, bucket,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
  FROM d GROUP BY lang, bucket
),
tot AS (SELECT lang, sum(ca) AS ta, sum(cb) AS tb FROM cnt GROUP BY lang),
j AS (
  SELECT c.lang, c.ca, c.cb, t.ta, t.tb,
         CASE WHEN c.ca > 0 AND c.cb > 0 THEN
           round((c.ca::DOUBLE / t.ta::DOUBLE - c.cb::DOUBLE / t.tb::DOUBLE)
                 * ln((c.ca * t.tb)::DOUBLE / (c.cb * t.ta)::DOUBLE)
                 * 1000000.0)::BIGINT
         ELSE 0 END AS term
  FROM cnt c JOIN tot t USING (lang)
  WHERE t.ta > 0 AND t.tb > 0
)
SELECT lang,
       sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_common,
       sum(CASE WHEN ca > 0 AND cb > 0 THEN term ELSE 0 END)::BIGINT
         AS psi_micro,
       (sum(CASE WHEN ca = 0 THEN cb ELSE 0 END) * 1000 // max(tb))::BIGINT
         AS new_mass_milli,
       (sum(CASE WHEN cb = 0 THEN ca ELSE 0 END) * 1000 // max(ta))::BIGINT
         AS gone_mass_milli
FROM j GROUP BY lang
"""


QUERIES = {
    "pipeline_decontam": q_pipeline_decontam,
    "pipeline_pack": q_pipeline_pack,
    "pipeline_quality_quantile": q_pipeline_quality_quantile,
    "pipeline_mix": q_pipeline_mix,
    "pipeline_chunk_dedup": q_pipeline_chunk_dedup,
    "pipeline_data_card": q_pipeline_data_card,
}

ORACLES = {
    "pipeline_decontam": _oracle_decontam(),
    "pipeline_pack": _oracle_pack(),
    "pipeline_quality_quantile": _oracle_quality_quantile(),
    "pipeline_mix": _oracle_mix(),
    "pipeline_chunk_dedup": ORACLE_CHUNK_DEDUP,
    "pipeline_data_card": _oracle_data_card(),
}

# outside the 50-entry driver gate — oracle-checked via extra_queries()
EXTRA_QUERIES = {
    "pipeline_perplexity_bigram": q_pipeline_perplexity_bigram,
    "pipeline_temperature_mix": q_pipeline_temperature_mix,
    "pipeline_perplexity": q_pipeline_perplexity,
    "pipeline_drift": q_pipeline_drift,
}
EXTRA_ORACLES = {
    "pipeline_perplexity_bigram": ORACLE_PIPELINE_PERPLEXITY_BIGRAM,
    "pipeline_temperature_mix": _oracle_temperature_mix(),
    "pipeline_perplexity": ORACLE_PIPELINE_PERPLEXITY,
    "pipeline_drift": _oracle_drift(),
}
