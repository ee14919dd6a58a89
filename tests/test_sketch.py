"""HyperLogLog sketch operators — determinism, mergeability, accuracy.

The estimate itself is deterministic (md5 hash, integer registers,
dyadic-rational sums), so accuracy assertions are exact reruns of a
fixed dataset, not statistical flakes.
"""

from __future__ import annotations

from functools import reduce

import pytest
from pyspark.sql import DataFrame, functions as F

from graphview_spark.operators.sketch import (
    HLL_M,
    hll_estimate,
    hll_registers,
)


def _ints(spark, n, label="a"):
    return spark.range(n).select(
        F.lit(label).alias("g"), F.col("id").cast("string").alias("w"))


def test_register_table_is_bounded(spark):
    """10k distinct values collapse to ≤ HLL_M register rows — the
    bounded-output property that replaces the vocabulary-sized shuffle
    at scale."""
    regs = hll_registers(_ints(spark, 10_000), ["g"], "w")
    n = regs.count()
    assert n <= HLL_M
    assert n >= HLL_M * 0.9  # 10k values fill nearly every bucket


def test_estimate_accuracy_deterministic(spark):
    """Relative error on 10k distinct values within the ~6.5% standard
    error band for m=256 (3σ bound: 20%). Deterministic: same data,
    same hash, same estimate every run."""
    est = hll_estimate(
        hll_registers(_ints(spark, 10_000), ["g"], "w"), ["g"]
    ).first()
    assert abs(est["est_distinct"] - 10_000) / 10_000 < 0.20
    again = hll_estimate(
        hll_registers(_ints(spark, 10_000), ["g"], "w"), ["g"]
    ).first()
    assert again["est_distinct"] == est["est_distinct"]


def test_small_range_correction_path(spark):
    """A handful of distinct values takes the m·ln(m/V) branch and
    lands exactly (linear counting is near-exact when V ≈ m)."""
    est = hll_estimate(
        hll_registers(_ints(spark, 5), ["g"], "w"), ["g"]
    ).first()
    assert est["n_registers"] <= 5
    assert est["est_distinct"] == 5


def test_grouped_estimates_independent(spark):
    """Groups sketch independently: a 100-value group next to a
    10k-value group keeps its small-range-corrected count."""
    df = _ints(spark, 10_000, "big").unionByName(_ints(spark, 100, "small"))
    rows = {
        r["g"]: r["est_distinct"]
        for r in hll_estimate(hll_registers(df, ["g"], "w"), ["g"]).collect()
    }
    assert abs(rows["big"] - 10_000) / 10_000 < 0.20
    assert abs(rows["small"] - 100) / 100 < 0.20


def test_cms_never_undercounts_and_bounds_error(spark):
    """CMS guarantees: est >= exact always; overcount <= (e/width)*N in
    expectation (assert a loose deterministic 4x slack on this fixed
    dataset — the hash is md5, so the values never change run to run)."""
    import math

    from graphview_spark.operators.sketch import (
        CMS_WIDTH,
        cms_cells,
        cms_estimate,
    )

    n, vocab = 40_000, 500
    df = spark.range(n).select(
        F.lit("g").alias("g"),
        F.concat(F.lit("w"), (F.col("id") % vocab)).cast("string").alias("w"),
    )
    exact = {r["w"]: r["c"] for r in
             df.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()}
    probes = ["w0", "w1", "w250", "w499", "nope"]
    cells = cms_cells(df, ["g"], "w")
    est = {r["token"]: r["est"] for r in
           cms_estimate(cells, ["g"], probes).collect()}
    bound = 4 * math.e / CMS_WIDTH * n
    for t in probes:
        truth = exact.get(t, 0)
        assert est[t] >= truth, (t, est[t], truth)
        assert est[t] - truth <= bound, (t, est[t], truth, bound)


def test_cms_cell_table_bounded(spark):
    from graphview_spark.operators.sketch import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_cells,
    )

    df = spark.range(30_000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("w"))
    assert cms_cells(df, ["g"], "w").count() <= CMS_DEPTH * CMS_WIDTH


# --------------------------------------------------------------------------
# Bloom filter
# --------------------------------------------------------------------------

def _vals(spark, lo, hi, prefix="v"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id")).cast("string").alias("w"))


def test_bloom_no_false_negatives(spark):
    """The one-sided-error contract that makes Bloom scrubbing sound:
    every inserted value probes present. Structural (all k bits were
    set at insert), asserted end-to-end over 2k values."""
    from graphview_spark.operators.sketch import bloom_probe, bloom_words

    inserted = _vals(spark, 0, 2_000)
    words = bloom_words(inserted, [], "w")
    n_present = (
        bloom_probe(inserted.select(F.col("w").alias("v"), "w"), ["v"], "w", words)
        .filter(F.col("present")).count()
    )
    assert n_present == 2_000


def test_bloom_false_positive_rate_bounded_and_deterministic(spark):
    """Absent values probe present only on k-fold hash collisions:
    with 2k inserted values in a 2^18-bit filter the expected FPR is
    ~(kn/m)^k ≈ 1e-6 — assert < 1% observed on 5k absent probes, and
    that the flagged set is identical across reruns (md5, no rand)."""
    from graphview_spark.operators.sketch import bloom_probe, bloom_words

    words = bloom_words(_vals(spark, 0, 2_000), [], "w")
    absent = _vals(spark, 10_000, 15_000).select(F.col("w").alias("v"), F.col("w"))

    def flagged():
        return sorted(
            r["v"] for r in
            bloom_probe(absent, ["v"], "w", words)
            .filter(F.col("present")).collect()
        )

    first = flagged()
    assert len(first) < 50
    assert flagged() == first


def test_bloom_word_table_bounded(spark):
    """Bitmap words are the sketch's whole state: ≤ BLOOM_BITS/32 rows
    no matter how many values are inserted — the broadcast-anywhere
    property."""
    from graphview_spark.operators.sketch import BLOOM_BITS, bloom_words

    words = bloom_words(_vals(spark, 0, 50_000), [], "w")
    assert words.count() <= BLOOM_BITS // 32


def test_bloom_auto_m_sizes_from_hll_estimate(spark):
    """Round-11 (VERDICT r10 "What's wrong #2"): the bitmap must size
    itself from the data instead of silently saturating. ~300k distinct
    values need 2^22 bits for the 1% target under the FPR model — the
    auto-sizer must find that via the HLL estimate; a small set keeps
    the 2^20 default (never shrinks below it)."""
    from graphview_spark.operators.sketch import (
        BLOOM_BITS,
        bloom_auto_m,
        bloom_predicted_fpr,
    )

    assert bloom_auto_m(_vals(spark, 0, 1_000), "w") == BLOOM_BITS
    m = bloom_auto_m(_vals(spark, 0, 300_000), "w")
    assert m == 1 << 22
    assert bloom_predicted_fpr(300_000, m) <= 0.01
    # model sanity at the documented scales: the sf10 footgun (500k
    # grams in the 2^20 default) reads as saturated, the sized filter
    # does not
    assert bloom_predicted_fpr(500_000, BLOOM_BITS) > 0.10
    assert bloom_predicted_fpr(500_000, 1 << 23) <= 0.01


def test_bloom_auto_m_saturation_warns_and_lazy_is_jobless(spark):
    """Even the capped bitmap must FAIL LOUDLY, not silently: with the
    cap forced down to the default, 300k values trigger the saturation
    warning (and return the cap). Under lazy plan inspection no job may
    run, so the default comes back unchanged."""
    import warnings

    import graphview_spark.operators.sketch as S
    from graphview_spark.plans.lazy import lazy_plans

    vals = _vals(spark, 0, 300_000)
    orig = S.BLOOM_MAX_BITS
    S.BLOOM_MAX_BITS = S.BLOOM_BITS
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            m = S.bloom_auto_m(vals, "w")
        assert m == S.BLOOM_BITS
        assert any("saturate" in str(w.message) for w in caught)
    finally:
        S.BLOOM_MAX_BITS = orig
    with lazy_plans():
        assert S.bloom_auto_m(vals, "w") == S.BLOOM_BITS


def test_bloom_m_bits_param_build_probe_contract(spark):
    """A non-default m_bits must keep the one-sided-error contract end
    to end (build and probe agree on the geometry): every inserted
    value still probes present, and the bigger bitmap's false-positive
    set on absent probes is no larger than the default's."""
    from graphview_spark.operators.sketch import bloom_probe, bloom_words

    inserted = _vals(spark, 0, 2_000)
    absent = _vals(spark, 10_000, 15_000).select(
        F.col("w").alias("v"), F.col("w"))
    m = 1 << 22
    words = bloom_words(inserted, [], "w", m_bits=m)
    probed = bloom_probe(
        inserted.select(F.col("w").alias("v"), "w"), ["v"], "w", words,
        m_bits=m)
    assert probed.filter(F.col("present")).count() == 2_000
    fp_big = (
        bloom_probe(absent, ["v"], "w", words, m_bits=m)
        .filter(F.col("present")).count()
    )
    words_dflt = bloom_words(inserted, [], "w")
    fp_dflt = (
        bloom_probe(absent, ["v"], "w", words_dflt)
        .filter(F.col("present")).count()
    )
    assert fp_big <= fp_dflt


def test_bloom_scrub_supersets_exact_decontam(spark):
    """Operator-to-operator: the Bloom scrub flags every document the
    exact join decontam flags (no false negatives), and its per-doc
    count is ≥ the exact shared-gram count (false positives only add).
    Run on the sf0.001 fixture corpus."""
    from graphview_spark.operators.pipeline import q_pipeline_decontam
    from graphview_spark.operators.sketch import q_sketch_bloom_decontam

    sf = "/root/testdata/sf0.001"
    exact = {r["doc_id"]: r["n_shared_ngrams"]
             for r in q_pipeline_decontam(spark, sf).collect()}
    bloom = {r["doc_id"]: r["n_flagged"]
             for r in q_sketch_bloom_decontam(spark, sf).collect()}
    assert set(bloom) == set(exact)
    for doc, n_exact in exact.items():
        assert bloom[doc] >= n_exact, (doc, bloom[doc], n_exact)


def test_bloom_probe_plan_is_broadcast_only(spark):
    """The probe side must never shuffle the corpus: all Bloom lookups
    are broadcast hash joins (the word table is bounded by
    construction), no sort-merge join, no cartesian product."""
    from graphview_spark.operators.sketch import q_sketch_bloom_decontam

    df = q_sketch_bloom_decontam(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


# --------------------------------------------------------------------------
# HDR quantile histogram
# --------------------------------------------------------------------------

def test_hdr_bucket_table_bounded(spark):
    """State is capped by the bucket-id space (~64 magnitudes × 64
    subbuckets), not the data: 100k distinct values, ≤ 4096 buckets."""
    from graphview_spark.operators.sketch import hdr_buckets

    df = spark.range(100_000).select(
        F.lit("g").alias("g"), (F.col("id") * 7 + 1).cast("double").alias("v"))
    assert hdr_buckets(df, ["g"], "v").count() <= 4096


def test_hdr_quantile_relative_error_bound(spark):
    """The estimate is the containing bucket's lower bound: it never
    exceeds the true percentile and sits within the 2^-HDR_SUB_BITS
    relative-error guarantee below it."""
    from graphview_spark.operators.sketch import (
        HDR_SUB_BITS,
        hdr_buckets,
        hdr_quantiles,
    )

    n = 10_000
    df = spark.range(1, n + 1).select(
        F.lit("g").alias("g"), (F.col("id") / 100.0).alias("v"))
    est = hdr_quantiles(hdr_buckets(df, ["g"], "v"), ["g"]).first()
    for p in (50, 90, 99):
        rank = -(-n * p // 100)          # ceil
        exact_micro = rank * 10_000      # value rank/100 in micro units
        got = est[f"p{p}_micro"]
        assert got <= exact_micro, (p, got, exact_micro)
        assert exact_micro - got <= exact_micro * 2 ** -HDR_SUB_BITS + 1, (
            p, got, exact_micro)


# --------------------------------------------------------------------------
# KMV / theta sketch
# --------------------------------------------------------------------------

def test_kmv_state_bounded_and_plan_partial_topk(spark):
    """Sketch state is ≤ KMV_K rows per group no matter the input, and
    the k-smallest selection must push a partial limit below the
    shuffle (WindowGroupLimit) so the exchange never carries the
    corpus."""
    from graphview_spark.operators.sketch import KMV_K, kmv_sketch

    df = spark.range(100_000).select(
        (F.col("id") % 2).cast("int").alias("g"),
        F.col("id").cast("string").alias("w"))
    sk = kmv_sketch(df, ["g"], "w")
    assert sk.groupBy("g").count().agg(F.max("count")).first()[0] <= KMV_K
    plan = sk._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "WindowGroupLimit" in plan


def test_kmv_estimate_accuracy_and_exact_small(spark):
    """Full sketch: estimate within ~4 standard errors (4/√(k−2)) of
    the true distinct count. Under-full sketch: EXACT."""
    from graphview_spark.operators.sketch import KMV_K, kmv_estimate, kmv_sketch

    n = 30_000
    big = _vals(spark, 0, n)
    est = kmv_estimate(kmv_sketch(big, [], "w"), []).first()
    assert est["n_kept"] == KMV_K
    tol = 4.0 / (KMV_K - 2) ** 0.5
    assert abs(est["est_distinct"] - n) <= n * tol, est["est_distinct"]
    small = _vals(spark, 0, 100)
    est2 = kmv_estimate(kmv_sketch(small, [], "w"), []).first()
    assert est2["est_distinct"] == 100 and est2["n_kept"] == 100


def test_kmv_intersect_tracks_true_overlap(spark, sf_dir):
    """The intersect gate query's Jaccard estimate must track the TRUE
    token-set Jaccard of the two corpus halves within the sketch's
    error band — the cross-corpus overlap answer the sketch exists to
    give without an exact join."""
    from graphview_spark.operators.sketch import (
        KMV_K,
        _tokens,
        q_sketch_kmv_intersect,
    )

    got = q_sketch_kmv_intersect(spark, sf_dir).first()
    tok = _tokens(spark, sf_dir).withColumn(
        "half", (F.col("doc_id") % 2).cast("int"))
    a = tok.filter("half = 0").select("w").distinct()
    b = tok.filter("half = 1").select("w").distinct()
    inter = a.intersect(b).count()
    union = a.unionByName(b).distinct().count()
    true_j = inter / union
    tol = 4.0 / (KMV_K - 2) ** 0.5  # ±4σ of the k-sample match fraction
    assert abs(got["jaccard_milli"] / 1000 - true_j) <= tol + 1e-3, (
        got["jaccard_milli"], true_j)
    assert abs(got["est_intersection"] - inter) <= max(
        inter * 2.5 * tol, 50), (got["est_intersection"], inter)


def test_hdr_extreme_values_clamp_matches_oracle(spark):
    """ADVICE r10 #4: above ~9.2e12 the unclamped double→long cast
    diverged (Spark saturates, DuckDB raises). Both engines now clamp
    the micro value to HDR_MAX_MICRO identically — same bucket table,
    and the oracle no longer errors on extreme inputs."""
    import duckdb

    from graphview_spark.operators.sketch import (
        HDR_MAX_MICRO,
        HDR_SUB_BITS,
        _HDR_SUB,
        hdr_buckets,
    )

    vals = [5.0, 9.2e12, 9.3e12, 1e15, 1e30, float(HDR_MAX_MICRO) / 1e6]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v double")
    got = sorted(
        (r["hdr_b"], r["cnt"])
        for r in hdr_buckets(df, ["g"], "v").collect()
    )
    s = HDR_SUB_BITS + 1
    rows = ", ".join(f"({v!r})" for v in vals)
    want = sorted(
        tuple(r) for r in duckdb.sql(f"""
WITH raw(v) AS (VALUES {rows}),
vm AS (SELECT greatest(least(floor(v::DOUBLE * 1000000),
                             {HDR_MAX_MICRO})::BIGINT, 0) AS v FROM raw),
bk AS (SELECT greatest(length(printf('%b', v)) - {s}, 0)::BIGINT * {_HDR_SUB}
              + (v >> greatest(length(printf('%b', v)) - {s}, 0)) AS hdr_b
       FROM vm)
SELECT hdr_b, count(*) AS cnt FROM bk GROUP BY 1
""").fetchall()
    )
    assert got == want
    # every past-the-cap input lands in the exact clamp bucket
    # (micro = 2^62: bit length 63, shift 56, id 56·64 + 64)
    clamp_bucket = 56 * _HDR_SUB + (HDR_MAX_MICRO >> 56)
    assert dict(got)[clamp_bucket] >= 4


def test_hdr_small_values_exact(spark):
    """Micro-values below 2^HDR_SUB_BITS+1 bucket to themselves — tiny
    measurements are EXACT, the HdrHistogram property that matters for
    sub-unit latencies."""
    from graphview_spark.operators.sketch import hdr_buckets

    df = spark.range(1, 64).select(
        F.lit("g").alias("g"), (F.col("id") / 1_000_000.0).alias("v"))
    rows = hdr_buckets(df, ["g"], "v").collect()
    assert sorted(r["hdr_b"] for r in rows) == list(range(1, 64))


def test_bloom_auto_m_empty_frame_returns_default(spark):
    """ADVICE r11: a global HLL aggregate over ZERO rows still yields
    one row with a NULL estimate — the auto-sizer must treat that as
    0 distinct values (default size), not crash on int(None)."""
    from graphview_spark.operators.sketch import BLOOM_BITS, bloom_auto_m

    empty = _vals(spark, 0, 1_000).filter("w IS NULL")
    assert bloom_auto_m(empty, "w") == BLOOM_BITS


def test_hdr_nan_filtered_identically_to_oracle(spark):
    """ADVICE r11: unfiltered NaN diverged silently — Spark's
    floor(NaN) is bucket 0 while DuckDB's least(floor(NaN), 2^62) is
    the top clamp bucket. Worse, least/greatest SKIP NULL args in
    both engines, so the r10 clamp counted every NULL as a max-value
    observation. Both engines now drop NaN AND NULL before scaling,
    so the bucket tables stay bit-identical with no phantom
    zero/clamp rows."""
    import duckdb

    from graphview_spark.operators.sketch import (
        HDR_MAX_MICRO,
        HDR_SUB_BITS,
        _HDR_SUB,
        hdr_buckets,
    )

    vals = [5.0, float("nan"), 0.25, float("nan"), None, 1e30]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v double")
    got = sorted(
        ((r["hdr_b"], r["cnt"]) for r in hdr_buckets(df, ["g"], "v").collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    s = HDR_SUB_BITS + 1
    rows = ", ".join(
        "(NULL)" if v is None
        else "('nan'::DOUBLE)" if v != v
        else f"({v!r}::DOUBLE)"
        for v in vals)
    want = sorted(
        (tuple(r) for r in duckdb.sql(f"""
WITH raw(v) AS (VALUES {rows}),
vm AS (SELECT greatest(least(floor(v::DOUBLE * 1000000),
                             {HDR_MAX_MICRO})::BIGINT, 0) AS v
       FROM raw WHERE v IS NOT NULL AND NOT isnan(v::DOUBLE)),
bk AS (SELECT greatest(length(printf('%b', v)) - {s}, 0)::BIGINT * {_HDR_SUB}
              + (v >> greatest(length(printf('%b', v)) - {s}, 0)) AS hdr_b
       FROM vm)
SELECT hdr_b, count(*) AS cnt FROM bk GROUP BY 1
""").fetchall()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == want
    buckets = {b for b, _ in got}
    assert 0 not in buckets  # NaN did not land in bucket 0 (old Spark path)
    clamp_bucket = 56 * _HDR_SUB + (HDR_MAX_MICRO >> 56)
    assert dict((b, c) for b, c in got).get(clamp_bucket) == 1  # only 1e30


def test_bloom_m_table_equals_fpr_model_and_query_matches_auto_m(spark):
    """VERDICT r11 "Next #5": the sizing path is cross-engine now —
    (a) the integer threshold table is EXACTLY the FPR-model loop's
    decision boundary at every m (n_max passes, n_max+1 sizes up),
    (b) the oracle row's reported m_bits equals what the production
    bloom_auto_m picks on the same position-keyed stream, and the
    saturation flag mirrors the warning condition."""
    from graphview_spark.operators.sketch import (
        BLOOM_BITS,
        BLOOM_MAX_BITS,
        BLOOM_TARGET_FPR,
        bloom_auto_m,
        bloom_m_table,
        bloom_predicted_fpr,
        q_sketch_bloom_autom,
    )

    table = bloom_m_table()
    assert table[0][0] == BLOOM_BITS and table[-1][0] == BLOOM_MAX_BITS
    for m, n_max in table:
        assert bloom_predicted_fpr(n_max, m) <= BLOOM_TARGET_FPR
        assert bloom_predicted_fpr(n_max + 1, m) > BLOOM_TARGET_FPR

    sf = "/root/testdata/sf0.001"
    row = q_sketch_bloom_autom(spark, sf).first()
    from graphview_spark.session import read_table

    keys = (
        read_table(spark, sf, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
        .filter(F.col("w") != "")
        .select(F.concat_ws(":", "doc_id", "pos").alias("k"))
    )
    assert bloom_auto_m(keys, "k") == row["m_bits"]
    assert row["saturated"] == (row["est_distinct"] > table[-1][1])


def test_kmv_diff_partitions_the_union_and_tracks_truth(spark, sf_dir):
    """A-not-B: every union-sketch hash is in at least one side's
    sketch, so matches + only_a + only_b == n_kept exactly; and the
    difference estimates must track the TRUE per-side exclusive token
    counts within the sketch error band."""
    from graphview_spark.operators.sketch import (
        KMV_K,
        _tokens,
        q_sketch_kmv_diff,
        q_sketch_kmv_intersect,
    )

    got = q_sketch_kmv_diff(spark, sf_dir).first()
    inter = q_sketch_kmv_intersect(spark, sf_dir).first()
    assert got["n_kept"] == inter["n_kept"]
    assert inter["matches"] + got["only_a"] + got["only_b"] == got["n_kept"]
    assert got["est_union"] == inter["est_union"]

    tok = _tokens(spark, sf_dir).withColumn(
        "half", (F.col("doc_id") % 2).cast("int"))
    a = tok.filter("half = 0").select("w").distinct()
    b = tok.filter("half = 1").select("w").distinct()
    only_a = a.exceptAll(a.intersect(b)).count()
    only_b = b.exceptAll(a.intersect(b)).count()
    union = a.unionByName(b).distinct().count()
    tol = 4.0 / (KMV_K - 2) ** 0.5
    assert abs(got["est_only_a"] - only_a) <= max(union * tol, 50), (
        got["est_only_a"], only_a)
    assert abs(got["est_only_b"] - only_b) <= max(union * tol, 50), (
        got["est_only_b"], only_b)


def test_kmv_pairwise_exact_below_k_and_consistent_with_union_report(spark):
    """Three small token sets (each far below KMV_K) with constructed
    overlaps: the pairwise matrix must be EXACT (sketches hold the
    whole sets) and must agree pair-for-pair with kmv_union_report
    run on the split stores."""
    from graphview_spark.operators.sketch import (
        kmv_pairwise_report,
        kmv_sketch,
        kmv_union_report,
    )

    # s0 = 0..99, s1 = 50..149 (|∩|=50), s2 = 200..219 (disjoint)
    rows = (
        [("s0", str(i)) for i in range(100)]
        + [("s1", str(i)) for i in range(50, 150)]
        + [("s2", str(i)) for i in range(200, 220)]
    )
    df = spark.createDataFrame(rows, ["g", "w"])
    sk = kmv_sketch(df, ["g"], "w")
    out = {
        (r["s1"], r["s2"]): r
        for r in kmv_pairwise_report(sk, "g").collect()
    }
    assert set(out) == {("s0", "s1"), ("s0", "s2"), ("s1", "s2")}
    r01 = out[("s0", "s1")]
    assert (r01["est_union"], r01["est_intersection"]) == (150, 50)
    assert r01["jaccard_milli"] == 50 * 1000 // 150
    assert out[("s0", "s2")]["est_intersection"] == 0
    assert out[("s1", "s2")]["est_intersection"] == 0
    assert out[("s0", "s2")]["est_union"] == 120

    for (g1, g2), r in out.items():
        ref = kmv_union_report(
            sk.filter(F.col("g") == g1), sk.filter(F.col("g") == g2), []
        ).first()
        assert (r["n_kept"], r["matches"], r["est_union"],
                r["est_intersection"], r["jaccard_milli"]) == (
            ref["n_kept"], ref["matches"], ref["est_union"],
            ref["est_intersection"], ref["jaccard_milli"])


# --------------------------------------------------------------------------
# The (build, merge, read) specs shared by every sketch
# --------------------------------------------------------------------------

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name", ["HLL", "CMS", "BLOOM", "HDR", "KMV", "COUNTS"])
def test_merge_law(spark, name):
    """merge(build(a) ∪ build(b) ∪ build(∅)) == build(a ∪ b ∪ ∅), row
    for row on the sketch table — the lossless merge that lets
    per-shard / per-day / per-batch sketches roll up without
    re-reading data. The shards overlap, one is empty, and one holds
    NULL values; values are numeric strings, so HDR buckets them too,
    and 1.5k distinct values per group exercise KMV's top-k."""
    from graphview_spark.operators import sketch

    spec = getattr(sketch, name)
    rows = [(f"g{i % 2}", str(i)) for i in range(3_000)]
    shards = [
        spark.createDataFrame(part, "g string, w string")
        for part in (rows[:2_000], rows[1_000:] + [("g0", None)] * 3, [])
    ]
    whole = reduce(DataFrame.unionByName, shards)
    direct = _rows(spec.build(whole, ["g"], "w"))
    tables = [spec.build(s, ["g"], "w") for s in shards]
    merged = spec.merge(reduce(DataFrame.unionByName, tables), ["g"])
    assert _rows(merged) == direct and len(direct) > 0


@pytest.mark.parametrize("name", ["hll", "kmv", "cms", "bloom", "hdr"])
def test_null_values_leave_sketches_unchanged(spark, name):
    """NULL is no value: appending NULL rows to a group leaves its
    sketch table and its estimate exactly as they were (a NULL used to
    add an HLL register row, a KMV hash, CMS cells and a Bloom word)."""
    from graphview_spark.operators.sketch import (
        bloom_probe,
        bloom_words,
        cms_cells,
        cms_estimate,
        hdr_buckets,
        hdr_quantiles,
        kmv_estimate,
        kmv_sketch,
    )

    vals = spark.createDataFrame(
        [("a", str(i)) for i in range(50)], "g string, w string")
    probes = spark.createDataFrame(
        [(str(i),) for i in range(40, 60)], "w string")
    build, read = {
        "hll": (hll_registers, lambda t: hll_estimate(t, ["g"])),
        "kmv": (kmv_sketch, lambda t: kmv_estimate(t, ["g"])),
        "cms": (cms_cells, lambda t: cms_estimate(t, ["g"], ["1", "55"])),
        "bloom": (bloom_words,
                  lambda t: bloom_probe(probes, ["w"], "w", t)),
        "hdr": (hdr_buckets, lambda t: hdr_quantiles(t, ["g"])),
    }[name]
    with_nulls = vals.unionByName(
        spark.createDataFrame([("a", None)] * 3, "g string, w string"))
    want, got = build(vals, ["g"], "w"), build(with_nulls, ["g"], "w")
    assert _rows(got) == _rows(want)
    assert _rows(read(got)) == _rows(read(want))
