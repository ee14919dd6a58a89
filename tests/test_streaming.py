"""Structured Streaming: stream results must equal the batch results of
the same transformation (SURVEY.md §2.7 — net-new surface)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from graphview_spark.session import read_table
from graphview_spark.streaming.events import (
    build_running_totals,
    build_sessions,
    build_windowed_counts,
    events_stream,
    run_stream_to_memory,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Stage the events table as a parquet directory (2 files, so the
    file source actually sees multiple input splits)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(d, ignore_errors=True)
    read_table(spark, sf_dir, "events").repartition(2).write.parquet(
        d, mode="overwrite"
    )
    return d


def _batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    stream = events_stream(spark, events_dir)
    got = run_stream_to_memory(
        spark, build_windowed_counts(stream), "win_counts"
    ).collect()
    want = build_windowed_counts(_batch(spark, events_dir)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


def test_sliding_window(spark, events_dir):
    stream = events_stream(spark, events_dir)
    got = run_stream_to_memory(
        spark,
        build_windowed_counts(stream, window="2 hours", slide="1 hour"),
        "win_sliding",
    ).collect()
    want = build_windowed_counts(
        _batch(spark, events_dir), window="2 hours", slide="1 hour"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # each event lands in 2 sliding windows
    assert sum(r["n_events"] for r in want) == 2 * _batch(spark, events_dir).count()


def test_sessions_stream_equals_batch(spark, events_dir):
    stream = events_stream(spark, events_dir)
    got = run_stream_to_memory(spark, build_sessions(stream), "sessions").collect()
    want = build_sessions(_batch(spark, events_dir)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_watermark_bounds_state(spark, events_dir):
    """The watermarked streaming agg in append mode emits only finalized
    windows — the state-bounding contract for 100 TB streams."""
    stream = events_stream(spark, events_dir, watermark="30 minutes")
    q = (
        build_windowed_counts(stream)
        .writeStream.format("memory")
        .queryName("wm_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("wm_append").collect()
    want = build_windowed_counts(_batch(spark, events_dir)).collect()
    # append mode withholds windows not yet past the watermark (the last
    # window(s) of the file batch) — everything emitted must match batch
    want_map = {(r["window_start"], r["event_type"]): r for r in want}
    assert 0 < len(got) <= len(want)
    for r in got:
        w = want_map[(r["window_start"], r["event_type"])]
        assert (r["n_events"], r["total_value"]) == (w["n_events"], w["total_value"])


def test_running_totals_stateful(spark, events_dir):
    """applyInPandasWithState custom operator vs the batch aggregate."""
    stream = events_stream(spark, events_dir)
    got = run_stream_to_memory(
        spark, build_running_totals(stream), "running", mode="update"
    )
    # update mode may emit a row per user per micro-batch; the LAST emit
    # per user carries the final state. availableNow + single batch → one
    # row per user here, but aggregate defensively.
    final = (
        got.groupBy("user_id")
        .agg(
            F.max("running_total").alias("running_total"),
            F.max("n_events").alias("n_events"),
        )
        .collect()
    )
    want = {
        r["user_id"]: (round(r["t"], 2), r["n"])
        for r in _batch(spark, events_dir)
        .groupBy("user_id")
        .agg(F.sum("value").alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(final) == len(want)
    for r in final:
        assert (r["running_total"], r["n_events"]) == want[r["user_id"]]


def test_stream_dedup_within_watermark(spark, events_dir):
    """Streaming dedup drops the duplicates a re-delivered source batch
    introduces; state is watermark-bounded."""
    from graphview_spark.streaming.events import build_dedup

    # duplicate every event once (simulated at-least-once redelivery)
    dup_dir = events_dir + "_dup"
    base = _batch(spark, events_dir)
    base.union(base).repartition(3).write.parquet(dup_dir, mode="overwrite")

    stream = spark.readStream.schema(base.schema).parquet(dup_dir)
    got = run_stream_to_memory(
        spark, build_dedup(stream, within="1 hour"), "dedup_stream",
        mode="append",
    )
    assert got.count() == base.count()
    assert got.select("event_id").distinct().count() == base.count()
    # batch form agrees
    assert build_dedup(spark.read.parquet(dup_dir)).count() == base.count()


def test_stream_stream_interval_join(spark, events_dir):
    """Stream-stream time-bounded join equals the batch range join."""
    from graphview_spark.streaming.events import build_purchase_click_join

    batch = _batch(spark, events_dir)
    types = [r["event_type"] for r in batch.select("event_type").distinct().collect()]
    t_click, t_buy = sorted(types)[0], sorted(types)[-1]
    assert t_click != t_buy

    def split(df):
        return (
            df.filter(F.col("event_type") == t_click),
            df.filter(F.col("event_type") == t_buy),
        )

    want = build_purchase_click_join(*split(batch)).collect()
    sc = events_stream(spark, events_dir, watermark="2 hours")
    clicks, purchases = split(sc)
    got = run_stream_to_memory(
        spark,
        build_purchase_click_join(clicks, purchases),
        "ss_join",
        mode="append",
    ).collect()
    assert len(want) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_trending_foreachbatch_equals_batch(spark, events_dir):
    """Trending ranks computed in a foreachBatch sink over the streamed
    windowed counts match the batch form — the streaming deployment
    shape for rank-within-window semantics."""
    from graphview_spark.streaming.events import build_trending

    collected = []

    def sink(batch_df, batch_id):
        collected.extend(build_trending(batch_df).collect())

    stream = events_stream(spark, events_dir)
    q = (
        build_windowed_counts(stream)
        .writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = build_trending(
        build_windowed_counts(_batch(spark, events_dir))
    ).collect()
    # the final micro-batch's complete-mode snapshot carries every window
    n = len(want)
    assert n > 0
    assert sorted(map(tuple, collected[-n:])) == sorted(map(tuple, want))
    for r in want:
        assert 1 <= r["rank"] <= 3


# --------------------------------------------------------------------------
# streaming HDR percentiles
# --------------------------------------------------------------------------

def test_streaming_hdr_matches_batch_sketch(spark, tmp_path):
    """Percentiles accumulated micro-batch by micro-batch equal the
    batch sketch over the union of all batches — the count-sum merge
    is lossless, so arrival slicing is invisible."""
    from graphview_spark.operators.sketch import HDR, hdr_buckets, hdr_quantiles
    from graphview_spark.streaming.store import StreamingStore

    rows = [(i, "a" if i % 3 else "b", (i * 7 % 500) + 0.25)
            for i in range(1, 601)]
    src = tmp_path / "ev_in"
    src.mkdir()
    # three arrival slices, written as separate files → separate batches
    for lo, hi, name in [(0, 200, "b0"), (200, 400, "b1"), (400, 600, "b2")]:
        spark.createDataFrame(
            rows[lo:hi], ["event_id", "event_type", "value"]
        ).coalesce(1).write.json(str(src / name))

    h = StreamingStore(HDR, ["event_type"], "value")
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1).json(str(src / "*"))
    )
    q = (stream.writeStream.foreachBatch(h)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    streamed = sorted(tuple(r) for r in h.read().collect())
    batch_df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    direct = sorted(tuple(r) for r in hdr_quantiles(
        hdr_buckets(batch_df, ["event_type"], "value"), ["event_type"]
    ).collect())
    assert streamed == direct
    assert {r[0] for r in streamed} == {"a", "b"}


def test_stream_hdr_replay_equals_direct_sketch(spark):
    """The oracle-gated replay projection (VERDICT r10 "Next #6"):
    q_stream_hdr_replay's four replayed micro-batches must reproduce
    the one-shot batch sketch over the whole events table — the same
    equality its DuckDB oracle asserts cross-engine."""
    from graphview_spark.operators.sketch import q_sketch_hdr_quantile
    from graphview_spark.streaming.store import q_stream_hdr_replay

    sf = "/root/testdata/sf0.001"
    replayed = sorted(tuple(r) for r in q_stream_hdr_replay(spark, sf).collect())
    direct = sorted(tuple(r) for r in q_sketch_hdr_quantile(spark, sf).collect())
    assert replayed == direct and len(replayed) > 0


def test_streaming_kmv_matches_batch_and_stays_bounded(spark, tmp_path):
    """Distinct estimates accumulated micro-batch by micro-batch equal
    the batch sketch over the union (min-merge is lossless), through a
    REAL readStream/foreachBatch pipeline; the store never exceeds
    KMV_K rows per group."""
    from graphview_spark.operators.sketch import (
        KMV,
        KMV_K,
        kmv_estimate,
        kmv_sketch,
    )
    from graphview_spark.streaming.store import StreamingStore

    rows = [(i, "a" if i % 3 else "b", f"w{i * 7 % 900}")
            for i in range(1, 1_201)]
    src = tmp_path / "kmv_in"
    src.mkdir()
    for lo, hi, name in [(0, 400, "b0"), (400, 800, "b1"), (800, 1200, "b2")]:
        spark.createDataFrame(
            rows[lo:hi], ["doc_id", "lang", "w"]
        ).coalesce(1).write.json(str(src / name))

    k = StreamingStore(KMV, ["lang"], "w")
    q = (
        spark.readStream.schema("doc_id long, lang string, w string")
        .option("maxFilesPerTrigger", 1).json(str(src / "*"))
        .writeStream.foreachBatch(k)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)

    streamed = sorted(tuple(r) for r in k.read().collect())
    batch_df = spark.createDataFrame(rows, ["doc_id", "lang", "w"])
    direct = sorted(tuple(r) for r in kmv_estimate(
        kmv_sketch(batch_df, ["lang"], "w"), ["lang"]).collect())
    assert streamed == direct
    assert {r[0] for r in streamed} == {"a", "b"}
    per_group = k.table().groupBy("lang").count()
    assert per_group.agg(F.max("count")).first()[0] <= KMV_K


def test_stream_kmv_replay_equals_direct_sketch(spark):
    """The oracle-gated replay projection: four replayed micro-batches
    must reproduce the one-shot corpus sketch — the same equality its
    DuckDB oracle asserts cross-engine."""
    from graphview_spark.operators.sketch import q_sketch_kmv_distinct
    from graphview_spark.streaming.store import q_stream_kmv_replay

    sf = "/root/testdata/sf0.001"
    replayed = sorted(tuple(r) for r in q_stream_kmv_replay(spark, sf).collect())
    direct = sorted(tuple(r) for r in q_sketch_kmv_distinct(spark, sf).collect())
    assert replayed == direct and len(replayed) > 0


def test_streaming_hdr_store_stays_bounded(spark, tmp_path):
    """The accumulated state is the bucket table, not the data: after
    all batches the store holds ≤ 4096 rows per group."""
    from graphview_spark.operators.sketch import HDR
    from graphview_spark.streaming.store import StreamingStore

    src = tmp_path / "ev_bound"
    src.mkdir()
    for b in range(3):
        spark.createDataFrame(
            [(i, "g", float(i * 13 + b * 10_000 + 1)) for i in range(2_000)],
            ["event_id", "event_type", "value"],
        ).coalesce(1).write.json(str(src / f"b{b}"))
    h = StreamingStore(HDR, ["event_type"], "value")
    q = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1).json(str(src / "*"))
        .writeStream.foreachBatch(h)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    assert h.table().count() <= 4096


def test_streaming_kmv_two_store_rollup_equals_direct(spark, tmp_path):
    """VERDICT r11 "Next #3": the day-level rollup promise — two
    streams accumulate into two independent KMV stores (REAL
    readStream/foreachBatch pipelines), then kmv_union_report over
    the two ≤ KMV_K-row stores must equal the same report computed
    from direct one-shot sketches of each day's full data. No event
    is re-read at rollup time: the report's inputs are the stores."""
    from graphview_spark.operators.sketch import (
        KMV,
        KMV_K,
        kmv_sketch,
        kmv_union_report,
    )
    from graphview_spark.streaming.store import StreamingStore

    day_rows = {
        0: [(i, "a" if i % 3 else "b", f"w{i * 7 % 700}")
            for i in range(1, 901)],
        1: [(i, "a" if i % 3 else "b", f"w{i * 11 % 700 + 350}")
            for i in range(1, 901)],
    }
    stores = {}
    for day, rows in day_rows.items():
        src = tmp_path / f"kmv_day{day}"
        src.mkdir()
        for lo, hi, name in [(0, 300, "b0"), (300, 600, "b1"),
                             (600, 900, "b2")]:
            spark.createDataFrame(
                rows[lo:hi], ["doc_id", "lang", "w"]
            ).coalesce(1).write.json(str(src / name))
        st = StreamingStore(KMV, ["lang"], "w")
        q = (
            spark.readStream.schema("doc_id long, lang string, w string")
            .option("maxFilesPerTrigger", 1).json(str(src / "*"))
            .writeStream.foreachBatch(st)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        stores[day] = st

    streamed = sorted(tuple(r) for r in kmv_union_report(
        stores[0].table(), stores[1].table(), ["lang"]
    ).collect())
    direct = sorted(tuple(r) for r in kmv_union_report(
        kmv_sketch(spark.createDataFrame(day_rows[0],
                                         ["doc_id", "lang", "w"]),
                   ["lang"], "w"),
        kmv_sketch(spark.createDataFrame(day_rows[1],
                                         ["doc_id", "lang", "w"]),
                   ["lang"], "w"),
        ["lang"],
    ).collect())
    assert streamed == direct
    assert {r[0] for r in streamed} == {"a", "b"}
    # real overlap exists by construction (w ranges intersect) and so
    # does real disjoint mass — the report must see both
    for row in streamed:
        lang, n_kept, matches, est_u, est_i, jm = row
        assert 0 < matches < n_kept <= KMV_K
        assert 0 < est_i < est_u
        assert 0 < jm < 1000


def test_replay_rows_equal_batch_forms(spark):
    """The r12 oracle-exposure harness (streaming/replay.py): the
    real-engine replay of watermark dedup and the interval join must
    equal their batch forms at sf0.001 — the same equality the DuckDB
    gate asserts cross-engine, checked here Spark-vs-Spark so a
    harness regression (slice order, watermark choice, state expiry)
    fails fast in pytest."""
    from graphview_spark.session import read_table
    from graphview_spark.streaming.events import (
        build_dedup,
        build_purchase_click_join,
    )
    from graphview_spark.streaming.replay import (
        q_stream_dedup_replay,
        q_stream_interval_replay,
    )

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events")

    got = sorted(map(tuple, q_stream_dedup_replay(spark, sf).collect()))
    want = sorted(map(tuple, build_dedup(
        ev.select("event_id", "user_id", "event_type", "ts", "value")
        .unionByName(ev.select("event_id", "user_id", "event_type",
                               "ts", "value"))
    ).collect()))
    assert got == want and len(got) == ev.count()

    types = sorted(r[0] for r in
                   ev.select("event_type").distinct().collect())
    got_j = sorted(map(tuple, q_stream_interval_replay(spark, sf).collect()))
    want_j = sorted(map(tuple, build_purchase_click_join(
        ev.filter(F.col("event_type") == types[0]),
        ev.filter(F.col("event_type") == types[-1]),
    ).collect()))
    assert got_j == want_j and len(got_j) > 0


def test_state_replay_matches_sliced_batch_form(spark):
    """stream_state_replay's emit-set contract, Spark-vs-Spark: the
    update-mode kernel emits one row per (user, present-batch) with
    the running totals AFTER that batch — recomputable as cumulative
    per-(user, slice) aggregates over the same ntile slice assignment
    the harness writes."""
    from pyspark.sql import Window as W

    from graphview_spark.session import read_table
    from graphview_spark.streaming.replay import (
        REPLAY_SLICES,
        q_stream_state_replay,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, q_stream_state_replay(spark, sf).collect()))
    ev = read_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "value")
    sliced = ev.withColumn(
        "_b", F.ntile(REPLAY_SLICES).over(W.orderBy("ts", "event_id")))
    g = sliced.groupBy("user_id", "_b").agg(
        F.sum("value").alias("sv"), F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("user_id").orderBy("_b").rowsBetween(
        W.unboundedPreceding, W.currentRow)
    want = sorted(map(tuple, g.select(
        "user_id",
        F.round(F.sum("sv").over(w), 2).alias("running_total"),
        F.sum("c").over(w).alias("n_events"),
    ).collect()))
    assert got == want and len(got) > 0
    # more emits than users (multi-batch presence) — the state carried
    users = len({r[0] for r in got})
    assert len(got) > users


def test_streaming_bucket_counts_two_store_drift_equals_batch(
        spark, tmp_path):
    """REAL readStream/foreachBatch pipelines: two snapshot streams
    accumulate into two bounded bucket-count stores; the drift report
    over the joined stores must equal q_pipeline_drift-style batch
    computation over the same rows, and each store stays bounded at
    groups × buckets rows."""
    from pyspark.sql import functions as F

    from graphview_spark.operators.pipeline import (
        DRIFT_BUCKETS,
        drift_bucket,
        drift_report,
    )
    from graphview_spark.operators.sketch import COUNTS
    from graphview_spark.streaming.store import StreamingStore

    half_rows = {
        0: [(i, "a" if i % 3 else "b", (i * 37) % 2000)
            for i in range(0, 900, 2)],
        1: [(i, "a" if i % 3 else "b", (i * 53) % 3000)
            for i in range(1, 900, 2)],
    }
    stores = {}
    for half, rows in half_rows.items():
        src = tmp_path / f"drift_h{half}"
        src.mkdir()
        for lo, hi, name in [(0, 150, "b0"), (150, 300, "b1"),
                             (300, 450, "b2")]:
            spark.createDataFrame(
                rows[lo:hi], ["doc_id", "lang", "n_chars"]
            ).coalesce(1).write.json(str(src / name))
        st = StreamingStore(COUNTS, ["lang"], "bucket")
        q = (
            spark.readStream
            .schema("doc_id long, lang string, n_chars long")
            .option("maxFilesPerTrigger", 1).json(str(src / "*"))
            .withColumn("bucket", drift_bucket(F.col("n_chars")))
            .writeStream.foreachBatch(st)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        stores[half] = st
        assert st.read().count() <= 2 * DRIFT_BUCKETS

    a = stores[0].read().select("lang", "bucket", F.col("c").alias("ca"))
    b = stores[1].read().select("lang", "bucket", F.col("c").alias("cb"))
    cnt = a.join(b, ["lang", "bucket"], "full_outer").select(
        "lang", "bucket",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"))
    streamed = sorted(tuple(r) for r in drift_report(cnt).collect())

    both = (
        spark.createDataFrame(half_rows[0] + half_rows[1],
                              ["doc_id", "lang", "n_chars"])
        .select("doc_id", "lang", drift_bucket(F.col("n_chars")).alias("bucket"))
    )
    direct_cnt = both.groupBy("lang", "bucket").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("cb"))
    direct = sorted(tuple(r) for r in drift_report(direct_cnt).collect())
    assert streamed == direct


@pytest.mark.parametrize("spec", ["HLL", "CMS", "BLOOM", "HDR", "KMV", "COUNTS"])
def test_store_read_before_any_batch_raises(spec):
    """A store that has seen no batch has no table to read: both its
    table and its estimate raise the named ValueError, for every
    spec."""
    from graphview_spark.operators import sketch
    from graphview_spark.streaming.store import StreamingStore

    st = StreamingStore(getattr(sketch, spec), ["g"], "w")
    for read in (st.table, st.read):
        with pytest.raises(ValueError, match="no batches processed yet"):
            read()


def test_replay_statestore_provider_hook_identical(spark, monkeypatch):
    """GV_REPLAY_STATESTORE swaps the streaming state-store provider
    (round-13 probe hook, VERDICT r12 "Next #4"): the RocksDB provider
    must produce the identical drained result as the default, and the
    session conf must be restored afterwards."""
    from graphview_spark.streaming.replay import q_stream_dedup_replay

    sf = "/root/testdata/sf0.001"
    default = q_stream_dedup_replay(spark, sf)
    before = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    monkeypatch.setenv("GV_REPLAY_STATESTORE", "rocksdb")
    rocks = q_stream_dedup_replay(spark, sf)
    assert default.exceptAll(rocks).count() == 0
    assert rocks.exceptAll(default).count() == 0
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass") == before


def test_replay_input_smaller_than_slice_count(spark, sf_dir):
    """An input with fewer rows than REPLAY_SLICES leaves some slices
    without a partitionBy directory; the harness must stream them as
    empty micro-batches, not crash renaming a directory that was never
    written."""
    from graphview_spark.streaming.events import build_dedup
    from graphview_spark.streaming.replay import (
        REPLAY_SLICES,
        REPLAY_WATERMARK,
        _replay_through_engine,
    )

    cols = ["event_id", "user_id", "event_type", "ts", "value"]
    three = read_table(spark, sf_dir, "events").select(*cols).orderBy(
        "ts", "event_id").limit(3).localCheckpoint(eager=True)
    assert three.count() == 3 < REPLAY_SLICES
    got = _replay_through_engine(
        spark, three, lambda s: build_dedup(s, within=REPLAY_WATERMARK),
        "tiny",
    ).select(*cols)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, three.collect()))


def test_replay_one_file_per_slice_under_max_records_per_file(spark, sf_dir):
    """A session-wide spark.sql.files.maxRecordsPerFile would split each
    slice into many files sharing one pinned mtime (ADVICE r13); the
    slice writer overrides it, so every b<k> directory holds exactly
    one data file and the drained replay still equals its input."""
    import glob
    import tempfile

    from graphview_spark.streaming.events import build_dedup
    from graphview_spark.streaming.replay import (
        REPLAY_SLICES,
        REPLAY_WATERMARK,
        _replay_through_engine,
    )

    cols = ["event_id", "user_id", "event_type", "ts", "value"]
    ev = read_table(spark, sf_dir, "events").select(*cols).orderBy(
        "ts", "event_id").limit(10 * REPLAY_SLICES).localCheckpoint(
            eager=True)
    label = "one_file_per_slice"
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        got = _replay_through_engine(
            spark, ev, lambda s: build_dedup(s, within=REPLAY_WATERMARK),
            label,
        ).select(*cols)
        rows = sorted(map(tuple, got.collect()))
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
    app = spark.sparkContext.applicationId
    base = max(glob.glob(os.path.join(
        tempfile.gettempdir(), "gv_stream_replay", app, label, "*")),
        key=os.path.getmtime)
    for b in range(1, REPLAY_SLICES + 1):
        data = [f for f in os.listdir(os.path.join(base, f"b{b}"))
                if f.endswith(".parquet") and not f.startswith(".")]
        assert len(data) == 1, (b, data)
    assert rows == sorted(map(tuple, ev.collect()))


def test_state_replay_workers_import_package_from_any_cwd(sf_dir, tmp_path):
    """The applyInPandasWithState worker unpickles a state function that
    imports graphview_spark by name. Started outside the repo with
    PYTHONPATH unset — only the driver's sys.path knows the package — a
    get_spark session must still let the worker resolve it."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from graphview_spark.session import get_spark\n"
        "from graphview_spark.streaming.replay import q_stream_state_replay\n"
        "spark = get_spark('import_cwd', cpus=2)\n"
        f"n = len(q_stream_state_replay(spark, {sf_dir!r}).collect())\n"
        "print('ROWS', n)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"  # a second JVM beside the suite's
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600)
    assert "ModuleNotFoundError" not in out.stderr, out.stderr[-2000:]
    assert out.returncode == 0, out.stderr[-2000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, out.stdout
