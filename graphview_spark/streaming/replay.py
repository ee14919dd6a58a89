"""Oracle exposure for the REAL streaming-engine stateful operators.

stream_hdr_replay / stream_kmv_replay gate foreachBatch SINKS by
driving their callables with deterministic batch frames. The two
surfaces that remained pytest-only (VERDICT r11 "Next #8") are
different: watermark dedup (``dropDuplicatesWithinWatermark``) and the
stream-stream interval join are the STREAMING ENGINE'S stateful
operators — there is no callable to drive; the state lives inside a
running query. So these rows run the actual engine: the corpus is
sliced into deterministic TIME-ORDERED file micro-batches, consumed by
a real readStream with ``maxFilesPerTrigger=1`` + ``availableNow``
into a memory sink, and the drained table is returned as a batch
DataFrame for the DuckDB oracle over the whole corpus.

Why time-ordered slices make the streamed result EQUAL the batch form
(not just approximate it):

  - watermark after batch b = max ts(batch b) − delay, and every later
    row has ts ≥ max ts(batch b), so no input row is ever dropped as
    late;
  - dedup: redelivered copies are adjacent in ts order, so they land
    in the same or the next slice — well inside the 2h delay — and
    per-key state cannot expire between copies;
  - interval join (horizon 1h ≤ delay 2h): a click's state is evicted
    only when the watermark passes click_ts + horizon, and every
    purchase that could match arrives while the watermark is still
    ≥ 2h behind its own ts, hence before that eviction.

Determinism: slice membership is a rank over (ts, event_id) — unique
keys, no tie ambiguity that could change results (exact duplicate rows
are interchangeable by construction); file arrival order is pinned by
explicit ascending mtimes. Scale posture: the slicing sort exists only
to build the test harness's micro-batches — production streams arrive
pre-sliced by time; the operators themselves are the engine's bounded-
state implementations (state ∝ arrival rate × watermark horizon,
never stream lifetime).
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphview_spark import artifacts
from graphview_spark.plans import lazy as _lazy
from graphview_spark.session import read_table
from graphview_spark.streaming.events import (
    build_dedup,
    build_purchase_click_join,
)

REPLAY_SLICES = 4
REPLAY_WATERMARK = "2 hours"
# state-shard sizing for the replay engine runs (r12 optimization —
# OPTIMIZATION_r12.md "streaming replays"): a stream-stream join keeps
# FOUR state stores per shard and every store pays a per-batch commit,
# so at harness batch sizes the shard count IS the cost. Measured at
# sf0.1 (min-of-3, idle): interval join 2 shards = 3.65s vs 8 = 7.14s;
# dedup 2 = 1.94s vs 8 = 2.46s; and the sf10 rung needs ~32 (the r12
# build's 115.3s→40.1s measurement). One fixed number cannot serve
# both rungs — derive shards from the batch row count instead
# (~150k rows/shard reproduces both measured optima), capped by the
# session's core count. Python-stateful ops (applyInPandasWithState)
# invert the trade-off: the per-group Python kernel wants parallel
# workers, and shards=1 serializes them (measured 19.6s vs 5.3s at
# 16) — builds tagged ``python_state`` get a 16-shard floor.
# GV_REPLAY_SHARDS still overrides everything for scale runs.
REPLAY_ROWS_PER_SHARD = 150_000
REPLAY_PYTHON_SHARD_FLOOR = 16
_counter = itertools.count()


def _replay_shards(spark: SparkSession, build, total_rows: int) -> int:
    env = os.environ.get("GV_REPLAY_SHARDS")
    if env:
        return int(env)
    import math

    cpus = spark.sparkContext.defaultParallelism
    batch_rows = max(1, total_rows // REPLAY_SLICES)
    shards = max(2, math.ceil(batch_rows / REPLAY_ROWS_PER_SHARD))
    if getattr(build, "python_state", False):
        shards = max(shards, REPLAY_PYTHON_SHARD_FLOOR)
    return min(cpus, shards)


def _replay_through_engine(
    spark: SparkSession, df: DataFrame, build, label: str,
    cache_key: str | None = None, metadata_fn=None,
) -> DataFrame:
    """Slice ``df`` into REPLAY_SLICES time-ordered parquet files,
    stream them through ``build`` (file source, one file per
    micro-batch, availableNow) into a memory sink, and return the
    drained result. Driver-side work is bounded: one sort of the
    gate-scale corpus to write the harness files; the streaming query
    itself does bounded-state work per batch.

    ``metadata_fn(df)``, when given, runs ONLY in the slice-build cold
    path (its result rides the slice cache) and ``build`` is then
    called as ``build(stream, metadata)`` — bounded corpus metadata
    (the interval replay's event-type bounds) is read exactly where
    the harness slices are written, never separately memoised.

    With ``cache_key`` the (slice dir, row count, metadata) triple is an
    app-scoped artifact: the harness files are a pure deterministic
    function of the corpus, so re-runs (bench min-of-2, repeated gate
    calls) reuse one write."""
    from pyspark.sql import Window as W

    schema = df.schema

    def write_slices() -> tuple[str, int, object]:
        base = os.path.join(
            tempfile.gettempdir(), "gv_stream_replay",
            spark.sparkContext.applicationId, label, str(next(_counter)))
        shutil.rmtree(base, ignore_errors=True)
        total_rows = df.count()  # sizes the state shards (cached)
        meta = metadata_fn(df) if metadata_fn is not None else None
        sliced = df.withColumn(
            "_b", F.ntile(REPLAY_SLICES).over(W.orderBy("ts", "event_id")))
        # ONE partitionBy write instead of one filtered write per slice
        # (round 13): the ntile needs a single-partition global sort,
        # and the old per-slice writes re-ran that sort REPLAY_SLICES
        # times — the dominant cost of the cold slice build (the r12
        # sf10 cold run spent ~8 min here). partitionBy splits the one
        # sorted pass into the same one-file-per-slice layout (the
        # partition column is dropped from the data files, so the
        # streamed schema is unchanged), and the dirs are renamed to
        # the b1..bN names the reader globs. An input with fewer rows
        # than slices leaves some ntile values unused; partitionBy
        # writes no directory for those, so they become empty slices.
        # maxRecordsPerFile=0 overrides a session cap that would split
        # a slice into several files with one pinned mtime (ADVICE r13).
        raw = base + "_raw"
        os.makedirs(base, exist_ok=True)
        (sliced.coalesce(1).write.partitionBy("_b")
         .option("maxRecordsPerFile", 0)
         .parquet(raw, mode="overwrite"))
        for b in range(1, REPLAY_SLICES + 1):
            d = os.path.join(base, f"b{b}")
            part = os.path.join(raw, f"_b={b}")
            if os.path.isdir(part):
                os.rename(part, d)
            else:
                os.makedirs(d)
            # pin arrival order: the file source orders by modification
            # time, and sub-second sequential writes can tie
            for root, _, files in os.walk(d):
                for f in files:
                    os.utime(os.path.join(root, f),
                             (1_000_000 + b, 1_000_000 + b))
        shutil.rmtree(raw, ignore_errors=True)
        return base, total_rows, meta

    base, total_rows, meta = (
        artifacts.memo(spark, "slices", (label, cache_key), write_slices)
        if cache_key else write_slices())
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "*"))
    )
    name = f"gv_replay_{label}_{os.getpid()}_{next(_counter)}"
    output_mode = getattr(build, "output_mode", "append")
    # stateful micro-batches shard their state stores by
    # spark.sql.shuffle.partitions — sized scale-adaptively from the
    # batch row count by _replay_shards (rationale and measurements in
    # the constant block above).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(_replay_shards(spark, build, total_rows)))
    # state-store provider probe hook (VERDICT r12 "Next #4"): the
    # default HDFSBackedStateStoreProvider keeps every shard's map on
    # heap and pays a full-snapshot commit per batch; RocksDB commits
    # incrementally — which side wins is rung-dependent, so the
    # provider stays an env-selected parameter (scale runs set
    # GV_REPLAY_STATESTORE=rocksdb; the local default is Spark's own).
    store = os.environ.get("GV_REPLAY_STATESTORE")
    prev_store = None
    if store:
        cls = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider" if store == "rocksdb" else store)
        prev_store = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", cls)
    try:
        built = build(stream, meta) if metadata_fn is not None \
            else build(stream)
        q = (
            built.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if prev_store is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_store)
    return spark.table(name)


_DEDUP_COLS = ["event_id", "user_id", "event_type", "ts", "value"]


def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark dedup under the DuckDB oracle: every event is
    redelivered once (exact at-least-once duplicate), the doubled
    corpus streams through ``dropDuplicatesWithinWatermark`` in four
    time-ordered micro-batches, and the drained output must equal the
    original corpus row-for-row — the oracle is a plain projection of
    ``events`` (event_id is unique there), so hash equality proves the
    engine's bounded dedup state dropped EXACTLY the redelivered
    copies, no more, no less."""
    ev = read_table(spark, sf_dir, "events").select(*_DEDUP_COLS)
    doubled = ev.unionByName(ev)
    if _lazy.is_lazy():  # plan audit: the batch-equivalent projection
        return build_dedup(doubled).select(*_DEDUP_COLS)
    out = _replay_through_engine(
        spark, doubled,
        lambda s: build_dedup(s, within=REPLAY_WATERMARK),
        "dedup", cache_key=sf_dir,
    )
    return out.select(*_DEDUP_COLS)


def q_stream_interval_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the DuckDB oracle: the corpus
    streams once through the engine, split into a click side (min
    event_type) and a purchase side (max event_type) that join on
    user within a 1h horizon — both sides watermarked 2h, so the
    engine's state eviction provably never races an eligible match
    (module docstring). The oracle is the identical range join over
    the whole events table; equality proves the streamed stateful
    join emits exactly the batch semantics."""
    ev = read_table(spark, sf_dir, "events")
    if _lazy.is_lazy():
        # plan audit: the batch-equivalent range join, with the
        # min/max type split expressed as a broadcast of the one-row
        # type-bounds aggregate (no jobs may run under the audit)
        t = ev.agg(F.min("event_type").alias("_lo"),
                   F.max("event_type").alias("_hi"))
        clicks = ev.join(
            F.broadcast(t), F.col("event_type") == F.col("_lo")
        ).drop("_lo", "_hi")
        purchases = ev.join(
            F.broadcast(t), F.col("event_type") == F.col("_hi")
        ).drop("_lo", "_hi")
        return build_purchase_click_join(clicks, purchases)
    # bounded metadata read (a handful of event types, the same class
    # as the planner's histogram reads) — runs in the slice-build COLD
    # path via metadata_fn, exactly where the harness slices are
    # written (VERDICT r12 "Next #6": no separate corpus-keyed memo
    # inside the timed region)
    def _type_bounds(df):
        return sorted(
            r[0] for r in df.select("event_type").distinct().collect())

    def _build(s, types):
        watermarked = s.withWatermark("ts", REPLAY_WATERMARK)
        return build_purchase_click_join(
            watermarked.filter(F.col("event_type") == types[0]),
            watermarked.filter(F.col("event_type") == types[-1]),
        )
    out = _replay_through_engine(
        spark,
        ev.select("event_id", "user_id", "event_type", "ts", "value"),
        _build,
        "ssjoin", cache_key=sf_dir, metadata_fn=_type_bounds,
    )
    return out


def q_stream_state_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState running
    totals) under the DuckDB oracle — the remaining streaming surface
    class after r11/r12 closed the sketch rollups and the engine's
    built-in stateful ops. In update mode the kernel emits, per
    micro-batch, one row per user PRESENT in that batch carrying the
    running (total, count) AFTER the batch — so the drained memory
    table is a deterministic function of the slice assignment, which
    the oracle replicates exactly: slice = ntile(4) over (ts,
    event_id) in BOTH engines, then per-(user, present-slice)
    cumulative sums. Equality proves the Arrow-batched state kernel
    (state carry, per-batch accumulation, emit discipline) against
    plain SQL, row for row."""
    from graphview_spark.streaming.events import build_running_totals

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value")
    if _lazy.is_lazy():
        # plan audit: the batch-equivalent aggregate of the final state
        return (
            ev.groupBy("user_id")
            .agg(F.round(F.sum("value"), 2).alias("running_total"),
                 F.count(F.lit(1)).alias("n_events"))
        )

    def build(s):
        return build_running_totals(s)

    build.output_mode = "update"
    # applyInPandasWithState: per-group Python kernels want parallel
    # workers, so this build gets the shard floor (constant block above)
    build.python_state = True
    out = _replay_through_engine(spark, ev, build, "state", cache_key=sf_dir)
    return out.select("user_id", "running_total", "n_events")


ORACLE_STREAM_STATE = f"""
WITH sliced AS (
  SELECT user_id, value,
         ntile({REPLAY_SLICES}) OVER (ORDER BY ts, event_id) AS b
  FROM events
),
g AS (
  SELECT user_id, b, sum(value) AS sv, count(*) AS c
  FROM sliced GROUP BY user_id, b
)
SELECT user_id,
       round(sum(sv) OVER (PARTITION BY user_id ORDER BY b
                           ROWS UNBOUNDED PRECEDING), 2) AS running_total,
       (sum(c) OVER (PARTITION BY user_id ORDER BY b
                     ROWS UNBOUNDED PRECEDING))::BIGINT AS n_events
FROM g
"""


ORACLE_STREAM_DEDUP = f"""
SELECT {", ".join(_DEDUP_COLS)} FROM events
"""

ORACLE_STREAM_INTERVAL = """
WITH t AS (SELECT min(event_type) AS ct, max(event_type) AS pt FROM events)
SELECT b.user_id,
       a.event_id AS click_id,
       b.event_id AS purchase_id,
       a.ts AS click_ts,
       b.ts AS purchase_ts,
       round(b.value, 2) AS amount
FROM events a, events b, t
WHERE a.event_type = t.ct AND b.event_type = t.pt
  AND a.user_id = b.user_id
  AND a.ts <= b.ts
  AND b.ts <= a.ts + INTERVAL 1 HOUR
"""

EXTRA_QUERIES = {
    "stream_dedup_replay": q_stream_dedup_replay,
    "stream_interval_replay": q_stream_interval_replay,
    "stream_state_replay": q_stream_state_replay,
}
EXTRA_ORACLES = {
    "stream_dedup_replay": ORACLE_STREAM_DEDUP,
    "stream_interval_replay": ORACLE_STREAM_INTERVAL,
    "stream_state_replay": ORACLE_STREAM_STATE,
}
