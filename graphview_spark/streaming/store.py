"""Bounded streaming stores for the mergeable sketches.

Every sketch in operators/sketch.py is a ``SketchSpec`` (build, merge,
read) whose merge is lossless: merging per-batch sketches gives the
sketch of everything ever seen. So one ``foreachBatch`` sink serves
them all — HDR percentiles (count-sum), KMV distinct/overlap
(k-smallest of the union), drift bucket counts (count-sum), and HLL,
CMS and Bloom tables alike:

  1. each batch is built together with the accumulated store
     (``spec.build(..., store=)``: the batch's sketch rows union the
     store, then one ``spec.merge`` pass);
  2. ``read()`` applies the spec's estimator to the store at any
     moment, without touching any past event.

Scale posture: the store is BOUNDED (groups × sketch size — ~4k HDR
buckets, KMV_K hashes, DRIFT_BUCKETS counts per group) however many
events ever flowed, so per-batch cost is O(batch + store), never a
history rescan. Day-level stores roll up into week/month percentiles,
overlap reports (``kmv_union_report``) and PSI drift with the same
merge — statistics plain rollups cannot average — without re-reading
any snapshot.

The replay queries below are the oracle exposure: each replays a
table through stores as deterministic micro-batches (the fixed
sequence a ``foreachBatch`` sink would see), and its DuckDB oracle
computes the same answer directly from the whole table, so gate
equality is the streamed == batch claim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from graphview_spark.operators.pipeline import (
    _oracle_drift,
    drift_bucket,
    drift_report,
)
from graphview_spark.operators.sketch import (
    COUNTS,
    HDR,
    KMV,
    SketchSpec,
    _sql_hdr,
    _sql_kmv,
    _sql_kmv_rollup,
    _tokens,
    kmv_union_report,
)
from graphview_spark.plans import lazy as _lazy
from graphview_spark.session import read_table


class StreamingStore:
    """``foreachBatch``-compatible accumulator of one sketch spec.

    Usage::

        s = StreamingStore(HDR, group_cols=["event_type"],
                           value_col="value")
        q = (events_stream.writeStream.foreachBatch(s)
             .outputMode("append").start())
        ... s.read()   # HDR: group, n_rows, p50/p90/p99_micro
    """

    def __init__(self, spec: SketchSpec, group_cols: list[str],
                 value_col: str):
        self.spec = spec
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self._table: DataFrame | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        merged = self.spec.build(
            batch_df, self.group_cols, self.value_col, store=self._table)
        # eager per-batch materialization is REQUIRED, not an
        # optimization: a foreachBatch batch_df is only valid during
        # its batch, so the store must never keep lineage into one.
        # It is also the cost model — the checkpoint is the bounded
        # sketch table, so per-batch work stays O(batch + store).
        # (pin() IS that eager checkpoint; it only passes through under
        # lazy_plans(), where no stream exists and the plan audit needs
        # the full replayed lineage with zero jobs run.)
        self._table = _lazy.pin(merged)

    def table(self) -> DataFrame:
        """The accumulated sketch table."""
        if self._table is None:
            raise ValueError("no batches processed yet")
        return self._table

    def read(self) -> DataFrame:
        """The spec's estimate over the store, for the estimators that
        read the table alone (HLL, HDR, KMV, bucket counts); a CMS or
        Bloom store's ``table()`` goes to cms_estimate / bloom_probe
        with its probes."""
        return self.spec.read(self.table(), self.group_cols)


def _replayed(spec: SketchSpec, df: DataFrame, group_cols: list[str],
              value_col: str, batch_of: Column, n: int) -> StreamingStore:
    """A store fed ``df`` as ``n`` deterministic micro-batches, batch
    b being the rows where ``batch_of`` == b."""
    st = StreamingStore(spec, group_cols, value_col)
    for b in range(n):
        st(df.filter(batch_of == b), b)
    return st


HDR_REPLAY_BATCHES = 4
KMV_REPLAY_BATCHES = 4
DRIFT_REPLAY_BATCHES = 2


def q_stream_hdr_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table through an HDR store as
    HDR_REPLAY_BATCHES micro-batches (event_id mod the batch count),
    then read the final percentiles. The oracle histograms the WHOLE
    table directly: per-batch bucket tables count-sum-merged across
    checkpoints must lose nothing."""
    ev = read_table(spark, sf_dir, "events")
    return _replayed(HDR, ev, ["event_type"], "value",
                     F.col("event_id") % HDR_REPLAY_BATCHES,
                     HDR_REPLAY_BATCHES).read()


def q_stream_kmv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the token stream through a KMV store as
    KMV_REPLAY_BATCHES micro-batches (doc_id mod the batch count) and
    read the final per-language estimates. The oracle sketches the
    WHOLE corpus directly — equality proves min-merging across
    checkpoints loses nothing (k smallest of a union is associative),
    the claim that lets snapshot sketches roll up."""
    tok = _tokens(spark, sf_dir)
    return _replayed(KMV, tok, ["lang"], "w",
                     F.col("doc_id") % KMV_REPLAY_BATCHES,
                     KMV_REPLAY_BATCHES).read().select(
        "lang", "n_kept", "est_distinct")


def _two_day_stores(spec: SketchSpec, df: DataFrame, value_col: str,
                    n: int) -> list[StreamingStore]:
    """The even and odd doc_id "days" of ``df``, each replayed through
    its OWN per-language store as ``n`` micro-batches."""
    return [
        _replayed(spec, df.filter(F.col("doc_id") % 2 == day), ["lang"],
                  value_col, (F.col("doc_id") / 2).cast("long") % n, n)
        for day in (0, 1)
    ]


def q_stream_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-STORE rollup: two disjoint "day" slices each replayed
    through their own KMV store, then the two ≤ KMV_K-row stores
    min-merge into a per-language union/overlap report
    (kmv_union_report) — week-over-week overlap without re-reading any
    snapshot. The oracle sketches each day directly from the whole
    corpus and computes the same report, so equality proves per-store
    merge AND cross-store rollup are both lossless, end to end."""
    a, b = _two_day_stores(KMV, _tokens(spark, sf_dir), "w", 2)
    return kmv_union_report(a.table(), b.table(), ["lang"]).select(
        "lang", "n_kept", "matches", "est_union", "est_intersection",
        "jaccard_milli")


def q_stream_drift_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift rollup: the even/odd doc_id halves play the
    baseline/candidate snapshots, each replayed through its own
    bucket-count store; the two bounded stores full-outer-join into
    the (lang, bucket, ca, cb) table and ``drift_report`` computes the
    PSI report. The oracle computes the same report directly from the
    whole corpus — equality proves the count-sum merge and the
    two-store rollup end to end."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", drift_bucket(F.col("n_chars")).alias("bucket"))
    a, b = _two_day_stores(COUNTS, docs, "bucket", DRIFT_REPLAY_BATCHES)
    cnt = (
        a.read().withColumnRenamed("c", "ca")
        .join(b.read().withColumnRenamed("c", "cb"), ["lang", "bucket"],
              "full_outer")
        .select(
            "lang", "bucket",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    return drift_report(cnt)


EXTRA_QUERIES = {
    "stream_hdr_replay": q_stream_hdr_replay,
    "stream_kmv_replay": q_stream_kmv_replay,
    "stream_kmv_rollup": q_stream_kmv_rollup,
    "stream_drift_replay": q_stream_drift_replay,
}
EXTRA_ORACLES = {
    # each oracle is the direct whole-table computation — equality IS
    # the merge/rollup proof
    "stream_hdr_replay": _sql_hdr(),
    "stream_kmv_replay": _sql_kmv(),
    "stream_kmv_rollup": _sql_kmv_rollup(),
    "stream_drift_replay": _oracle_drift(),
}
