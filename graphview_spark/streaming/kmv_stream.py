"""Streaming distinct/overlap estimates via the KMV sketch.

The KMV sketch (operators/sketch.py) is the set-operation sibling of
the HDR rollup's count-sum merge: per-batch sketches MIN-MERGE — the k
smallest of (store ∪ batch sketch) equals the sketch of everything
ever seen, exactly — so a ``foreachBatch`` sink can maintain streaming
distinct-count (and, via two stores, overlap/Jaccard) estimates with a
store bounded at KMV_K rows per group FOREVER:

  1. each batch sketches together with the accumulated store
     (``kmv_sketch(..., store=)``: the batch's hashes union the store,
     then the k smallest distinct per group) — one pass, the same
     store as sketching the batch and then min-merging it;
  2. ``estimate()`` reads current per-group distinct estimates from
     the store at any moment without touching any past event.

Scale posture mirrors hdr_stream: per-batch cost is O(batch + store),
each merge materializes to one tiny localCheckpoint (mandatory — a
foreachBatch frame is only valid during its batch), and day-level
sketch stores roll up into week/month overlap reports with the same
min-merge — cross-snapshot dedup pressure measured without ever
re-reading a snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphview_spark.operators.sketch import (
    _sql_kmv,
    _sql_kmv_rollup,
    kmv_estimate,
    kmv_sketch,
)
from graphview_spark.plans import lazy as _lazy


class StreamingKmv:
    """``foreachBatch``-compatible distinct-estimate tracker.

    Usage::

        k = StreamingKmv(spark, group_cols=["lang"], value_col="w")
        q = (tokens_stream.writeStream.foreachBatch(k)
             .outputMode("append").start())
        ... k.estimate()   # DataFrame: group..., n_kept, est_distinct
    """

    def __init__(self, spark, group_cols: list[str], value_col: str):
        self.spark = spark
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self._store: DataFrame | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        merged = kmv_sketch(
            batch_df, self.group_cols, self.value_col, store=self._store)
        # eager per-batch materialization is REQUIRED (foreachBatch
        # frame validity) and is the cost model: the checkpoint is the
        # ≤ KMV_K-row sketch store. pin() passes through only under
        # lazy_plans(), where the audit needs full replayed lineage.
        self._store = _lazy.pin(merged)

    def sketch_store(self) -> DataFrame:
        if self._store is None:
            raise ValueError("no batches processed yet")
        return self._store

    def estimate(self) -> DataFrame:
        """Current per-group distinct estimates from the store."""
        return kmv_estimate(self.sketch_store(), self.group_cols)


KMV_REPLAY_BATCHES = 4


def q_stream_kmv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle exposure for the streaming min-merge: replay the token
    stream through StreamingKmv as KMV_REPLAY_BATCHES deterministic
    micro-batches (doc_id mod the batch count) and read the final
    per-language estimates. The DuckDB oracle sketches the WHOLE
    corpus directly — equality proves min-merging per-batch sketches
    across checkpoints loses nothing (k smallest of a union is
    associative), the claim that lets snapshot sketches roll up."""
    from graphview_spark.operators.sketch import _tokens

    tok = _tokens(spark, sf_dir)
    k = StreamingKmv(spark, ["lang"], "w")
    for b in range(KMV_REPLAY_BATCHES):
        k(tok.filter(F.col("doc_id") % KMV_REPLAY_BATCHES == b), b)
    return k.estimate().select("lang", "n_kept", "est_distinct")


def q_stream_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-STORE rollup the day-level sketch stores promise
    (VERDICT r11 "Next #3": week-over-week overlap without re-reading
    any snapshot, previously evidenced only by the single-store
    replay): two disjoint "day" slices (doc_id % 2) each replayed
    through its OWN StreamingKmv store as two deterministic
    micro-batches, then the two ≤ KMV_K-row stores min-merge into a
    per-language union/overlap report (kmv_union_report). The oracle
    sketches each day directly from the whole corpus and computes the
    same report — equality proves per-store merge AND cross-store
    rollup are both lossless, end to end."""
    from graphview_spark.operators.sketch import _tokens, kmv_union_report

    tok = _tokens(spark, sf_dir)
    stores = []
    for day in (0, 1):
        st = StreamingKmv(spark, ["lang"], "w")
        day_tok = tok.filter(F.col("doc_id") % 2 == day)
        for b in range(2):
            st(day_tok.filter((F.col("doc_id") / 2).cast("long") % 2 == b), b)
        stores.append(st)
    return kmv_union_report(
        stores[0].sketch_store(), stores[1].sketch_store(), ["lang"]
    ).select("lang", "n_kept", "matches", "est_union",
             "est_intersection", "jaccard_milli")


EXTRA_QUERIES = {
    "stream_kmv_replay": q_stream_kmv_replay,
    "stream_kmv_rollup": q_stream_kmv_rollup,
}
EXTRA_ORACLES = {
    # direct whole-corpus sketch — equality proves the min-merge
    "stream_kmv_replay": _sql_kmv(),
    # direct per-day sketches + the same rollup — proves store merge
    # and cross-store union rollup together
    "stream_kmv_rollup": _sql_kmv_rollup(),
}
