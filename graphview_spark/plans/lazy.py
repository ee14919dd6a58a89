"""Materialization switch for plan inspection.

Several operators ``localCheckpoint(eager=True)`` a frame that fans out
into multiple consumers — the right call at execution time (the subtree
runs once), but it truncates the plan: an audit of the final DataFrame
sees only a scan of the checkpointed RDD, so PLANS.md would under-report
shuffles and the plan-budget regression gate would be vacuous for those
queries (and the audit itself would execute heavy jobs at plan-build
time).

``pin(df)`` is the checkpoint call sites' entry point: it materializes
normally, but inside a ``lazy_plans()`` context (used by
tools/plan_audit.py and tests/test_plans.py) it returns the frame
unchanged, so the audited plan is the FULL logical pipeline — the
worst-case plan, with every fan-out branch duplicated rather than
shared. Driver loops whose control flow needs materialized counts
(k_truss, k_core, the Pregel-style loops) are outside this mechanism;
their audited plan is the final-round plan, a documented limitation.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_LAZY = False


def is_lazy() -> bool:
    return _LAZY


def pin(df: DataFrame) -> DataFrame:
    """Materialize (localCheckpoint) — or pass through under
    ``lazy_plans()`` so plan audits see the full pipeline."""
    return df if _LAZY else df.localCheckpoint(eager=True)


def local_ckpt(df: DataFrame, eager: bool = False) -> DataFrame:
    """``localCheckpoint`` + a STATS BARRIER — the checkpoint call for
    iterative driver loops.

    Spark 4 propagates origin statistics through
    ``localCheckpoint``'s LogicalRDD, so in a loop where round k joins
    round k−1 with itself the logical ``sizeInBytes`` BigInt SQUARES
    every round: measured (sf1 SCC peel, round ~40) Catalyst spent
    MINUTES of single-threaded BigInteger.multiply per round and tens
    of GB of heap holding million-digit statistics — the planning
    itself became the scale cliff. Rebuilding the frame from the
    checkpointed internal RDD resets stats to the scan default (19
    digits, constant per round; verified by a 24-round self-join whose
    stats stay flat).

    Loops run under _loop_regime (AQE off, explicit broadcast hints),
    so the erased stats cost nothing there; outside, AQE's runtime
    sizes — not logical stats — drive its conversions. Falls back to
    the plain checkpoint if the private JVM seam moves."""
    return _barrier(df.localCheckpoint(eager=eager))[0]


def counted_ckpt(df: DataFrame) -> tuple[DataFrame, int]:
    """``local_ckpt`` that also returns the frame's row count, from the
    one job that materializes it: a lazy ``localCheckpoint`` whose
    internal RDD is counted, so a loop that stops on an empty round
    needs no second ``isEmpty()``/``count()`` job over the checkpoint.
    The returned frame reads the materialized blocks; like
    ``local_ckpt`` it ignores ``lazy_plans()``, because the caller's
    control flow needs the count."""
    d = df.localCheckpoint(eager=False)
    frame, jrdd = _barrier(d)
    return frame, (d.count() if jrdd is None else jrdd.count())


def _barrier(d: DataFrame):
    """The stats-barrier frame over checkpoint ``d``'s internal RDD, and
    that RDD (``(d, None)`` when the seam is unavailable)."""
    spark = d.sparkSession
    try:
        jrdd = d._jdf.queryExecution().toRdd()
        jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
            d.schema.json())
        jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jschema, False)
    except Exception:  # pragma: no cover - JVM-version-dependent seam
        global _BARRIER_WARNED
        if not _BARRIER_WARNED:
            _BARRIER_WARNED = True
            import warnings

            warnings.warn(
                "local_ckpt stats barrier unavailable (private JVM seam "
                "moved?) — iterative loops will compound Catalyst "
                "sizeInBytes statistics; expect planner slowdowns on "
                "deep loops", RuntimeWarning)
        return d, None
    return DataFrame(jdf, spark), jrdd


_BARRIER_WARNED = False


@contextmanager
def lazy_plans():
    global _LAZY
    prev = _LAZY
    _LAZY = True
    try:
        yield
    finally:
        _LAZY = prev
