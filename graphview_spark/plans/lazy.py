"""The three materialization calls, and the plan-inspection switch.

- ``pin(df)`` — fan-out: a frame read by several consumers is
  materialized once. Inside ``lazy_plans()`` (tools/plan_audit.py,
  tests/test_plans.py) it passes the frame through, so the audit sees
  the FULL pipeline — the worst-case plan, every fan-out branch
  duplicated — and runs no job.
- ``local_ckpt(df)`` — a driver loop's per-round checkpoint when the
  loop reads no size: a lazy ``localCheckpoint`` behind a stats
  barrier; its rows fill in the first job that reads it.
- ``counted_ckpt(df)`` — the checkpoint of a loop whose control flow
  reads a size: one job materializes and counts the frame, so no
  ``isEmpty()``/``count()`` follows.

Both loop checkpoints ignore ``lazy_plans()`` (a loop cannot plan
without cutting its rounds), so a looping query's audited plan is its
final-round plan, a documented limitation. Lazy is not free under AQE:
the barrier's ``toRdd()`` plans the frame adaptively, which runs its
shuffle stages at once, so each round's shuffle jobs launch while the
caller builds the frame.
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


# perfbench/tracer.py wraps local_ckpt and pin by name: keep both names.
def local_ckpt(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` + a STATS BARRIER — the per-round
    checkpoint of a driver loop that reads no size.

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
    return _barrier(df.localCheckpoint(eager=False))[0]


def counted_ckpt(df: DataFrame) -> tuple[DataFrame, int]:
    """``local_ckpt`` that also returns the frame's row count, from the
    one job that materializes it: the barrier's internal RDD is
    counted, so a loop that stops on an empty round or a fixed size
    needs no second ``isEmpty()``/``count()`` job over the checkpoint.
    The returned frame reads the materialized blocks."""
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
