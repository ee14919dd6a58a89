"""App-scoped artifact registry: each expensive shared intermediate
(checkpointed signature and pair tables, embedding stats, replay slice
dirs, the TPC-H property graph) is built once per Spark application
and reused by every consumer.

An entry is keyed by ``(family, key)`` and belongs to the application
that built it. PySpark allows one live SparkContext per process, so
when ``applicationId`` changes every entry is dropped: a long-lived
process that recreates sessions never trusts, or retains, a dead
application's artifacts (ADVICE r6 #5). The registry stores whatever
``build()`` returns; pinning and lazy plan inspection stay with the
callers.
"""

from __future__ import annotations

from typing import Callable, Hashable, TypeVar

T = TypeVar("T")

_entries: dict[tuple[str, Hashable], object] = {}
_app: str | None = None


def memo(spark, family: str, key: Hashable, build: Callable[[], T]) -> T:
    """The ``(family, key)`` artifact of ``spark``'s application,
    built by ``build()`` on the first call. A build that raises stores
    nothing."""
    global _app
    app = spark.sparkContext.applicationId
    if app != _app:
        _entries.clear()
        _app = app
    if (family, key) not in _entries:
        _entries[family, key] = build()
    return _entries[family, key]


def clear(*families: str) -> None:
    """Drop every entry of the named families (a cold rebuild)."""
    for k in [k for k in _entries if k[0] in families]:
        del _entries[k]
