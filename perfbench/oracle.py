"""Answer checking, always outside the timed region.

Rows are compared as an order-insensitive hash over cells rendered with
columns in name order: ``rows_fingerprint`` of the package's own oracle
gate (``tools/check.py``), so a Spark result and a DuckDB result of the
same query hash equal.
"""

from __future__ import annotations

import os

from tools.check import rows_fingerprint


class DuckOracle:
    """DuckDB over the run's generated parquet tables."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def hash(self, sql: str) -> str:
        rel = self.con.sql(sql)
        return rows_fingerprint(list(rel.columns), rel.fetchall())

    def close(self) -> None:
        self.con.close()


def refers_children(key: int, n_cust: int) -> list[int]:
    """Sinks of ``key`` in the package's Refers tree (k -> 2k, 2k+1)."""
    return [c for c in (2 * key, 2 * key + 1) if key < c < n_cust]


def expected_walk(src: int, n_cust: int, extra: int) -> set[tuple[int, int]]:
    """(hops, dst) rows of ``Refers*1..2`` from ``src`` after the cycle
    added the edge ``src -> extra``."""
    first = refers_children(src, n_cust) + [extra]
    second = [c for k in first for c in refers_children(k, n_cust)]
    return {(1, k) for k in first} | {(2, k) for k in second}
