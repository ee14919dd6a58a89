"""Phase breakdown for graph_scc at a given SF dir: wraps the edge
collect, driver labelling, trim, peel rounds and FB fixpoint helpers
with timers so a reading decomposes into named phases.

Usage: python tools/probe_scc_phases.py /root/repo/.testdata/sf1
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import graphview_spark.algorithms as A
from graphview_spark.session import get_spark

CALLS: dict[str, list[float]] = {}


def wrap(name: str):
    orig = getattr(A, name)

    def timed(*a, **k):
        t0 = time.time()
        try:
            return orig(*a, **k)
        finally:
            CALLS.setdefault(name, []).append(time.time() - t0)

    setattr(A, name, timed)


def main() -> None:
    sf_dir = sys.argv[1]
    spark = get_spark("probe-scc")
    for n in ("_collect_edges", "_scc_labels", "_scc_on_driver",
              "_scc_trim", "_scc_peel_rounds", "_propagate_fb", "_scc_peel"):
        wrap(n)
    t0 = time.time()
    n = A.q_graph_scc(spark, sf_dir).count()
    total = time.time() - t0
    print(f"total {total:.2f}s rows={n}")
    for name, times in sorted(CALLS.items()):
        print(f"  {name}: n={len(times)} sum={sum(times):.2f}s "
              f"each={[round(t, 2) for t in times[:12]]}")


if __name__ == "__main__":
    main()
