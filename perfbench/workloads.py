"""Deterministic schedules: the operations a run sends, made from the seed.

Nothing here touches Spark, so the schedules can be checked without a
session. Operation counts depend only on ``--seconds`` (through the
reference costs below), never on how fast a run goes, so every run of a
workload does the same work.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from datagen import N_CUST, SEGMENTS

# Reference wall time of one warm timed unit on a 4-CPU host, used only
# to turn --seconds into an operation count.
CYCLE_REF_S = 4.0
PASS_REF_S = 8.5

# Warm-up sized from measured per-operation curves (README.md,
# "Warm-up"): cycle times, and pass times, stop falling after the
# first two.
WARMUP_CYCLES = 2
WARMUP_PASSES = 2

# Operator entries timed by `analytics`, in pass order.
ROSTER = ["graph_scc", "sketch_cms_counts", "stream_kmv_rollup"]

# Statements of one graph_dml cycle, in order; READ is the
# read-after-write and the last step compacts lineage.
STEPS = ["insert_node", "insert_edge", "update", "read",
         "delete_edge", "delete_node", "checkpoint"]
# Statements that run Spark jobs themselves; the others only extend
# lazy plans, whose cost lands in these.
JOB_STEPS = ["read", "delete_edge", "delete_node", "checkpoint"]


@dataclass(frozen=True)
class Cycle:
    src: int        # existing customer that gains and loses an edge
    key: int        # fresh customer key, inserted then deleted
    acctbal: float  # the new customer's balance before the UPDATE
    segment: str

    def statements(self) -> dict[str, str]:
        s, k = self.src, self.key
        pair = (f"FROM Customer a, Customer b "
                f"WHERE a.c_custkey = {s} AND b.c_custkey = {k}")
        return {
            "insert_node": (
                "INSERT INTO Customer (c_custkey, c_name, c_mktsegment, "
                f"c_acctbal) VALUES ({k}, 'Bench#{k}', '{self.segment}', "
                f"{self.acctbal})"),
            "insert_edge": f"INSERT EDGE INTO Customer.Refers SELECT a, b {pair}",
            "update": ("UPDATE Customer SET c_acctbal = c_acctbal + 1 "
                       f"WHERE c_custkey = {k}"),
            "read": ("SELECT P.hops AS hops, B.c_custkey AS dst, "
                     "B.c_acctbal AS bal FROM Customer A, Customer B "
                     "MATCH A-[Refers*1..2 AS P]->B "
                     f"WHERE A.c_custkey = {s}"),
            "delete_edge": f"DELETE EDGE [a]-[Refers]->[b] {pair}",
            "delete_node": f"DELETE NODE FROM Customer WHERE c_custkey = {k}",
        }


def timed_count(seconds: int, ref_s: float) -> int:
    return max(1, round(seconds / ref_s))


def dml_schedule(seed: int, seconds: int) -> list[Cycle]:
    """Warm-up cycles followed by the timed cycles. Every source has two
    children in the Refers tree, and every inserted key is new."""
    rng = np.random.default_rng([seed, 1])
    n = WARMUP_CYCLES + timed_count(seconds, CYCLE_REF_S)
    srcs = rng.integers(1, N_CUST // 2, n)
    bals = np.round(rng.uniform(0, 1000, n), 2)
    segs = rng.integers(0, len(SEGMENTS), n)
    return [Cycle(int(srcs[i]), N_CUST + 1 + i, float(bals[i]),
                  SEGMENTS[int(segs[i])]) for i in range(n)]


def analytics_passes(seconds: int) -> int:
    """Warm-up passes plus timed passes over ROSTER."""
    return WARMUP_PASSES + timed_count(seconds, PASS_REF_S)
