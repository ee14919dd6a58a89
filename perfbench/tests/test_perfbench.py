"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import datagen  # noqa: E402
import workloads  # noqa: E402


def test_same_seed_same_schedule():
    assert workloads.dml_schedule(7, 20) == workloads.dml_schedule(7, 20)
    assert workloads.dml_schedule(7, 20) != workloads.dml_schedule(8, 20)
    a, b = datagen.tables(7), datagen.tables(7)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["orders"].equals(datagen.tables(8)["orders"])


def test_operation_count_depends_only_on_seconds():
    n = {len(workloads.dml_schedule(s, 20)) for s in range(5)}
    assert n == {workloads.WARMUP_CYCLES + workloads.timed_count(
        20, workloads.CYCLE_REF_S)}
    keys = [c.key for c in workloads.dml_schedule(1, 60)]
    assert len(set(keys)) == len(keys)
    assert min(keys) >= datagen.N_CUST


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from graphview_spark.session import get_spark

    return get_spark("perfbench-tests", cpus=2)


def test_dml_cycle_is_net_zero(spark, tmp_path):
    from graphview_spark.graph_queries import tpch_graph
    from tracer import Tracer
    from worker import check_cycle, graph_size, run_cycle

    tables = datagen.tables(3)
    datagen.write_tables(tables, str(tmp_path))
    g = tpch_graph(spark, str(tmp_path))
    before = graph_size(g)
    customers = sorted(g.nodes["Customer"].collect())
    cyc = workloads.dml_schedule(3, 20)[0]
    rows, _, times = run_cycle(g, cyc, Tracer(spark))
    assert set(times) == set(workloads.STEPS)
    assert check_cycle(rows, cyc, tables["customer"])
    assert graph_size(g) == before
    assert sorted(g.nodes["Customer"].collect()) == customers
