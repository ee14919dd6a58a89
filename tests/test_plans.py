"""Plan-level assertions (SURVEY §5: the analog of the reference's
GetTsqlQuery translation snapshots): filters reach the parquet scan,
columns prune, dimension joins broadcast, MATCH emits no cartesian
products, hot paths stay in whole-stage codegen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphview_spark import relational as R
from graphview_spark.plans.inspect import plan_facts, scan_reads_only
from graphview_spark.session import read_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = R.q_pricing_summary(spark, sf_dir)
    facts = plan_facts(df)
    assert any("l_shipdate" in f for f in facts.pushed_filters), facts.pushed_filters


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Q1 touches 7 of lineitem's columns; the scan must not read more."""
    df = R.q_pricing_summary(spark, sf_dir)
    assert scan_reads_only(df, {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    })


def test_dimension_joins_broadcast(spark, sf_dir):
    """Q5 shape: region/nation/supplier joins must be broadcast, and the
    plan must not produce a cartesian product."""
    df = R.q_local_supplier_volume(spark, sf_dir)
    facts = plan_facts(df)
    assert facts.n_broadcast_joins >= 3, facts
    assert facts.n_cartesian == 0


def test_match_plan_shape(spark, sf_dir):
    """2-hop MATCH compiles to equi-joins only — no cartesian products,
    no Python in the plan."""
    from graphview_spark.graph_queries import tpch_graph

    g = tpch_graph(spark, sf_dir)
    df = g.execute(
        """SELECT R.r_name AS region, COUNT(*) AS n_cust
           FROM Customer C, Nation N, Region R
           MATCH C-[FromNation]->N-[InRegion]->R
           GROUP BY R.r_name"""
    )
    facts = plan_facts(df)
    assert facts.n_joins >= 4          # 2 pattern edges = 4 equi-joins
    assert facts.n_cartesian == 0
    assert facts.n_python_evals == 0


def test_match_pushdown_filters_node_side(spark, sf_dir):
    """A single-alias WHERE predicate must appear as a Filter under the
    join, not only above it (reference AttachPredicates)."""
    from graphview_spark.graph_queries import tpch_graph
    from graphview_spark.plans.inspect import optimized_plan

    g = tpch_graph(spark, sf_dir)
    df = g.execute(
        """SELECT O.o_orderkey AS k FROM Customer C, Orders O
           MATCH C-[Placed]->O
           WHERE C.c_mktsegment = 'BUILDING'"""
    )
    plan = optimized_plan(df)
    join_pos = plan.find("Join")
    filt_pos = plan.find("BUILDING")
    assert join_pos != -1 and filt_pos != -1
    # the literal appears below (after) the topmost Join in the tree dump
    assert filt_pos > join_pos


def test_relational_surface_stays_jvm_side(spark, sf_dir):
    """No rel_* query may fall out of the JVM into Python evaluation,
    and each finalized plan runs inside whole-stage codegen. (Codegen
    spans only appear once AQE finalizes, so execute first.)"""
    for name, fn in R.QUERIES.items():
        df = fn(spark, sf_dir)
        df.collect()                      # finalize the adaptive plan
        facts = plan_facts(df)
        assert facts.n_python_evals == 0, name
        assert facts.n_codegen_spans > 0, name


def test_scalar_subquery_broadcasts(spark, sf_dir):
    df = R.q_scalar_subquery(spark, sf_dir)
    facts = plan_facts(df)
    assert facts.n_broadcast_joins >= 1
    assert facts.n_cartesian == 0


def test_node_sim_hub_cap_in_plan(spark, sf_dir):
    """q_graph_node_sim runs with the hub cap ON (the 100 TB mitigation
    for the Σ C(deg,2) self-join blowup): the cap's degree filter must
    appear in the plan of the capped edge list (inspected lazy — the
    production path materializes it once before the 3-way fan-out), and
    the gate query must actually pass the cap."""
    import inspect

    from graphview_spark import algorithms as A
    from graphview_spark.graph_queries import tpch_graph
    from graphview_spark.plans.inspect import optimized_plan
    from graphview_spark.plans.lazy import lazy_plans

    g = tpch_graph(spark, sf_dir)
    edges = g.edge_with_id("Customer.Refers")
    with lazy_plans():
        plan = optimized_plan(
            A.node_similarity(edges, max_degree=A.NODE_SIM_MAX_DEGREE)
        )
    assert f"<= {A.NODE_SIM_MAX_DEGREE}" in plan, plan[:2000]
    assert "max_degree=NODE_SIM_MAX_DEGREE" in inspect.getsource(
        A.q_graph_node_sim
    )


# ---------------------------------------------------------------------------
# Shuffle-count regression gate: the committed PLANS.md is the budget.
# A change that adds shuffles / Python evals / cartesian products to any
# registered query fails here instead of waiting for a judge round.
# Plans are built (not executed) at the SAME sf dir PLANS.md was
# generated from, so the comparison is apples-to-apples.
# ---------------------------------------------------------------------------

import os as _os
import sys as _sys

_sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
from tools import plan_audit as _pa  # noqa: E402

try:
    _PLANS_SF, _PLANS = _pa.read_committed()
except FileNotFoundError:  # fresh clone before the first audit
    _PLANS_SF, _PLANS = "/root/testdata/sf0.01", {}


@pytest.mark.parametrize("name", sorted(_PLANS))
def test_plan_budget(spark, name):
    qs = _pa.all_queries()
    if name not in qs:
        pytest.skip(f"{name} no longer registered")
    row = _pa.plan_row(spark, _PLANS_SF, name, qs[name])
    budget = _PLANS[name]
    assert row["cartesian"] == 0, f"{name}: cartesian product appeared"
    assert row["python"] <= budget["python"], (
        f"{name}: python evals {row['python']} > committed {budget['python']}"
    )
    assert row["exchanges"] <= budget["exchanges"], (
        f"{name}: shuffle exchanges {row['exchanges']} > committed "
        f"{budget['exchanges']} — re-run tools/plan_audit.py and justify "
        f"the regression, or fix the plan"
    )
