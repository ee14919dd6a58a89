"""One benchmark run, in a fresh process started by run.py.

Sets up (session, graph load, warm-up), runs the timed operations of one
workload as a single closed-loop client, checks every answer outside the
timed region and prints one JSON result line.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import traceback
from collections import defaultdict
from statistics import geometric_mean, median

import datagen
import oracle
import workloads
from tools.check import rows_fingerprint
from tracer import Tracer

pc = time.perf_counter

E2E = {"setup_s": "s", "op_cpu_s": "s", "step_cpu_geomean_s": "s",
       "retained_mb": "MiB"}

# span name -> per-layer time metric (self time) and job-count metric
SELF_S = {
    "matching.query": "matching.query.build_s",
    "matching.pattern": "matching.pattern.parse_s",
    "matching.planner": "matching.planner.plan_s",
    "matching.paths": "matching.paths.bfs_s",
    "graph.sampling_table": "graph.sampling_table_s",
    "graph.insert_nodes": "graph.insert_nodes_s",
    "graph.insert_edges_df": "graph.insert_edges_df_s",
    "graph.update_nodes": "graph.update_nodes_s",
    "graph.delete_edges": "graph.delete_edges_s",
    "graph.delete_nodes": "graph.delete_nodes_s",
    "graph.degree": "graph.degree_s",
    "graph.checkpoint_tables": "graph.checkpoint_tables_s",
    "spark.exec": "spark.exec_s",
}
JOBS = {
    "matching.query": "matching.query.jobs",
    "matching.planner": "matching.planner.jobs",
    "matching.paths": "matching.paths.jobs",
    "graph.delete_edges": "graph.delete_edges_jobs",
    "graph.delete_nodes": "graph.delete_nodes_jobs",
    "graph.checkpoint_tables": "graph.checkpoint_tables_jobs",
}
COUNTS = ["graph.stats.calls", "graph.stats.misses", "plans.lazy.ckpt_calls",
          "plan.shuffles", "plan.broadcast_joins", "plan.sortmerge_joins",
          "plan.optimized_chars", "spark.jobs", "spark.stages", "spark.tasks",
          "spark.failed_tasks"]
PER_UNIT = sorted(SELF_S.values()) + sorted(JOBS.values()) + COUNTS


def layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "graph.load_s": "s",
             "graph.load_jobs": "count", "graph.stats.hit_ratio": "ratio",
             "jvm.heap_live_mb": "MiB", "blockmanager.used_mb": "MiB",
             "trace.overhead_s": "s", "roster.jobs_varying": "count",
             "client.op_wall_s": "s"}
    for m in PER_UNIT:
        units[m] = "s" if m.endswith("_s") else "count"
    for e in workloads.ROSTER:
        units.update({f"{e}.build_s": "s", f"{e}.exec_s": "s",
                      f"{e}.jobs": "count"})
    return units


def group_cpu_s() -> float:
    """CPU seconds used so far by every process of this run's process
    group: this client, the JVM and Spark's Python workers (the run is
    the group's leader), with the children each has reaped. Time the
    hypervisor gave to other guests is not in it."""
    pgrp = os.getpgrp()
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended
            continue
        if int(fields[2]) == pgrp:
            ticks += sum(int(x) for x in fields[11:15])  # [us]time, c[us]time
    return ticks / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall and CPU seconds of one operation."""

    def __enter__(self) -> "Clock":
        self.cpu0 = group_cpu_s()
        self.t0 = pc()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = pc() - self.t0
        self.cpu = group_cpu_s() - self.cpu0


def heap_live_mb(spark) -> float:
    """JVM heap in use after full collections. Python's collector runs
    first so that dropped DataFrames release their JVM objects, and the
    JVM collects twice around a pause in which Spark's cleaner drops the
    blocks and shuffle files those objects owned."""
    jvm = spark.sparkContext._jvm
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def blockmanager_mb(spark) -> float:
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    used = 0
    while it.hasNext():
        t = it.next()
        used += t._1() - t._2()
    return used / 2**20


def run_cycle(g, cyc: workloads.Cycle, tracer: Tracer):
    """Send one graph_dml cycle; returns the read-after-write rows, its
    DataFrame and a Clock for each step."""
    stmts = cyc.statements()
    clocks: dict[str, Clock] = {}
    for step in workloads.STEPS:
        with Clock() as clocks[step], tracer.span("step", step=step):
            if step == "checkpoint":
                g.checkpoint_tables()
            else:
                df = g.execute(stmts[step])
            if step == "read":
                with tracer.span("spark.exec"):
                    rows = df.collect()
                read_df = df
    return rows, read_df, clocks


def check_cycle(rows, cyc: workloads.Cycle, customer) -> bool:
    """The read-after-write returns exactly the two-hop walk from the
    source, including the new edge, with the updated balance on the new
    node and the generated balance everywhere else."""
    bal = dict(zip(customer["c_custkey"].to_pylist(),
                   customer["c_acctbal"].to_pylist()))
    bal[cyc.key] = cyc.acctbal + 1
    got = [(r["hops"], r["dst"]) for r in rows]
    return (sorted(got) == sorted(oracle.expected_walk(
        cyc.src, datagen.N_CUST, cyc.key))
        and all(abs(r["bal"] - bal[r["dst"]]) < 1e-6 for r in rows))


def graph_size(g) -> dict[str, int]:
    return {k: df.count() for k, df in
            sorted(list(g.nodes.items()) + list(g.edges.items()))}


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.layer: dict[str, float] = {}
        self.unit_metrics: list[dict[str, float]] = []
        self.traced_s: list[float] = []
        self.untraced_s: list[float] = []
        self.diag: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: wrong answer or error: {what}", file=sys.stderr)

    # -- tracing summaries -------------------------------------------
    def summarize_unit(self, unit: dict, frames: list) -> None:
        """Per-layer totals inside one traced unit of work."""
        from graphview_spark.plans.inspect import optimized_plan, plan_facts

        m = dict.fromkeys(PER_UNIT, 0.0)
        for sp in [unit] + self.tracer.descendants(unit):
            name = sp["name"]
            if name in SELF_S:
                m[SELF_S[name]] += self.tracer.self_s(sp)
            if name in JOBS:
                m[JOBS[name]] += sp["jobs"]
            if name == "graph.stats":
                m["graph.stats.calls"] += 1
                m["graph.stats.misses"] += sp["jobs"] > 0
            if name == "plans.lazy.ckpt":
                m["plans.lazy.ckpt_calls"] += 1
            m["spark.jobs"] += sp["jobs"]
            m["spark.stages"] += sp["stages"]
            m["spark.tasks"] += sp["tasks"]
            m["spark.failed_tasks"] += sp["failed_tasks"]
        for df in frames:
            facts = plan_facts(df)
            m["plan.shuffles"] += facts.n_shuffle_exchanges
            m["plan.broadcast_joins"] += facts.n_broadcast_joins
            m["plan.sortmerge_joins"] += facts.n_sortmerge_joins
            m["plan.optimized_chars"] += len(optimized_plan(df))
        self.unit_metrics.append(m)

    def unit_traced(self, warm: bool, j: int) -> bool:
        """In a traced run, warm-up and every even timed unit are traced
        and the odd timed units are not, so the run measures its own
        tracing overhead."""
        self.tracer.on = bool(self.args.trace) and (warm or j % 2 == 0)
        return self.tracer.on

    # -- workloads -----------------------------------------------------
    def graph_dml(self) -> list[tuple[Clock, dict[str, Clock]]]:
        from graphview_spark.graph_queries import tpch_graph

        t0 = pc()
        with self.tracer.span("setup.load") as load:
            g = tpch_graph(self.spark, self.data_dir)
        load_s = pc() - t0
        self.setup_s += load_s
        self.diag["load_s"] = round(load_s, 3)
        if self.args.trace:
            self.layer.update({
                "graph.load_s": load_s,
                "graph.load_jobs": sum(
                    s["jobs"] for s in [load] + self.tracer.descendants(load)),
            })
        before = graph_size(g)
        units = []
        schedule = workloads.dml_schedule(self.args.seed, self.args.seconds)
        for i, cyc in enumerate(schedule):
            warm = i < workloads.WARMUP_CYCLES
            traced = self.unit_traced(warm, i - workloads.WARMUP_CYCLES)
            self.attempted += 1
            with Clock() as clock, self.tracer.span("unit", cycle=i) as unit:
                rows, read_df, steps = run_cycle(g, cyc, self.tracer)
            if warm:
                self.setup_s += clock.wall
            else:
                units.append((clock, {s: steps[s] for s in workloads.JOB_STEPS}))
                (self.traced_s if traced else self.untraced_s).append(clock.wall)
                if traced:
                    self.summarize_unit(unit, [read_df])
            if not check_cycle(rows, cyc, self.tables["customer"]):
                self.fail(f"cycle {i}: read-after-write returned {rows}")
        self.tracer.on = False
        after = graph_size(g)
        if after != before:
            self.fail(f"graph size drifted: {before} -> {after}")
        self.attempted += 1
        return units

    def analytics(self) -> list[tuple[Clock, dict[str, Clock]]]:
        import __spark_entry__ as entry

        qs = {**entry.queries(), **entry.extra_queries()}
        sqls = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
        duck = oracle.DuckOracle(self.data_dir, datagen.TABLES)
        first: dict[str, str] = {}
        units = []
        jobs: dict[str, set[int]] = defaultdict(set)
        layer: dict[str, list[float]] = defaultdict(list)
        # a traced run adds a timed pass, so that two traced passes
        # bracket an untraced one
        passes = workloads.analytics_passes(self.args.seconds) + self.args.trace
        for p in range(passes):
            warm = p < workloads.WARMUP_PASSES
            traced = self.unit_traced(warm, p - workloads.WARMUP_PASSES)
            results = []
            entries: dict[str, Clock] = {}
            with Clock() as clock, self.tracer.span("unit", pass_=p) as unit:
                for name in workloads.ROSTER:
                    self.attempted += 1
                    with Clock() as entries[name], self.tracer.span(
                            "entry", entry=name) as ent:
                        with self.tracer.span("entry.build") as build:
                            df = qs[name](self.spark, self.data_dir)
                        with self.tracer.span("spark.exec") as ex:
                            rows = df.collect()
                    results.append((name, df, rows, ent, build, ex))
            if warm:
                self.setup_s += clock.wall
            else:
                units.append((clock, entries))
                (self.traced_s if traced else self.untraced_s).append(clock.wall)
            if traced and not warm:  # the cold pass also builds caches
                self.summarize_unit(unit, [r[1] for r in results])
                for name, _, _, ent, build, ex in results:
                    n_jobs = sum(s["jobs"] for s in
                                 [ent] + self.tracer.descendants(ent))
                    jobs[name].add(n_jobs)
                    layer[f"{name}.jobs"].append(n_jobs)
                    layer[f"{name}.build_s"].append(build["end"] - build["start"])
                    layer[f"{name}.exec_s"].append(ex["end"] - ex["start"])
            for name, df, rows, *_ in results:
                h = rows_fingerprint(df.columns, rows)
                if name not in first:
                    first[name] = h
                    if duck.hash(sqls[name]) != h:
                        self.fail(f"{name}: result differs from its oracle")
                elif h != first[name]:
                    self.fail(f"{name}: result changed between passes")
        self.tracer.on = False
        duck.close()
        for k, v in layer.items():
            self.layer[k] = median(v)
        self.layer["roster.jobs_varying"] = sum(
            len(v) > 1 for v in jobs.values())
        return units

    def e2e(self, units: list[tuple[Clock, dict[str, Clock]]]) -> dict:
        """The median over the timed units (a cycle, or a pass) of their
        CPU seconds, and the geometric mean over the steps (statements
        that run jobs, or roster entries) of each step's median CPU
        seconds. Wall seconds of both go to standard error."""
        steps = list(units[0][1])
        for key in ("wall", "cpu"):
            self.diag[f"unit_{key}_s"] = [round(getattr(u, key), 3)
                                          for u, _ in units]
            self.diag[f"step_{key}_s"] = {
                k: round(median(getattr(s[k], key) for _, s in units), 3)
                for k in steps}
        return {
            "op_cpu_s": median(u.cpu for u, _ in units),
            "step_cpu_geomean_s": geometric_mean(
                median(s[k].cpu for _, s in units) for k in steps),
        }

    # -- run -----------------------------------------------------------
    def main(self) -> dict:
        args = self.args
        self.data_dir = args.data_dir
        self.tables = datagen.tables(args.seed)
        datagen.write_tables(self.tables, self.data_dir)

        t0 = pc()
        import __spark_entry__ as entry  # imports every package layer

        entry.queries()
        from graphview_spark.session import get_spark

        self.spark = get_spark("perfbench")
        session_s = pc() - t0
        self.tracer = Tracer(self.spark)
        if args.trace:
            self.tracer.install()
        self.tracer.on = bool(args.trace)
        self.setup_s = session_s
        if args.trace:
            self.layer["session.start_s"] = session_s

        self.diag["session_s"] = round(session_s, 3)
        t2 = pc()
        units = getattr(self, args.workload)()
        self.diag["workload_s"] = round(pc() - t2, 3)
        e2e = self.e2e(units)
        e2e["setup_s"] = self.setup_s
        e2e["retained_mb"] = heap_live_mb(self.spark)
        if not args.trace:
            metrics = e2e
        else:
            metrics = dict.fromkeys(layer_units(), 0.0)
            metrics.update(self.layer)
            for m in PER_UNIT:
                metrics[m] = median([u[m] for u in self.unit_metrics])
            calls = metrics["graph.stats.calls"]
            metrics["graph.stats.hit_ratio"] = (
                1 - metrics["graph.stats.misses"] / calls if calls else 0.0)
            metrics["jvm.heap_live_mb"] = e2e["retained_mb"]
            metrics["blockmanager.used_mb"] = blockmanager_mb(self.spark)
            metrics["trace.overhead_s"] = (median(self.traced_s)
                                           - median(self.untraced_s))
            metrics["client.op_wall_s"] = median(self.untraced_s)
            self.tracer.dump(args.spans_out)
        units = E2E if not args.trace else layer_units()
        t3 = pc()
        self.spark.stop()
        self.diag["stop_s"] = round(pc() - t3, 3)
        print("perfbench: " + json.dumps(self.diag), file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["graph_dml", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--spans-out", required=True)
    args = ap.parse_args()
    try:
        result = Run(args).main()
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
