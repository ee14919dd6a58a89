"""Layer tracing from outside the package.

``Tracer.install`` wraps the public functions of each package layer in
spans. A span records its name, parent, start and end, and the Spark
jobs launched while it was the innermost open span: every span sets its
own job group, and ``statusTracker`` (which works with the UI disabled)
maps groups to jobs, stages and tasks. Spans stay in memory and are
written out once, at the end of the run.

Wrapping replaces a function in its defining module and in every
``graphview_spark`` module that bound it at import time (for example
``matching.query`` imports ``plan_match`` and ``parse_match_paths`` by
name), so calls through either name are seen.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

# (module, attribute, span name). Attributes with a dot are methods.
LAYERS = [
    ("graphview_spark.graph_queries", "tpch_graph", "graph.load"),
    ("graphview_spark.matching.query", "execute_statement", "matching.query"),
    ("graphview_spark.matching.pattern", "parse_match_paths",
     "matching.pattern"),
    ("graphview_spark.matching.planner", "plan_match", "matching.planner"),
    ("graphview_spark.matching.paths", "var_length_paths", "matching.paths"),
    ("graphview_spark.graph", "GraphDatabase.edge_count", "graph.stats"),
    ("graphview_spark.graph", "GraphDatabase.node_count", "graph.stats"),
    ("graphview_spark.graph", "GraphDatabase.edge_histogram_rows",
     "graph.stats"),
    ("graphview_spark.graph", "GraphDatabase.sampling_table",
     "graph.sampling_table"),
    ("graphview_spark.graph", "GraphDatabase.insert_nodes",
     "graph.insert_nodes"),
    ("graphview_spark.graph", "GraphDatabase.insert_nodes_df",
     "graph.insert_nodes"),
    ("graphview_spark.graph", "GraphDatabase.insert_edges_df",
     "graph.insert_edges_df"),
    ("graphview_spark.graph", "GraphDatabase.update_nodes",
     "graph.update_nodes"),
    ("graphview_spark.graph", "GraphDatabase.update_nodes_from",
     "graph.update_nodes"),
    ("graphview_spark.graph", "GraphDatabase.delete_edges",
     "graph.delete_edges"),
    ("graphview_spark.graph", "GraphDatabase.delete_nodes",
     "graph.delete_nodes"),
    ("graphview_spark.graph", "GraphDatabase.delete_nodes_df",
     "graph.delete_nodes"),
    ("graphview_spark.graph", "GraphDatabase.out_degree", "graph.degree"),
    ("graphview_spark.graph", "GraphDatabase.in_degree", "graph.degree"),
    ("graphview_spark.graph", "GraphDatabase.checkpoint_tables",
     "graph.checkpoint_tables"),
    ("graphview_spark.plans.lazy", "pin", "plans.lazy.ckpt"),
    ("graphview_spark.plans.lazy", "local_ckpt", "plans.lazy.ckpt"),
]


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "group": f"perfbench-{len(self.spans)}", "kids": [], **attrs}
        if parent is not None:
            parent["kids"].append(sp["id"])
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(sp)

    def _count_jobs(self, sp: dict) -> None:
        jobs = stages = tasks = failed = 0
        for jid in self.tracker.getJobIdsForGroup(sp["group"]):
            info = self.tracker.getJobInfo(jid)
            jobs += 1
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        sp.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    # -- wrapping ------------------------------------------------------
    def install(self) -> None:
        mods = {m: importlib.import_module(m) for m, _, _ in LAYERS}
        for mod_name, attr, span_name in LAYERS:
            self._wrap(mods[mod_name], attr, span_name)

    def _wrap(self, mod, attr: str, span_name: str) -> None:
        owner = mod
        *path, fn_name = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        orig = getattr(owner, fn_name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(owner, fn_name, traced)
        if path:
            return
        for name, other in list(sys.modules.items()):
            if name.startswith("graphview_spark") and other is not mod:
                if getattr(other, fn_name, None) is orig:
                    setattr(other, fn_name, traced)

    # -- summaries -----------------------------------------------------
    def children(self, sp: dict) -> list[dict]:
        return [self.spans[i] for i in sp["kids"]]

    def descendants(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_s(self, sp: dict) -> float:
        kids = sum(k["end"] - k["start"] for k in self.children(sp))
        return sp["end"] - sp["start"] - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")
