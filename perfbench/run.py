"""Benchmark launcher: one command, one workload run, one JSON line.

    python3 perfbench/run.py --workload graph_dml --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It pins the host settings (CPU count,
JVM heap, hash seed, scratch directories), starts one fresh worker
process for the run from a working directory outside the source tree,
waits for it and every process it started, removes the run's scratch
files and prints the worker's result as the last line of standard
output. Everything it writes stays under ``.perfbench_tmp/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 160


def host_state() -> dict[str, float]:
    """1-minute load average, and CPU time the hypervisor gave to other
    guests (steal) so far, in seconds summed over CPUs."""
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8])
    return {"load1": os.getloadavg()[0],
            "steal_s": steal / os.sysconf("SC_CLK_TCK")}


def host_env(run_dir: str) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of the host's memory, at most 4g: heap size sets GC
        # rhythm and retained_mb, so it is pinned, not left to defaults
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, mem_gib // 4))}g",
        "PYTHONHASHSEED": "0",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        # C1 only: with C2, compiler threads use about two of four CPUs
        # for the first ~80 s and per-operation CPU keeps falling past
        # any window a run can afford (README.md, "Host settings"); no
        # perf-data file in /tmp
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={run_dir}/warehouse",
            "pyspark-shell"]),
    })
    env.pop("SPARK_MASTER", None)
    return env


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait until
    none of it is running."""
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload not in ("graph_dml", "analytics"):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    for need in ("graphview_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the "
                  "root of a full checkout", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    sys.path.insert(0, ROOT)
    from bench import provenance

    start = host_state()
    host = {**provenance(), "load1_start": start["load1"]}
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data-dir", os.path.join(run_dir, "data"),
           "--spans-out", os.path.join(run_dir, "spans.jsonl")]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=host_env(run_dir),
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
        print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        # the worker's JVM and Python workers share its process group
        stop_group(proc.pid)
    end = host_state()
    host.update(load1_end=end["load1"],
                steal_s=round(end["steal_s"] - start["steal_s"], 2))
    spans = os.path.join(run_dir, "spans.jsonl")
    if args.trace and os.path.exists(spans):
        keep = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
        shutil.move(spans, keep)
        host["spans"] = os.path.relpath(keep, ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: worker failed (exit {proc.returncode})",
              file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(json.dumps(host), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
