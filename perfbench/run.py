"""Benchmark of the autoner_spark KG-construction pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload chain_dense --seed 1 --seconds 10 \\
        --trace 0

Workloads, metrics and units are declared in BENCHMARK.json at the root.
With ``--trace 0`` the last stdout line carries the end-to-end metrics of
the run; with ``--trace 1`` a separate traced run yields the per-layer
metrics and writes its spans under perfbench/.work/traces/. The line before
it records the host, versions, source identity and the path facts the run
observed. Everything the run writes stays under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
PACKAGE = os.path.join(ROOT, "autoner_spark")


def mem_total_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap(mem_total: int) -> str:
    """A sixth of the host's memory, between 1 and 4 GiB: the local-mode
    driver JVM holds the executors too, and the rest is left to the Python
    workers, the page cache and other tenants of the host."""
    gib = min(4, max(1, mem_total // (6 * 1024 ** 3)))
    return f"{gib}g"


def source_identity() -> dict:
    """The git commit when the tree is a checkout, and always a digest of
    the package sources (benchmark checkouts are not git repositories)."""
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(PACKAGE)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the py4j gateway JVM down and wait until it and every other
    child process (the Python worker daemon and its workers) has ended."""
    from pyspark import SparkContext

    from procmem import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not descendants(os.getpid()):
            return
        time.sleep(0.05)
    raise RuntimeError("child processes still running after the JVM stopped")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        p.error(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print("perfbench: no autoner_spark package next to perfbench/",
              file=sys.stderr)
        return 2

    # Everything the run writes (JVM and Python temp files, Spark scratch,
    # inputs, traces) stays inside the checkout; Python workers find the
    # package through PYTHONPATH wherever the JVM starts them.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher and driver JVMs would otherwise write hsperfdata files
    # to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    sys.path.insert(0, ROOT)

    import numpy
    import pyarrow
    import pyspark

    from procmem import PeakPss
    from tracer import Tracer
    from workloads import Run, layer_metrics, run_workload

    mem_total = mem_total_bytes()
    cores = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:12]
    run = Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
              work=WORK, cores=cores,
              heap=driver_heap(mem_total),
              tracer=Tracer(run_id, enabled=bool(args.trace)))
    with PeakPss() as peak:
        try:
            e2e = run_workload(run, os.path.join(WORK, "inputs"))
        finally:
            stop_jvm()
    run.mark("stopped")
    e2e["peak_pss_mb"] = peak.peak_mb

    if args.trace:
        declared, values = spec["per_layer"], layer_metrics(run)
    else:
        declared, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    info = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "run_id": run_id,
        "host": {"nproc": cores, "mem_total_mb": mem_total // 1024 ** 2,
                 "driver_heap": run.heap, "slots": cores},
        "versions": {"python": sys.version.split()[0],
                     "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__},
        "source": source_identity(),
        "facts": run.facts,
    }
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        run.tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"), info)
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
