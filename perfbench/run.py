"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_cc --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics. The line
before it holds the run's facts (input properties, repetitions, digest).
Scratch data goes to ``.bench_work/`` under the root. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract_cc", "extract_refresh")


def launch_env(work: str) -> None:
    """Environment the JVM and the Python workers inherit: the program on
    PYTHONPATH (workers do not see this process's sys.path), scratch
    space inside the checkout, one interpreter for driver and workers."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher too): temp files inside the checkout, and no
    # hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path[:0] = [ROOT, HERE]


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM and wait until it and every Python worker
    it started have exited."""
    from pyspark import SparkContext  # noqa: PLC0415

    from probe import python_workers  # noqa: PLC0415

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while python_workers(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sax_wasm_spark")):
        print(f"perfbench: no program under {ROOT} (sax_wasm_spark missing)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    launch_env(work)

    import workloads  # noqa: PLC0415

    b = workloads.Bench(args.workload, args.seed, args.seconds, work)
    try:
        metrics = (workloads.run_traced if args.trace else workloads.run_untraced)(b)
    finally:
        b.stop()
        shutdown_jvm()
    for d in os.listdir(work):
        if not d.startswith("trace-"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    b.mark("end")
    b.info["gate_errors"] = b.gate.errors
    print(json.dumps(b.info, default=str))
    print(
        json.dumps(
            {
                "correct": b.gate.ok,
                "attempted": b.attempted,
                "failed": b.gate.failed_pages,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if b.gate.ok else 1


if __name__ == "__main__":
    sys.exit(main())
