#!/usr/bin/env python3
"""Validation-engine benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload full_audio --seed 1 --seconds 10 --trace 0

Run from the repository root. With --trace 0 the result carries the
end-to-end metrics; with --trace 1 the per-layer metrics of a traced run,
whose spans are also written to perfbench/.traces/. Exits non-zero, printing
no result, when the engine package cannot be imported.
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


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("full_audio", "ingest_resume"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in and the Python workers the JVM
    forked, and wait until every one of those processes has ended."""
    from pyspark import SparkContext

    from perfbench.mem import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import real_time_anomaly_detection_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    # Python workers import the engine too; everything the run writes stays
    # under perfbench/.work/<pid>
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    scratch = os.path.join(HERE, ".work")
    if os.path.isdir(scratch):  # left behind by runs that were killed
        for pid in os.listdir(scratch):
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(scratch, pid), ignore_errors=True)
    work = os.path.join(scratch, str(os.getpid()))
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    from perfbench import workloads

    b = workloads.Bench(workloads.SPECS[args.workload], args.seed, args.seconds,
                        bool(args.trace), work)
    try:
        run = workloads.run_ingest if b.spec.batch_parts else workloads.run_oneshot
        e2e = run(b)
        workloads.log("measured")
        if args.trace:
            metrics = workloads.layer_metrics(b)
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            b.tr.dump(os.path.join(traces, f"{args.workload}-{args.seed}-{b.tr.run_id}.json"))
        else:
            metrics = e2e
    finally:
        if hasattr(b, "spark"):
            stop_session(b.spark)
        shutil.rmtree(work, ignore_errors=True)
        workloads.log("stopped")
    for msg in b.problems:
        print(f"perfbench: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
