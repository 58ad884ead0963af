"""Benchmark entry point.

    python3 perfbench/run.py --workload gee_nrt --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. Each run is one process with one closed-loop
client on ``local[<cpus>]``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run's context (host steal and load, per-pass timings, errors).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separately traced run. ``--smoke`` shrinks every input so a
workload runs end to end in about a minute. The exit code is 0 only when
every operation succeeded and every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = {"gee_nrt": "gee", "corpus_curation": "corpus"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    # The package must come from this checkout, for the driver and for
    # the Python workers Spark starts (they inherit PYTHONPATH).
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    try:
        import gee_datapipeline_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package from {root}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(gee_datapipeline_spark.__file__).startswith(
            os.path.join(root, "")):
        print(f"perfbench: package not found under {root}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Keep every scratch file of Spark, Python and the JVM in the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    from harness import Harness

    workload_mod = __import__(WORKLOADS[args.workload])
    h = Harness(work, bool(args.trace), args.seconds)
    wl = workload_mod.Workload(h, args.seed, args.smoke)
    try:
        wl.run()
    finally:
        jvm = _stop(h)
    if args.trace:
        extra = wl.per_layer() if hasattr(wl, "per_layer") else {}
        metrics = h.tracer.metrics(h.timed_labels(), h.timed_passes, extra)
    else:
        metrics = {"setup_s": {"value": h.setup_s, "unit": "s"},
                   "run_s": {"value": h.run_s(), "unit": "s"}}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": h.context(), "jvm_exit": jvm}))
    correct = not h.check_errors
    print(json.dumps({"correct": correct, "attempted": h.attempted,
                      "failed": h.failed, "metrics": metrics}))
    return 0 if correct and h.failed == 0 else 1


def _stop(h) -> int | None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    h.stop()
    if gw is None:
        return None
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    try:
        return proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        return proc.wait()


if __name__ == "__main__":
    sys.exit(main())
