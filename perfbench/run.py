"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_pipeline --seed 1 --seconds 16 --trace 0

Run from the repository root.  The runner sets up its own environment
(``PYTHONPATH`` to the repository so Spark's Python workers can import
``mopper_spark``, ``SPARK_LOCAL_DIRS`` and temporary files under
``.perfbench_work/``, ``SPARK_GRAFT_CPUS`` to the usable core count), so the
command works from a clean shell.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``.  The exit code is 1 when an output check fails or the run
raises, and 2 when the ``mopper_spark`` package cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END_UNITS = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "resume_s": "s",
    "statements_per_s": "1/s",
    "link_precision": "ratio",
    "link_recall": "ratio",
}


def configure_environment(work: str) -> None:
    """Environment the library and its Spark workers need, set before the
    JVM starts: workers inherit it from the driver."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def shutdown_jvm() -> None:
    """Stop the Spark context and the gateway JVM, and wait for it to exit
    (Python workers are the JVM's children and end with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mopper_spark", "__init__.py")):
        print(f"perfbench: no mopper_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run = workloads.Run(workloads.WORKLOADS[args.workload], args.seed, work)
    t0 = time.perf_counter()
    try:
        if args.trace:
            from perfbench import traced

            metrics, units = traced.measure(run), traced.UNITS
        else:
            metrics, units = workloads.measure(run, args.seconds), END_TO_END_UNITS
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    workloads.log(f"{args.workload} seed {args.seed}: "
                  f"{time.perf_counter() - t0:.1f} s wall")

    missing = sorted(set(units) - set(metrics))
    correct = run.failed == 0 and not missing
    if missing:
        workloads.log(f"metrics not measured: {missing}")
    workloads.log(f"failed_frac {run.failed / max(run.attempted, 1):.4f} "
                  f"({run.failed} of {run.attempted} operations)")
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
