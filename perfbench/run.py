#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 5 --trace 0

Runs one workload of ``perfbench/workloads.py`` against the engine in this
checkout, measures it for ``--seconds``, checks every output, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs the traced
variant and reports the per-layer metrics (spans go to
``.perfbench_work/traces/``). Names and units are the ones in
``BENCHMARK.json``. Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("curate", "rag_build", "rag_serve")


def _configure_env(work: str) -> None:
    """Point every scratch location at ``work`` and make the engine
    importable here and in the Python workers. Must run before
    pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # job/stage info for the traced run's statusTracker reads; set in
        # both modes so traced and untraced runs share one configuration
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    # a fixed set of JIT compiler threads, so none exits and takes its CPU
    # time into the JVM's total (tree_cpu_s leaves the live ones out)
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{args} --driver-java-options '{jvm}' pyspark-shell"
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--docs", type=int, default=None,
        help="corpus size override for smoke tests (default: the workload's)",
    )
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rag_content_spark")):
        print(
            f"perfbench: no engine sources at {ROOT}/rag_content_spark",
            file=sys.stderr,
        )
        return 2

    # no pid in the path: document ids hash the file paths, so a fixed
    # path keeps a seed's engine inputs identical from run to run
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    try:
        import workloads
        from common import Run

        run = Run(args, work, os.path.join(WORK_ROOT, "traces"))
        try:
            getattr(workloads, args.workload)(run)
            result = run.result()
        finally:
            run.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
