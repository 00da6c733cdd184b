"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics. A failed operation,
or a workload that raises, is reported as ``correct: false`` with its
``failed`` count, never as a missing result line. ``--seconds`` is
accepted for the calling convention but does not set the work: a run
makes a fixed number of cycles, so every run does the same work.

Everything the run writes goes under ``.perfbench_work/`` in the
current directory; the spans of a traced run are kept there as
``traces/<workload>-<seed>.json``.

Run settings are pinned here, not taken from the caller: Spark runs
``local[nproc]`` with ``nproc`` shuffle partitions and a 4 GiB JVM heap,
and the repository root is on ``PYTHONPATH`` so Spark's Python workers
can import the package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

JVM_HEAP = "4g"
PACKAGE = "embedding_to_vectordatabase_spark"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ingest_bulk", "refresh_mixed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


def _pin_environment(root: str, work: str) -> None:
    nproc = len(os.sched_getaffinity(0))
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": JVM_HEAP,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_WAREHOUSE_DIR": f"{work}/warehouse",
        "TMPDIR": tmp,
        # no hsperfdata files in /tmp: the run writes only under work
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {root}",
              file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(root, work)

    from embedding_to_vectordatabase_spark.session import get_spark

    import workloads

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        run = workloads.Run(spark, work, args.seed, bool(args.trace),
                            args.size, t_start)
        run.metrics["session.start_s"] = time.perf_counter() - t0
        if args.trace:
            workloads.install_tracing(run)
        try:
            metrics = workloads.WORKLOADS[args.workload](run)
        except Exception:
            run.crashed()
            metrics = run.metrics
        finally:
            run.tracer.uninstall()
        if args.trace:
            metrics = workloads.layer_metrics(run)
            run.tracer.write(
                f"{base}/traces/{args.workload}-{args.seed}.json")
            units = workloads.PER_LAYER
        else:
            units = workloads.END_TO_END
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in run.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    samples = {k: [round(x, 3) for x in v] for k, v in run.samples.items()}
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"attempted={run.attempted} failed={run.failed} "
          f"error_rate={run.failed / max(run.attempted, 1)} "
          f"samples={samples}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u}
                    for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
