"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Runs one workload in this process, checks its outputs, and prints as
the last line of stdout one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The lines before it give
each metric with its unit and a ``detail`` record (settings, library
versions, load average, sample counts, warm-up curves).

Exits 1 when an operation or output check failed (the result line says
``"correct": false``), and non-zero without a result line when the
engine cannot be imported or the workload aborts. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("interactive", "corpus_batch", "graph_build")
DRIVER_MEM = "1g"


def hermetic_env(work: str) -> dict:
    """Pin everything the engine reads from the environment, before the
    engine or pyspark is imported, and point every scratch location at
    this run's work dir."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        # Python workers start from the JVM, not this interpreter: they
        # find the engine only through PYTHONPATH
        "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_STAGE_DIR": os.path.join(work, "stage"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the spark-submit launcher JVM: no hsperfdata file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "OMP_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable,
    }
    for var in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_BUCKETS",
                "SPARK_GRAFT_SF_DIR", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ.update(env)
    for var in ("SPARK_GRAFT_STAGE_DIR", "SPARK_GRAFT_WAREHOUSE", "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[var], exist_ok=True)
    sys.path.insert(0, ROOT)
    return env


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass


def versions() -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "numpy": numpy.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    args = ap.parse_args(argv)

    start = time.perf_counter()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    env = hermetic_env(work)
    try:
        import procoggraph_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        remove_work(work)
        return 2
    from perfbench import workloads
    from perfbench.trace import Tracer

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    h = workloads.Harness(args.workload, args.seed, args.seconds, work, tracer)
    try:
        getattr(workloads, args.workload)(h)
        metrics = h.per_layer() if args.trace else h.end_to_end()
    except Exception as exc:
        import traceback

        traceback.print_exc()
        print(f"perfbench: {args.workload} aborted: {exc}", file=sys.stderr)
        return 1
    finally:
        h.stop_spark()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        if args.spans and args.trace:
            tracer.dump(args.spans)
        remove_work(work)

    h.detail.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        settings={k: v for k, v in env.items() if k.startswith(("SPARK", "PYTHONPATH"))},
        versions=versions(), loadavg=list(os.getloadavg()),
        failures=h.failures[:20], wall_s=round(time.perf_counter() - start, 3),
    )
    failed = len(h.failures)
    h.detail["failed_ratio"] = failed / max(1, h.attempted)
    for name, (value, unit) in metrics.items():
        print(f"{name:32s} {value:14.4f} {unit}")
    print(f"{'failed_ratio':32s} {h.detail['failed_ratio']:14.4f} "
          f"(failed {failed} of {h.attempted} attempted)")
    print(json.dumps({"detail": h.detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": h.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    if failed:
        print(f"perfbench: {failed} failed operations: {h.failures[:3]}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
