"""perfbench: the repository benchmark for share_spark.

    python3 perfbench/run.py --workload fresh --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Builds nothing: it imports share_spark
from the checkout, starts one local[4] Spark session, runs one seeded
workload (see lifecycle.py), checks every answer, and prints one JSON line
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics, from spans the benchmark records around each call into
an engine layer (written to perfbench/.out/).

Everything a run writes stays under perfbench/: the corpus cache in
.cache/, the run-private scratch (indexes, Spark local dirs, temp files)
in .work/, removed when the run ends, and the run record and spans in
.out/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
# every run sets the same Spark heap through the engine's own knob;
# get_spark's default (48g) exceeds a 15 GB box
HEAP = "4g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="corpus size (default: lifecycle.DEFAULT_DOCS)")
    return p.parse_args(argv)


def _private_env(work: str) -> None:
    """Point every scratch location of the session into the run dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp


def _shm_used() -> int | None:
    try:
        return shutil.disk_usage("/dev/shm").used
    except OSError:
        return None


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _environment(spark) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark_cores": spark.sparkContext.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# untraced runs append their measured wall here; a traced run's tracing
# overhead is its wall minus the median of those of the same workload+size
WALLS = os.path.join(CACHE, "walls.jsonl")


def _record_wall(key: dict, wall: float) -> None:
    os.makedirs(CACHE, exist_ok=True)
    with open(WALLS, "a") as f:
        f.write(json.dumps({**key, "wall": wall}) + "\n")


def _untraced_wall(key: dict) -> float | None:
    if not os.path.exists(WALLS):
        return None
    with open(WALLS) as f:
        walls = [r["wall"] for r in map(json.loads, f)
                 if {k: r.get(k) for k in key} == key]
    return statistics.median(walls) if walls else None


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lifecycle  # imports share_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in lifecycle.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have "
              f"{sorted(lifecycle.WORKLOADS)}", file=sys.stderr)
        return 2
    from tracing import Tracer

    docs = args.docs or lifecycle.DEFAULT_DOCS
    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK)
    shm_before = _shm_used()
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        _private_env(work)
        from share_spark.session import get_spark

        t = time.perf_counter()
        with tracer.span("get_spark", lifecycle.L_SESSION):
            spark = get_spark("perfbench", cores=lifecycle.CORES)
        session_s = time.perf_counter() - t
        env = _environment(spark)
        run = lifecycle.Run(spark, tracer, args.workload, args.seed,
                            args.seconds, docs, work, CACHE)
        wall = run.execute(session_s)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = run.e2e
    key = {"workload": args.workload, "docs": docs, "seconds": args.seconds}
    if args.trace:
        ref = _untraced_wall(key)
        over = wall - ref if ref is not None else tracer.bookkeeping_s
        run.layer["trace.overhead_s"] = (over, "s")
        run.layer["trace.wall_s"] = (wall, "s")
        metrics = run.layer
        tracer.write(os.path.join(
            OUT, f"spans-{args.workload}-s{args.seed}.jsonl"))
    else:
        _record_wall(key, wall)

    result = {
        "correct": run.gate.failed == 0,
        "attempted": run.gate.attempted,
        "failed": run.gate.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }
    record = {
        "args": vars(args),
        "docs": docs,
        "environment": env,
        "shm_used_before": shm_before,
        "shm_used_after": _shm_used(),
        "samples": run.samples,
        "measured_wall_s": wall,
        "errors": run.gate.errors,
        "result": result,
    }
    with open(os.path.join(
        OUT, f"run-{args.workload}-s{args.seed}-t{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in
                      ("environment", "samples", "errors")}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
