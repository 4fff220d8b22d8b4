"""spark-ftse benchmark: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 4 --trace 0

Run it from the repository root.  It builds its inputs from ``--seed``,
drives the engine in ``iscc_search_spark/`` through its public functions,
checks every output against an oracle after the timed phase, and prints as
its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the per-layer ones (spans around engine calls plus Spark
job and stage metrics).  Each run also writes a side-car JSON with every
figure it took to ``perfbench/.work/results/``.

Host fitting: Spark runs at local[N] with N the CPUs this process may use
(``taskset`` aware), the driver heap is ``--driver-mem`` (through the
engine's SPARK_DRIVER_MEM), and spill, temp and warehouse files go under
``perfbench/.work/`` inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "batch_s": "s",
    "pipeline_s": "s",
}


def _host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1)}


def _fit_host(args, run_dir: str) -> None:
    """Environment for Spark and its workers, set before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_DRIVER_MEM"] = args.driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM writes its perf-data file to /tmp unless told not to
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def _spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
    }
    if trace:
        # the local UI's REST API is where job and stage metrics are read
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "100",
            }
        )
    return conf


def _stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="4g")
    args = ap.parse_args()

    sys.path.insert(1, ROOT)
    import layers
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _fit_host(args, run_dir)
        from iscc_search_spark.session import get_spark

        host = _host()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}", cores=host["nproc"],
            shuffle_partitions=host["nproc"],
            extra_conf=_spark_conf(run_dir, bool(args.trace)),
        )
        try:
            tracer = tracing.Tracer(spark.sparkContext) if args.trace else tracing.NullTracer()
            undo = tracing.instrument(tracer) if args.trace else []
            run = workloads.Run(
                spark, tracer, args.seed, args.seconds,
                os.path.join(run_dir, "data"), host["nproc"], T_START,
            )
            os.makedirs(run.work)
            try:
                e2e = workloads.WORKLOADS[args.workload](run)
            finally:
                tracing.uninstrument(undo)
            run.run_checks()
            per_layer = None
            if args.trace:
                jobs = tracing.spark_jobs(spark)
                per_layer = layers.layer_metrics(
                    tracer.spans, jobs, run.measured, run.extra
                )
                run.detail["uncovered_s"] = layers.uncovered(
                    tracer.spans, jobs, run.measured
                )
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": v, "unit": layers.LAYER_METRICS[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    side = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "driver_mem": args.driver_mem,
        "end_to_end": e2e, "detail": run.detail, "per_layer": per_layer,
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors[:50],
        "wall_s": time.time() - T_START,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(side, f, indent=1)
    for e in run.errors[:20]:
        print(f"# error: {e}")
    print(f"# host: {json.dumps(host)} detail: {json.dumps(run.detail)}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
