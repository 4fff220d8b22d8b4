"""Build scaling report (not gated): lean and full builds pinned to 1 core
and to all cores with ``taskset``.

    python3 perfbench/scaling.py [--docs 5000] [--seed 1]

Prints one JSON line with docs/s per core count and
``build_scaling_eff`` = (docs/s at N cores / docs/s at 1 core) / N for the
full build, the north-rule metric (target >= 0.8).  Each leg runs in its
own process: Spark starts at local[k] for the k CPUs the process may use,
builds a small index first so worker start-up and JIT warm-up are not
timed, then times one lean and one full build of the seeded pages corpus.
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


def child(docs: int, seed: int, work: str) -> dict:
    sys.path.insert(1, ROOT)
    sys.path.insert(1, HERE)
    import run as bench

    from iscc_search_spark import corpus
    from iscc_search_spark.operators.build import build_index
    from iscc_search_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    args = argparse.Namespace(driver_mem="4g")
    bench._fit_host(args, work)
    spark = get_spark(
        app_name="perfbench-scaling", cores=cores, shuffle_partitions=cores,
        extra_conf=bench._spark_conf(work, trace=False),
    )
    try:
        def build(n, name, derived):
            path = os.path.join(work, f"{name}.parquet")
            corpus.write_pages(path, n, seed=seed)
            t0 = time.perf_counter()
            build_index(
                spark, spark.read.parquet(path), os.path.join(work, name),
                n_parts=cores, n_shards=cores, group_size=cores, derived=derived,
            )
            return time.perf_counter() - t0

        build(200, "warm", True)
        lean = build(docs, "lean", False)
        full = build(docs, "full", True)
    finally:
        bench._stop_spark(spark)
    return {"cores": cores, "lean_docs_per_s": docs / lean, "full_docs_per_s": docs / full}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        print(json.dumps(child(args.docs, args.seed, args.child)))
        return
    n = len(os.sched_getaffinity(0))
    legs = []
    for cpus in ("0", f"0-{n - 1}"):
        work = os.path.join(HERE, ".work", f"scaling-{os.getpid()}-{cpus}")
        os.makedirs(work)
        try:
            out = subprocess.run(
                ["taskset", "-c", cpus, sys.executable, __file__, "--docs",
                 str(args.docs), "--seed", str(args.seed), "--child", work],
                check=True, capture_output=True, text=True,
            ).stdout
        finally:
            shutil.rmtree(work, ignore_errors=True)
        legs.append(json.loads(out.strip().splitlines()[-1]))
    one, alln = legs
    print(
        json.dumps(
            {
                "docs": args.docs,
                "legs": legs,
                "build_scaling_eff": (
                    alln["full_docs_per_s"] / one["full_docs_per_s"] / alln["cores"]
                ),
                "build_lean_scaling_eff": (
                    alln["lean_docs_per_s"] / one["lean_docs_per_s"] / alln["cores"]
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
