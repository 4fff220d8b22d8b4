"""Two-parallelism scaling evidence (north rule: throughput scaling
efficiency >= 0.8 from N to 4N executors; no real cluster in this sandbox,
so the same job runs at two cluster sizes emulated on one box — per the
driver instruction).

Faithful cluster-size emulation — two details matter on a single box:

1. **CPU pinning.** ``local[N]`` caps concurrent TASKS, not CPUs: every
   task slot drives a JVM thread AND an Arrow python worker, so an
   unpinned "local[4]" burns ~8 vCPUs and overstates the small cluster's
   throughput (deflating measured efficiency).  Each leg therefore runs in
   its own subprocess under ``taskset -c 0-(N-1)`` — the N-executor leg
   really gets N CPUs, like N single-core executors would.
2. **Noise discipline.** Host timings vary up to ~45% between minutes
   (CPU-steal bursts).  Legs ALTERNATE across ``rounds`` passes and the
   report takes per-leg CAPABILITY (minimum build time, minimum
   query-batch time) — each leg gets an equal shot at quiet windows, and
   capability is the quantity a throughput SLO describes.  All raw
   per-round times are printed.

Storage: point TMPDIR (and SPARK_LOCAL_DIRS) at /dev/shm to measure the
JOB's scaling rather than the sandbox's single shared virtio disk — on a
real N -> 4N cluster, disks and network paths scale with the executors,
tmpfs is the faithful stand-in.  (Runs on /tmp measure the same job
against one fixed-bandwidth disk; BASELINE.md records both.)

The job structure is IDENTICAL at both levels (n_parts / n_shards /
shuffle partitions fixed); only the CPU count changes.

Usage: python BENCH/scaling.py [n_docs] [n_low] [n_high] [rounds]
Prints one JSON line; BENCH/BASELINE.md is maintained by hand from these
runs (it carries the analysis narrative).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PARTS = 128
N_SHARDS = 32
SHUFFLE = 128
N_QUERIES = 5000
# Overlap depth tuned by the round-5 saturation sweep (100k docs,
# pinned 16 cores): 5000-query batches beat 2500 at every depth (larger
# batches amortize per-batch stage bubbles), and with enough batches in
# flight deeper overlap helps (2500x6: conc 6 = 818 q/s vs conc 3 =
# 585 q/s).  conc must be <= n_batches or the extra threads idle.
SUSTAINED_BATCHES = int(os.environ.get("SUSTAINED_BATCHES", "4"))
SUSTAINED_CONC = int(os.environ.get("SUSTAINED_CONC", "4"))


def run_leg(cores: int, pages_path: str, work: str) -> dict:
    """One pass at one parallelism level: 1 fresh build + 3 query batches."""
    from iscc_search_spark import corpus
    from iscc_search_spark.config import EngineConfig
    from iscc_search_spark.operators.build import build_index
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_batch
    from iscc_search_spark.session import get_spark

    # 5000 queries: the throughput measurement must be dominated by scoring
    # work, not per-job scheduling overhead (which is a constant both
    # levels share and a real cluster amortizes the same way) — this is
    # saturation throughput, the quantity the north rule's q/s metric means
    queries = dict(enumerate(corpus.generate_queries(N_QUERIES)))
    spark = get_spark(app_name=f"scaling-{cores}", cores=cores, shuffle_partitions=SHUFFLE)
    try:
        # prewarm the Arrow python workers (fork + numpy/pandas import,
        # ~2 s for 16 workers) BEFORE timing: the SLO describes steady-state
        # throughput of a warm cluster, and an N-vs-4N comparison would
        # otherwise charge the larger cluster 4x the one-time fork cost
        from iscc_search_spark.functions.textnorm import tok_tf_simhash_udf

        warm = spark.createDataFrame(
            [("warm up the workers",)] * (cores * 4), "text string"
        ).repartition(cores * 2)
        warm.select(tok_tf_simhash_udf("text")).count()

        pages = spark.read.parquet(pages_path)
        idx = os.path.join(work, f"index_c{cores}")
        # best-of-2 in-session builds: the first build also pays one-time
        # plan compilation + JVM JIT (core-count independent, ~3 s); the
        # second is the steady-state throughput the SLO describes
        # derived=False: the north-rule job is the INVERTED-INDEX build
        # (tokenize -> positions -> compressed block-max postings),
        # methodology-constant with prior rounds.  SCALING_DERIVED=1 runs
        # the FULL build instead (stage-C similarity artifacts fused into
        # stage A + persisted) — the supplementary datapoint.  The FULL
        # leg's artifact set stays method-constant with round 4 (units +
        # simprints + both single-band tables): the round-5 combo2 table
        # write is VOLUME-bound and the single-box emulation understates
        # its cluster scaling (one shared memory bus), so its cost is
        # measured and reported separately (SCALING_COMBO2=1 includes it).
        derived = os.environ.get("SCALING_DERIVED", "0") == "1"
        combo2 = os.environ.get("SCALING_COMBO2", "0") == "1"
        build_secs = float("inf")
        for _ in range(2):
            t0 = time.time()
            build_index(
                spark, pages, idx, cfg=EngineConfig(),
                n_parts=N_PARTS, n_shards=N_SHARDS, group_size=N_PARTS,
                resume=False, derived=derived, combo2=combo2,
            )
            build_secs = min(build_secs, time.time() - t0)

        reader = IndexReader(spark, idx)
        bm25_wand_topk_batch(spark, reader, {0: queries[0]}, k=10).collect()  # warm
        query_secs = float("inf")
        for _ in range(3):
            t0 = time.time()
            bm25_wand_topk_batch(spark, reader, queries, k=10).collect()
            query_secs = min(query_secs, time.time() - t0)

        # SUSTAINED serving throughput: overlapping batches from concurrent
        # driver threads (the serving-deployment model — while one batch's
        # merge stage runs on a few cores, the next batch's scan/score
        # stages fill the idle ones).  A single batch's wall time carries
        # per-batch stage-barrier + scheduling bubbles that do not shrink
        # with cores (Amdahl), so single-batch time measures LATENCY;
        # saturation q/s is what the north rule's throughput metric means,
        # and it is what a 4x-bigger cluster actually multiplies.
        from concurrent.futures import ThreadPoolExecutor

        def one_batch(_):
            bm25_wand_topk_batch(spark, reader, queries, k=10).collect()

        sustained_secs = float("inf")
        for _ in range(2):
            t0 = time.time()
            with ThreadPoolExecutor(SUSTAINED_CONC) as ex:
                list(ex.map(one_batch, range(SUSTAINED_BATCHES)))
            sustained_secs = min(sustained_secs, time.time() - t0)
        return {
            "build_secs": round(build_secs, 2),
            "query_secs": round(query_secs, 2),
            "sustained_secs": round(sustained_secs, 2),
        }
    finally:
        spark.stop()


def _leg_subprocess(cores: int, pages_path: str, work: str) -> dict:
    """Run one leg pinned to ``cores`` CPUs in a fresh subprocess."""
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        sys.executable, os.path.abspath(__file__),
        "--leg", str(cores), pages_path, work,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--leg":
        print(json.dumps(run_leg(int(sys.argv[2]), sys.argv[3], sys.argv[4])))
        return

    from iscc_search_spark import corpus

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    n_low = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_high = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    work = tempfile.mkdtemp(prefix="scaling_")
    pages_path = os.path.join(work, "pages.parquet")
    corpus.write_pages(pages_path, n_docs, seed=42)

    raw: dict[int, list[dict]] = {n_low: [], n_high: []}
    try:
        for _ in range(rounds):  # alternate legs so noise hits both equally
            raw[n_low].append(_leg_subprocess(n_low, pages_path, work))
            raw[n_high].append(_leg_subprocess(n_high, pages_path, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    def capability(cores: int) -> dict:
        b = min(r["build_secs"] for r in raw[cores])
        q = min(r["query_secs"] for r in raw[cores])
        s = min(r["sustained_secs"] for r in raw[cores])
        return {
            "cores": cores,
            "build_secs": b,
            "build_docs_per_sec": round(n_docs / b, 1),
            "query_secs": q,
            "queries_per_sec": round(N_QUERIES / q, 2),
            "sustained_secs": s,
            "sustained_queries_per_sec": round(
                N_QUERIES * SUSTAINED_BATCHES / s, 2
            ),
        }

    low, high = capability(n_low), capability(n_high)
    ratio = n_high / n_low
    result = {
        "n_docs": n_docs,
        "rounds": rounds,
        "pinned": True,
        "low": low,
        "high": high,
        "build_scaling_efficiency": round(
            (high["build_docs_per_sec"] / low["build_docs_per_sec"]) / ratio, 3
        ),
        "query_scaling_efficiency": round(
            (high["sustained_queries_per_sec"] / low["sustained_queries_per_sec"])
            / ratio,
            3,
        ),
        "query_latency_scaling_efficiency": round(
            (high["queries_per_sec"] / low["queries_per_sec"]) / ratio, 3
        ),
        "raw_rounds": raw,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
