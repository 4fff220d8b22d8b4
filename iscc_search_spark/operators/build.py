"""Resumable inverted-index build (the reference's write path, Spark-first).

Two stages, mirroring the reference's "LMDB source of truth + rebuildable
derived indexes" model (docs/explanation/architecture.md:117-118):

Stage A — **docs** (resumable, checkpointed).  Input pages are hashed into
``n_parts`` deterministic partitions (pmod(xxhash64(url))); one fused
Arrow UDF pass tokenizes each page into (terms, tfs, positions, doc_len,
simhash) and writes a single ``docs`` table partitioned by part — the
rebuildable source of truth.  Each committed partition gets an
order-independent content fingerprint row in ``_checkpoints`` (xor of JVM
xxhash64(url,text) per row — pure codegen, no Python); a re-run skips
fingerprint-matched partitions — the Spark analogue of the reference's
idempotent no-op fast path (iscc_search/indexes/usearch/index.py:311-336,
564-587: BLAKE2b over sorted simprint triples; equally order-independent).
On a FRESH build (no checkpoints) the input pre-scan is skipped entirely:
fingerprints are aggregated from the just-written docs table (row hashes
are computed JVM-side in the same job that writes), so the corpus is read
and tokenized exactly ONCE.

Stage B — **postings + term_stats + meta** (derived, deterministic,
idempotent full overwrite from docs).  Document-sharded layout: every doc
belongs to shard pmod(xxhash64(doc_id), n_shards); each (shard, term)
posting run is sorted ascending by doc_id and packed into fixed-size
blocks — FOR-bitpacked doc-id deltas / tfs / doc_lens plus a varbyte
positions payload (token positions per occurrence, the analogue of the
reference's chunk-pointer posting values, lmdb_ops.py:24-64) — with
per-block max-impact metadata (block-max WAND).  Doc-sharding IS the
head-term salting demanded by the north rule: a Zipf head term's postings
are split across all shards by a deterministic, score-invisible doc hash
and merge losslessly at query time (replacing the reference's lossy
dup_limit=1000 cap, lmdb_ops.py:139-166).  Corpus stats (n_docs, avgdl)
come from the checkpoint rows — no extra aggregation job — and term_stats
is derived from the written blocks' metadata columns (a 2-column scan of
compressed block headers, never a corpus re-scan).

Scale notes (100 TB / 10^12 docs):
- Stage A is one scan per resume-group writing columnar docs — the
  expensive tokenize work is checkpointed, never repeated.
- Stage B shuffles once on (shard, term); AQE splits skewed reducers, and
  the term space is secondarily split by ``build_fanout`` so no reducer
  ever materializes an unbounded group (blocks don't require global order
  — WAND sorts block metadata).
- Posting blocks carry doc_len inline so query scoring never joins the
  docs table (a 10^12-row join per query would dominate latency).
- All stats are exact (rank-identity forbids approximation).
"""

from __future__ import annotations

import hashlib
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iscc_search_spark.catalog import FORMAT_VERSION, IndexCatalog, check_format
from iscc_search_spark.config import DEFAULT, EngineConfig
from iscc_search_spark.functions import codec
from iscc_search_spark.functions.hashing import doc_id_udf, instance_expr
from iscc_search_spark.functions.textnorm import tok_tf_lean_udf, tok_tf_simhash_udf

# per-block metadata stores (max_tf, min_dl) instead of a precomputed
# max-tfnorm: tfnorm is increasing in tf and decreasing in dl, so
# tfnorm(max_tf, min_dl) under the CURRENT corpus avgdl is a valid block
# upper bound for ANY avgdl — incremental upserts may shift avgdl without
# invalidating untouched blocks' metadata (the full-rebuild alternative
# would re-encode the world to refresh a float)
POSTINGS_SCHEMA = (
    "shard int, bucket int, term string, block_id int, n int, "
    "min_doc long, max_doc long, doc_ids binary, tfs binary, dls binary, "
    "poss binary, max_tf int, min_dl long"
)


# frozen band counts of the persisted LSH lookup tables (stage C):
# 17 unit bands <=> lossless for the 0.75 unit-confidence threshold
# (hamming <= 16); 13 simprint bands over the 128-bit segment simprints
# <=> lossless for max_hamming <= 12 at ~10-bit keys (the 64-bit hash
# gave ~5-bit keys — a 0.79-0.90 measured candidate fraction at h=12)
UNIT_BANDS = 17
SEG_BANDS = 13
# two-band-combo table: 14 bands give exact recall for max_hamming <= 12
# under combo=2 (pigeonhole: a pair within h has >= 14 - h >= 2 clean
# bands, so at least one clean PAIR of bands); C(14, 2) = 91 keys/segment
SEG_BANDS2 = 14


@dataclass
class BuildResult:
    n_docs: int
    avgdl: float
    parts_built: list[int]
    parts_skipped: list[int]
    secs: float


# --- stage A: docs with per-partition checkpoints -----------------------------


def _row_hash_cols():
    """Two independent 64-bit JVM row hashes over (url, text) — the
    fingerprint halves.  Pure codegen: the fingerprint pre-scan costs a
    columnar read + xxhash64, never a Python round-trip."""
    return (
        F.xxhash64("url", "text").alias("h1"),
        F.xxhash64("text", "url").alias("h2"),
    )


def _fingerprints(pages: DataFrame) -> dict[int, tuple[int, int, int]]:
    """part -> (xor_h1, xor_h2, n_docs): order-independent content hash,
    computed entirely JVM-side (used only on RESUME — fresh builds derive
    fingerprints from the written docs table instead of pre-scanning)."""
    h1, h2 = _row_hash_cols()
    rows = (
        pages.groupBy("part")
        .agg(
            F.bit_xor(h1).alias("hi"),
            F.bit_xor(h2).alias("lo"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    return {int(r["part"]): (int(r["hi"]), int(r["lo"]), int(r["n"])) for r in rows}


def _read_checkpoint_rows(spark: SparkSession, cat: IndexCatalog) -> dict[int, dict]:
    """part -> latest checkpoint row (deterministic: max ``seq`` wins; the
    append-only dir may hold stale rows from earlier content states).

    Read driver-side via pyarrow: the table is tiny (one row per input
    partition) and this keeps checkpoint resolution off the Spark job queue
    (and away from Spark's hidden-path filter on ``_``-prefixed dirs).
    """
    import glob
    import os

    files = sorted(glob.glob(os.path.join(cat.checkpoints, "*.parquet")))
    if not files:
        return {}
    t = pa.concat_tables([pq.read_table(f) for f in files])
    out: dict[int, dict] = {}
    for d in t.to_pylist():
        p = int(d["part"])
        if p not in out or d["seq"] > out[p]["seq"]:
            out[p] = d
    return out


def _append_checkpoints(cat: IndexCatalog, rows: list[dict]) -> None:
    import os
    import uuid

    if not rows:
        return
    os.makedirs(cat.checkpoints, exist_ok=True)
    t = pa.table(
        {
            "part": pa.array([r["part"] for r in rows], pa.int32()),
            "hi": pa.array([r["hi"] for r in rows], pa.int64()),
            "lo": pa.array([r["lo"] for r in rows], pa.int64()),
            "n_docs": pa.array([r["n_docs"] for r in rows], pa.int64()),
            "sum_dl": pa.array([r["sum_dl"] for r in rows], pa.int64()),
            "n_parts": pa.array([r["n_parts"] for r in rows], pa.int32()),
            "seq": pa.array([r["seq"] for r in rows], pa.int64()),
            "secs": pa.array([r["secs"] for r in rows], pa.float64()),
        }
    )
    pq.write_table(t, os.path.join(cat.checkpoints, f"ckpt-{uuid.uuid4().hex}.parquet"))


def _compact_checkpoints(cat: IndexCatalog, rows: dict[int, dict]) -> None:
    """Rewrite the checkpoint dir as one file holding only the live rows."""
    import glob
    import os

    old = glob.glob(os.path.join(cat.checkpoints, "*.parquet"))
    _append_checkpoints(cat, list(rows.values()))
    for f in old:
        os.remove(f)


def _append_metrics(cat: IndexCatalog, rows: list[dict]) -> None:
    import os
    import uuid

    if not rows:
        return
    os.makedirs(cat.metrics, exist_ok=True)
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    pq.write_table(pa.table(cols), os.path.join(cat.metrics, f"m-{uuid.uuid4().hex}.parquet"))


def _normalize_input(pages: DataFrame) -> DataFrame:
    """Accept either a pages table (url-keyed; doc_id derived via blake2b)
    or a documents table (doc_id-keyed; synthetic doc:// url)."""
    cols = set(pages.columns)
    lang = F.col("lang") if "lang" in cols else F.lit("und")
    if "url" in cols:
        out = pages.select(
            "url", F.col("text"), lang.alias("lang")
        ).withColumn("doc_id", doc_id_udf("url"))
    elif "doc_id" in cols:
        out = pages.select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
            lang.alias("lang"),
            "doc_id",
        )
    else:
        raise ValueError("input needs a url or doc_id column")
    return out


_DOC_COLS = [
    "part", "doc_id", "url", "lang", "h1", "h2",
    "doc_len", "simhash", "instance", "data_sh", "segs",
    "terms", "tfs", "pos_blob", "pos_offs",
]


def _doc_rows(pages_p: DataFrame, derived: bool) -> DataFrame:
    """(part, doc_id, url, lang, text) rows -> docs-table rows (``_DOC_COLS``)
    in ONE fused Arrow UDF pass: terms, tfs, positions, doc_len, simhash
    AND the JVM row-hash fingerprint columns.  ``derived=False`` runs the
    lean tokenizer (null similarity columns)."""
    tok = tok_tf_simhash_udf if derived else tok_tf_lean_udf
    h1, h2 = _row_hash_cols()
    enc = pages_p.withColumn("tt", tok("text"))
    return enc.select(
        "part", "doc_id", "url", "lang", h1, h2,
        F.col("tt.doc_len").alias("doc_len"),
        F.col("tt.simhash").alias("simhash"),
        instance_expr("text").alias("instance"),
        F.col("tt.data_sh").alias("data_sh"),
        F.col("tt.segs").alias("segs"),
        F.col("tt.terms").alias("terms"),
        F.col("tt.tfs").alias("tfs"),
        F.col("tt.pos_blob").alias("pos_blob"),
        F.col("tt.pos_offs").alias("pos_offs"),
    )


def build_segments(
    spark: SparkSession,
    pages: DataFrame,
    cat: IndexCatalog,
    cfg: EngineConfig = DEFAULT,
    n_parts: int = 16,
    group_size: int = 8,
    resume: bool = True,
    run_id: str = "run",
    fail_after_groups: int | None = None,
    derived: bool = True,
) -> tuple[list[int], list[int]]:
    """Stage A.  Returns (parts_built, parts_skipped).

    ``derived=False`` runs the lean tokenize pass (null similarity
    columns) for postings-only builds.  ``fail_after_groups`` injects a
    mid-build crash for the kill/rerun resumability test (FIXTURES.md §6).
    """
    import shutil

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    pages_p = _normalize_input(pages).withColumn(
        "part", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    if not resume:
        shutil.rmtree(cat.docs, ignore_errors=True)
        shutil.rmtree(cat.checkpoints, ignore_errors=True)
    have = _read_checkpoint_rows(spark, cat) if resume else {}
    if have:
        rec_parts = {int(r["n_parts"]) for r in have.values()}
        if rec_parts != {n_parts}:
            raise ValueError(
                f"index dir was built with n_parts={sorted(rec_parts)}, "
                f"got {n_parts}; use resume=False for a clean rebuild"
            )
        # resume: one JVM pre-scan to diff input vs committed state
        want = _fingerprints(pages_p)
        skipped = sorted(
            p
            for p in want
            if p in have
            and (have[p]["hi"], have[p]["lo"], have[p]["n_docs"]) == want[p]
        )
        missing = sorted(set(want) - set(skipped))
        # stale parts: committed earlier, absent from the current input —
        # delete their docs partitions and checkpoint rows or they would
        # leak into stage B's corpus stats and postings
        stale = sorted(set(have) - set(want))
        if stale:
            import os

            for p in stale:
                shutil.rmtree(os.path.join(cat.docs, f"part={p}"), ignore_errors=True)
                have.pop(p, None)
            _compact_checkpoints(cat, have)
    else:
        # fresh build: every part is built; NO pre-scan — fingerprints are
        # derived from the written docs (row hashes computed in-pass)
        skipped = []
        missing = list(range(n_parts))

    built: list[int] = []
    groups = [missing[i : i + group_size] for i in range(0, len(missing), group_size)]
    for gi, group in enumerate(groups):
        if fail_after_groups is not None and gi >= fail_after_groups:
            raise RuntimeError(f"injected failure before group {gi}")
        t0 = time.time()
        pg = pages_p.filter(F.col("part").isin(group))
        # Cluster rows by part BEFORE the fused UDF: each write task then
        # owns whole part dirs -> one file per partition (measured: 41
        # tasks x 32 dirs produced ~1300 tiny files whose driver-side commit
        # and later listing erased all scaling).  RANGE partitioning, not
        # hash: hashing k distinct part values into k slots leaves ~1/e of
        # the slots empty and doubles others (birthday collisions), so the
        # tokenize stage ran at ~60% parallelism with 2x stragglers; range
        # boundaries give ~one part per task.  ONE fused UDF pass
        # (_doc_rows) writes the single docs table.
        docs = _doc_rows(pg.repartitionByRange(len(group), "part"), derived)
        # dynamic partition overwrite -> idempotent retry per group
        docs.write.mode("overwrite").partitionBy("part").parquet(cat.docs)

        # per-part fingerprint + corpus stats from the JUST-WRITTEN group
        # partitions: a 4-column scan of compact parquet, no re-tokenize
        agg = (
            spark.read.parquet(cat.docs)
            .filter(F.col("part").isin(group))
            .groupBy("part")
            .agg(
                F.bit_xor("h1").alias("hi"),
                F.bit_xor("h2").alias("lo"),
                F.count("*").alias("n_docs"),
                F.sum("doc_len").alias("sum_dl"),
            )
            .collect()
        )
        secs = time.time() - t0
        seq = time.time_ns()
        ck = [
            {
                "part": int(r["part"]),
                "hi": int(r["hi"]),
                "lo": int(r["lo"]),
                "n_docs": int(r["n_docs"]),
                "sum_dl": int(r["sum_dl"]),
                "n_parts": n_parts,
                "seq": seq,
                "secs": secs / max(len(group), 1),
            }
            for r in agg
        ]
        _append_checkpoints(cat, ck)
        _append_metrics(
            cat,
            [
                {
                    "run_id": run_id,
                    "stage": "segments",
                    "part": r["part"],
                    "docs": r["n_docs"],
                    "secs": r["secs"],
                }
                for r in ck
            ],
        )
        built.extend(group)
    return built, skipped


# --- stage C: derived similarity tables (units, simprints) --------------------
# The reference stores ONE derived index per unit/simprint type, rebuildable
# from the source of truth (iscc_search/indexes/usearch/index.py:1602-1648;
# docs/explanation/architecture.md:117-118).  Here the derived tables are
# PROJECTIONS of the docs table (all similarity values were computed in the
# stage-A pass), laid out for their query shapes:
#   units/part=N      sorted by content_sh -> row-group stats prune binary
#                     unit-prefix range scans (J2) within every part file;
#   simprints/part=N  segments exploded to rows, sorted by simhash.
# Partitioning by the SAME url-part as docs makes upsert/delete maintenance
# a targeted per-partition rewrite (no shuffle beyond the affected parts).


def build_derived(
    spark: SparkSession,
    cat: IndexCatalog,
    parts: list[int] | None = None,
    combo2: bool = True,
    docs: DataFrame | None = None,
) -> None:
    """Write/refresh the units + simprints tables from docs.

    ``parts=None`` -> full rebuild (clean overwrite of both tables);
    ``parts=[...]`` -> rewrite only those part dirs (upsert/delete path).
    ``docs`` (with ``parts``) supplies those parts' rows with whole parts
    per partition (the upsert path's checkpoint): no docs re-read and no
    per-table range repartition.
    ``combo2=False`` skips the C(14,2) high-threshold band table — its 91
    rows/segment are ~7x the single-band write volume (the Manku-style
    multi-block-permutation trade: storage for high-threshold lookup
    selectivity), and a deployment serving only max_hamming < 10 does not
    need it.  The incremental path auto-skips it when the table was never
    built."""
    import os
    import shutil

    if parts is not None and not parts:
        return
    aligned = docs is not None
    if docs is None:
        docs = spark.read.parquet(cat.docs)
    if parts is not None:
        # maintenance rewrites what exists; never resurrects a skipped tier
        combo2 = combo2 and os.path.isdir(cat.simprint_bands2)
    tables = (
        cat.units, cat.simprints, cat.unit_bands, cat.simprint_bands,
    ) + ((cat.simprint_bands2,) if combo2 else ())
    if parts is None:
        # full overwrite must not leave stale part dirs behind; cleared
        # dirs -> static committer (no per-partition staging moves)
        for t in tables:
            shutil.rmtree(t, ignore_errors=True)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        n = max(len(_read_checkpoint_rows(spark, cat)), 1)
    else:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        if not aligned:
            docs = docs.filter(F.col("part").isin(list(parts)))
        n = max(len(parts), 1)
        for p in parts:  # clear affected dirs (a part may become empty)
            for t in tables:
                shutil.rmtree(os.path.join(t, f"part={p}"), ignore_errors=True)

    def by_part(df: DataFrame) -> DataFrame:
        return df if aligned else df.repartitionByRange(n, "part")

    # The five table writes below share nothing but the docs scan — they
    # are submitted from a small thread pool (guide-§2.6 overlap) so the
    # tail of one write's stage back-fills cores for the next instead of
    # serializing five jobs.  FIFO scheduling keeps the earlier job's
    # tasks first; the pool is joined (and any failure re-raised) before
    # returning.
    write_jobs = []

    units = docs.select(
        "part",
        "doc_id",
        F.col("simhash").alias("content_sh"),
        "data_sh",
        "instance",
    )
    write_jobs.append(
        (
            "derived: units",
            lambda: (
                by_part(units)
                .sortWithinPartitions("part", "content_sh")
                .write.mode("overwrite")
                .partitionBy("part")
                .parquet(cat.units)
            ),
        )
    )
    sp = docs.select("part", "doc_id", F.explode("segs").alias("s")).select(
        "part",
        "doc_id",
        F.col("s.seg_idx").alias("seg_idx"),
        F.col("s.n_tokens").alias("n_tokens"),
        F.col("s.offset").alias("offset"),
        F.col("s.size").alias("size"),
        F.col("s.simhash").alias("simhash"),
        F.col("s.sh_lo").alias("sh_lo"),
    )
    write_jobs.append(
        (
            "derived: simprints",
            lambda: (
                by_part(sp)
                .sortWithinPartitions("part", "simhash")
                .write.mode("overwrite")
                .partitionBy("part")
                .parquet(cat.simprints)
            ),
        )
    )

    # LSH band-key LOOKUP tables: candidate fetch for the similarity
    # queries becomes a keyed read (row-group pruned on the sorted (band,
    # key) prefix within every part file), not a scan-plus-filter — the
    # reference's one-lookup-structure-per-unit-type model.  Banding is
    # FROZEN at write time: units at 17 bands (lossless for the 0.75
    # confidence threshold <=> hamming <= 16) + data bands + one exact
    # instance band; simprints at 13 bands (lossless for max_hamming <=
    # 12, the highest threshold the granular gate serves).
    from iscc_search_spark.operators.simprints import band_widths

    def band_entries(hash_col, n_bands, base):
        out = []
        for i, (shift, w) in enumerate(band_widths(n_bands)):
            out.append(
                F.struct(
                    F.lit(base + i).alias("band"),
                    F.shiftrightunsigned(hash_col, shift)
                    .bitwiseAND(F.lit((1 << w) - 1))
                    .alias("key"),
                )
            )
        return out

    # ONE docs scan; the 35 (band, key) rows per doc come from a JVM
    # explode of struct literals (35 unioned selects would re-scan docs
    # per band at 10^12 rows)
    entries = (
        band_entries(F.col("simhash"), UNIT_BANDS, 0)
        + band_entries(F.col("data_sh"), UNIT_BANDS, UNIT_BANDS)
        + [
            F.struct(
                F.lit(2 * UNIT_BANDS).alias("band"),
                F.col("instance").alias("key"),  # exact-match band
            )
        ]
    )
    ub = docs.select(
        "part", "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("part", "doc_id", F.col("e.band").alias("band"), F.col("e.key").alias("key"))
    write_jobs.append(
        (
            "derived: unit_bands",
            lambda: (
                by_part(ub)
                .sortWithinPartitions("part", "band", "key")
                .write.mode("overwrite")
                .partitionBy("part")
                .parquet(cat.unit_bands)
            ),
        )
    )

    # segment simprints are 128-bit: band keys slice the (hi, lo) limb
    # pair into SEG_BANDS ~10-bit windows (band_key128_expr handles the
    # limb-spanning slices) — same one-scan explode shape
    from iscc_search_spark.operators.simprints import SIMPRINT_BITS, band_key128_expr

    seg_entries = [
        F.struct(
            F.lit(i).alias("band"),
            band_key128_expr("simhash", "sh_lo", shift, w).alias("key"),
        )
        for i, (shift, w) in enumerate(band_widths(SEG_BANDS, SIMPRINT_BITS))
    ]
    sb = sp.select(
        "part", "doc_id", "seg_idx", "simhash", "sh_lo",
        F.explode(F.array(*seg_entries)).alias("e"),
    ).select(
        "part", "doc_id", "seg_idx", "simhash", "sh_lo",
        F.col("e.band").alias("band"), F.col("e.key").alias("key"),
    )
    write_jobs.append(
        (
            "derived: simprint_bands",
            lambda: (
                by_part(sb)
                .sortWithinPartitions("part", "band", "key")
                .write.mode("overwrite")
                .partitionBy("part")
                .parquet(cat.simprint_bands)
            ),
        )
    )

    # combo2 band table: C(14, 2) two-band concatenated keys (~18 bits)
    # per segment — the HIGH-threshold serving path (max_hamming 10..12),
    # where the single-band table's ~10-bit keys admit ~1-2% of the table
    # but a two-band key admits ~0.03%.  This is the multi-block
    # permutation scheme of Manku et al. (WWW'07) generalized: choose 2
    # clean blocks out of 14, exact for h <= 12.  Band id = combo index,
    # enumeration shared with the query side
    # (operators/simprints.py:_band_combos).  Write-cost discipline
    # (profiled at 182k segments / 16.5M rows): the 14 base band keys are
    # materialized ONCE as columns; the 91 combo keys are 2-op shift-or
    # expressions posexploded as ONE primitive long array (pos = band id;
    # a struct-array explode was ~15% slower); no extra repartition (the
    # input is already aligned to the docs part dirs) and no sort —
    # segment-major order lets parquet RLE collapse the 91x repeated
    # (doc_id, seg_idx, simhash, sh_lo) runs (42.6 MB vs 114.6 MB
    # sorted) with equal-or-better lookup latency (the keyed join prunes
    # via the broadcast side's runtime bloom filter, not row-group
    # stats).  Total table write: 11.9 s -> 4.3 s at bench scale.  The
    # write is VOLUME-bound, not CPU-bound — on the single-box emulation
    # 16 cores share one memory bus, so this stage understates real
    # N->4N cluster scaling (executors bring their own buses/disks);
    # BENCH/BASELINE.md carries the measured MB/s and the per-core-count
    # cost of this stage separately.
    if combo2:
        from iscc_search_spark.operators.simprints import _band_combos

        widths2 = band_widths(SEG_BANDS2, SIMPRINT_BITS)
        base2 = sp
        for i, (shift, w) in enumerate(widths2):
            base2 = base2.withColumn(
                f"_b{i}", band_key128_expr("simhash", "sh_lo", shift, w)
            )
        combo_keys = [
            F.shiftleft(F.col(f"_b{i}"), widths2[j][1]).bitwiseOR(F.col(f"_b{j}"))
            for (i, j) in _band_combos(SEG_BANDS2, 2)
        ]
        # format_version 5: the 91x-repeated rows carry ONLY the lookup
        # key and the (doc_id, seg_idx) pointer — the two 64-bit hash
        # limbs (the bulk of the old volume; doc/seg columns RLE away)
        # are joined back from the simprints table at query time, where
        # candidates are k-row scale (load_simprint_bands2 /
        # granular_topk).  This is the write-volume fix for the one
        # sub-0.8 scaling leg.
        sb2 = base2.select(
            "part", "doc_id", "seg_idx",
            F.posexplode(F.array(*combo_keys)).alias("band", "key"),
        ).select(
            "part", "doc_id", "seg_idx",
            F.col("band").cast("int").alias("band"), "key",
        )
        write_jobs.append(
            (
                "derived: simprint_bands2",
                lambda: (
                    sb2.write.mode("overwrite")
                    .partitionBy("part")
                    .parquet(cat.simprint_bands2)
                ),
            )
        )

    from concurrent.futures import ThreadPoolExecutor

    def _run(job):
        desc, fn = job
        spark.sparkContext.setJobDescription(desc)
        try:
            fn()
        finally:
            spark.sparkContext.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(_run, j) for j in write_jobs]:
            f.result()


def load_units(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, content_sh, data_sh, instance) from the persisted table."""
    cat = IndexCatalog(index_dir)
    return spark.read.parquet(cat.units).select(
        "doc_id", "content_sh", "data_sh", "instance"
    )


def load_simprints(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, seg_idx, n_tokens, offset, size, simhash, sh_lo)
    persisted — simhash/sh_lo are the 128-bit simprint's limbs."""
    cat = IndexCatalog(index_dir)
    check_format(cat.read_meta(), "load_simprints")
    return spark.read.parquet(cat.simprints).select(
        "doc_id", "seg_idx", "n_tokens", "offset", "size", "simhash", "sh_lo"
    )


def load_unit_bands(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, band, key) LSH lookup rows: bands 0..16 = content,
    17..33 = data, 34 = exact instance (key = the instance value)."""
    cat = IndexCatalog(index_dir)
    return spark.read.parquet(cat.unit_bands).select("doc_id", "band", "key")


def load_simprint_bands(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, seg_idx, simhash, sh_lo, band, key) LSH lookup rows
    (13 ~10-bit bands over the 128-bit simprint)."""
    cat = IndexCatalog(index_dir)
    return spark.read.parquet(cat.simprint_bands).select(
        "doc_id", "seg_idx", "simhash", "sh_lo", "band", "key"
    )


def load_simprint_bands2(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, seg_idx, band, key) combo2 lookup rows (C(14,2) = 91
    two-band ~18-bit keys over the 128-bit simprint; exact recall for
    max_hamming <= 12).

    format_version 5 stores no hash limbs in this table; the returned
    DataFrame carries the simprints source on ``_iscc_simprints`` so
    granular_topk can join simhash/sh_lo back AFTER the keyed candidate
    prune (k-row scale), keeping the 91x write volume minimal."""
    cat = IndexCatalog(index_dir)
    check_format(cat.read_meta(), "load_simprint_bands2")
    df = spark.read.parquet(cat.simprint_bands2).select(
        "doc_id", "seg_idx", "band", "key"
    )
    df._iscc_simprints = load_simprints(spark, index_dir).select(
        "doc_id", "seg_idx", "simhash", "sh_lo"
    )
    return df


# --- stage B: derived postings ------------------------------------------------


def _encode_blocks_fn(cfg: EngineConfig):
    """Shard-group block encoder (applyInPandas on (shard, tgroup)).

    One Python call per group, not per term: rows are lexsorted by
    (term, doc_id) in numpy, block boundaries derived vectorized, and the
    whole group is packed in ONE FOR/varbyte pass each for doc-id deltas,
    tfs, doc_lens and positions (per-block buffer slices afterwards).  At
    10^12 docs the group size is bounded by the ``build_fanout`` secondary
    split of the term space (tgroup), not by the corpus — no reducer
    materializes an unbounded group.
    """
    block_size = cfg.block_size
    n_buckets = cfg.term_buckets

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        terms = pdf["term"].to_numpy()
        doc_ids = pdf["doc_id"].to_numpy()
        order = np.lexsort((doc_ids, terms))
        terms = terms[order]
        doc_ids = doc_ids[order]
        tfs = pdf["tf"].to_numpy()[order].astype(np.int64)
        dls = pdf["doc_len"].to_numpy()[order].astype(np.int64)
        pos_lists = list(pdf["pos"].to_numpy()[order])

        n = len(terms)
        term_change = np.empty(n, dtype=bool)
        term_change[0] = True
        term_change[1:] = terms[1:] != terms[:-1]
        term_start_idx = np.flatnonzero(term_change)
        # position of each row within its term run
        run_id = np.cumsum(term_change) - 1
        pos_in_term = np.arange(n) - term_start_idx[run_id]
        block_starts = np.flatnonzero(pos_in_term % block_size == 0)
        block_ends = np.append(block_starts[1:], n)

        uniq_terms = terms[term_start_idx]
        bucket_map = {t: _bucket_of(t, n_buckets) for t in uniq_terms}

        # doc ids: first value of each block lives in the min_doc column;
        # the payload FOR-packs the remaining n-1 in-block deltas (computed
        # in sign-flipped uint64 space — blake2b ids span the signed range)
        u = doc_ids.view(np.uint64) ^ codec._SIGN_BIT
        deltas = np.empty(n, dtype=np.uint64)
        if n:
            deltas[1:] = u[1:] - u[:-1]
            deltas[block_starts] = u[block_starts]
        inner = np.delete(deltas, block_starts)
        inner_starts = block_starts - np.arange(len(block_starts))
        id_buf, id_off = codec.for_pack_batch(inner, inner_starts)
        tf_buf, tf_off = codec.for_pack_batch(tfs.view(np.uint64), block_starts)
        dl_buf, dl_off = codec.for_pack_batch(dls.view(np.uint64), block_starts)

        # positions payload: per-posting buffers arrive PRE-ENCODED from
        # stage A (varbyte, first raw + deltas) — concatenate in sorted
        # posting order and slice per block by byte offsets, zero re-encode
        pos_buf = b"".join(pos_lists)
        plens = np.fromiter(map(len, pos_lists), dtype=np.int64, count=n)
        p_bytes = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(plens, out=p_bytes[1:])
        max_tf = np.maximum.reduceat(tfs, block_starts)
        min_dl = np.minimum.reduceat(dls, block_starts)

        term_col = terms[block_starts]
        return pd.DataFrame(
            {
                "shard": np.full(len(block_starts), shard, dtype=np.int32),
                "bucket": np.array(
                    [bucket_map[t] for t in term_col], dtype=np.int32
                ),
                "term": term_col,
                "block_id": (pos_in_term[block_starts] // block_size).astype(
                    np.int32
                ),
                "n": (block_ends - block_starts).astype(np.int32),
                "min_doc": doc_ids[block_starts],
                "max_doc": doc_ids[block_ends - 1],
                "doc_ids": [
                    id_buf[id_off[bi] : id_off[bi + 1]]
                    for bi in range(len(block_starts))
                ],
                "tfs": [
                    tf_buf[tf_off[bi] : tf_off[bi + 1]]
                    for bi in range(len(block_starts))
                ],
                "dls": [
                    dl_buf[dl_off[bi] : dl_off[bi + 1]]
                    for bi in range(len(block_starts))
                ],
                "poss": [
                    pos_buf[p_bytes[s] : p_bytes[e]]
                    for s, e in zip(block_starts, block_ends)
                ],
                "max_tf": max_tf.astype(np.int32),
                "min_dl": min_dl,
            }
        )

    return encode


def _bucket_of(term: str, n_buckets: int) -> int:
    # stable python-side bucket (must match the query-side pruning filter,
    # which uses the same function on the driver)
    h = int.from_bytes(hashlib.md5(term.encode("utf-8")).digest()[:4], "big")
    return h % n_buckets


def bucket_expr(term_col, n_buckets: int):
    """JVM-side bucket — first 4 bytes of md5, matching _bucket_of."""
    c = F.col(term_col) if isinstance(term_col, str) else term_col
    return (F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % n_buckets).cast("int")


def corpus_stats_from_checkpoints(
    spark: SparkSession, cat: IndexCatalog
) -> tuple[int, float]:
    """(n_docs, avgdl) from the committed checkpoint rows — exact integer
    sums, zero corpus scans."""
    rows = _read_checkpoint_rows(spark, cat)
    n_docs = sum(int(r["n_docs"]) for r in rows.values())
    total_dl = sum(int(r["sum_dl"]) for r in rows.values())
    return n_docs, (total_dl / n_docs if n_docs else 0.0)


def _shard_expr(col: str, n_shards: int):
    """Doc-hash shard of ``col`` (JVM xxhash64)."""
    return F.pmod(F.xxhash64(col), F.lit(n_shards)).cast("int")


def _posting_rows(docs: DataFrame, n_shards: int, cfg: EngineConfig) -> DataFrame:
    """docs -> one row per (doc, term) posting: (shard, tgroup, term,
    doc_id, tf, doc_len, pos).  Per-posting positions are a JVM substring
    of the per-doc varbyte blob (pos_offs delimits each term's slice) —
    the Python boundary never sees positions again after stage A."""
    nt = F.size("terms")
    return (
        docs.select(
            "doc_id",
            "doc_len",
            "pos_blob",
            F.explode(
                F.arrays_zip(
                    F.col("terms").alias("term"),
                    F.col("tfs").alias("tf"),
                    F.slice("pos_offs", F.lit(1), nt).alias("o0"),
                    F.slice("pos_offs", F.lit(2), nt).alias("o1"),
                )
            ).alias("z"),
        )
        .select(
            _shard_expr("doc_id", n_shards).alias("shard"),
            F.pmod(F.xxhash64("z.term"), F.lit(cfg.build_fanout))
            .cast("int")
            .alias("tgroup"),
            F.col("z.term").alias("term"),
            "doc_id",
            F.col("z.tf").alias("tf"),
            "doc_len",
            F.col("pos_blob")
            .substr(F.col("z.o0") + F.lit(1), F.col("z.o1") - F.col("z.o0"))
            .alias("pos"),
        )
    )


def _encode_blocks(docs: DataFrame, n_shards: int, cfg: EngineConfig) -> DataFrame:
    """docs -> encoded posting blocks (POSTINGS_SCHEMA), one encoder call
    per (shard, tgroup)."""
    return (
        _posting_rows(docs, n_shards, cfg)
        .groupBy("shard", "tgroup")
        .applyInPandas(_encode_blocks_fn(cfg), POSTINGS_SCHEMA)
    )


def _write_blocks(blocks: DataFrame, path: str, n_buckets: int, n_shards: int) -> None:
    """Physical layout: partition dirs by (bucket, shard) — bucket is the
    query-time prune key, shard dirs make upsert/delete a TARGETED
    per-shard rewrite (dynamic overwrite touches only the changed shard's
    dirs, the reference's delete-stale-then-insert granularity).  Within
    each file rows are sorted by term so row-group min/max stats prune
    non-query terms.  One write task per BUCKET, each emitting its
    n_shards dir files (measured: 512 single-dir range tasks cost ~2x the
    per-bucket write at this scale; dir count is unchanged)."""
    (
        blocks.repartition("bucket")
        .sortWithinPartitions("bucket", "shard", "term", "block_id")
        .write.mode("overwrite")
        .partitionBy("bucket", "shard")
        .parquet(path)
    )


def _write_term_stats(blocks: DataFrame, cat: IndexCatalog) -> None:
    """Global exact term stats from the block rows just computed (df = sum
    of block counts; (doc, term) is unique).  Takes the CACHED blocks
    DataFrame rather than re-reading the written postings: partition
    discovery + footer reads over the n_buckets x n_shards dir layout are
    driver-bound and core-count independent (measured ~3 s at 512 dirs —
    pure serial tax on the N->4N scaling leg), while the cached partial
    aggregation is map-side and scales with the cluster."""
    stats = blocks.groupBy("bucket", "term").agg(F.sum("n").alias("df"))
    (
        stats.repartition("bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(cat.term_stats)
    )


def _write_index_meta(
    cat: IndexCatalog, cfg: EngineConfig, n_docs: int, avgdl: float,
    n_shards: int, run_id: str,
) -> None:
    cat.write_meta(
        {
            "format_version": FORMAT_VERSION,
            "n_docs": n_docs,
            "avgdl": avgdl,
            "n_shards": n_shards,
            "block_size": cfg.block_size,
            "term_buckets": cfg.term_buckets,
            "bm25": {"k1": cfg.bm25.k1, "b": cfg.bm25.b},
            "codec": "for+varbyte",
            "with_positions": True,
            "run_id": run_id,
        }
    )


def build_postings(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: EngineConfig = DEFAULT,
    n_shards: int | None = None,
    run_id: str = "run",
) -> BuildResult:
    """Stage B: docs -> sharded compressed postings + term_stats + meta.

    FULL overwrite semantics: the output dirs are cleared first — dynamic
    partition overwrite alone would leave stale bucket/shard dirs behind
    when the new vocabulary misses a bucket (deleted docs could silently
    resurface from surviving blocks)."""
    import shutil

    t0 = time.time()
    n_shards = n_shards or 16
    n_docs, avgdl = corpus_stats_from_checkpoints(spark, cat)
    shutil.rmtree(cat.postings, ignore_errors=True)
    shutil.rmtree(cat.term_stats, ignore_errors=True)
    # output dirs are now empty -> STATIC committer: the dynamic-overwrite
    # committer does driver-serial per-partition staging moves, a
    # core-count-independent cost that grows with the (bucket, shard) dir
    # count and eats the fast leg's scaling (measured on the 512-dir
    # layout); dynamic mode is for the INCREMENTAL path only
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

    # docs carry doc_len inline (denormalized at stage A) so stage B needs
    # NO join — the term shuffle is the build's only wide dependency
    blocks = _encode_blocks(spark.read.parquet(cat.docs), n_shards, cfg)
    # cache the encoded blocks across the two consumers (postings write +
    # term_stats aggregation): without it term_stats either re-encodes the
    # corpus or re-reads the 512-dir layout it just wrote (driver-bound
    # listing, a serial term on the scaling leg).  MEMORY_AND_DISK spills
    # gracefully when the blob volume outgrows executor storage at scale.
    from pyspark import StorageLevel

    blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        _write_blocks(blocks, cat.postings, cfg.term_buckets, n_shards)
        _write_term_stats(blocks, cat)
    finally:
        blocks.unpersist()

    secs = time.time() - t0
    _write_index_meta(cat, cfg, n_docs, avgdl, n_shards, run_id)
    _append_metrics(
        cat,
        [{"run_id": run_id, "stage": "postings", "part": -1, "docs": n_docs, "secs": secs}],
    )
    return BuildResult(n_docs, avgdl, [], [], secs)


# --- incremental update / delete ----------------------------------------------
# The reference updates an asset by deleting its stale postings and vectors
# then inserting the new ones inside one LMDB txn (usearch/index.py:337-348,
# simprint/lmdb_ops.py:84-108).  The Spark analogue does each piece of work
# once:
#   delta  the new docs are tokenized ONCE into docs rows and checkpointed;
#   docs   the affected url-part partitions' rows, tagged kept / replaced /
#          deleted, plus the delta are checkpointed with one whole part per
#          partition; ONE collect of that frame yields the parts'
#          checkpoint rows and the changed docs' doc-hash shards and term
#          buckets, and the frame rewrites the docs partitions;
#   B | C  the affected shards' postings are re-derived from docs with stage
#          B's own code on the caller's thread while a pool thread patches
#          term_stats from the changed docs alone (+1 per (term, new doc),
#          -1 per (term, old doc); exact, (doc, term) is unique) and
#          rewrites the parts' stage-C tables from the same checkpoint;
#   meta   meta.json is written LAST: it is the readers' reload trigger
#          (IndexReader.ensure_fresh), and a reader that reloaded before
#          term_stats was done would cache stale df until the next write.
# Cost: docs is partitioned by url-part but shards by doc hash, so the shard
# rewrite scans the WHOLE docs table (the terms/tfs/positions columns), not
# the shards' old blocks — a 1-doc delta reads every doc to rewrite
# 1/n_shards of the postings, and a delta of more than about
# n_shards*ln(n_shards) docs touches every shard anyway.  Untouched parts'
# and shards' files are never rewritten.


def _release(*frames: DataFrame) -> None:
    """Free the blocks of localCheckpoint()ed frames.  The write path runs
    once per streaming micro-batch for the life of the session, so its
    checkpoints must not outlive the call."""
    for df in frames:
        df._jdf.queryExecution().logical().rdd().unpersist(True)


class _Stages:
    """Spark job labels ("upsert: docs", ...) and ``_metrics`` rows of one
    upsert/delete call."""

    def __init__(self, spark: SparkSession, op: str, run_id: str):
        self.sc, self.op, self.run_id = spark.sparkContext, op, run_id
        self.rows: list[dict] = []

    @contextmanager
    def __call__(self, name: str):
        label = f"{self.op}: {name}"
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(label)
        row = {"run_id": self.run_id, "stage": label, "part": -1, "docs": 0, "secs": 0.0}
        t0 = time.time()
        try:
            yield row
        finally:
            row["secs"] = time.time() - t0
            self.sc.setJobDescription(prev)
            self.rows.append(row)


def update_postings_incremental(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: EngineConfig,
    shards: list[int],
) -> list[int]:
    """Stage B for a subset of doc-hash shards: re-derive their postings
    from the docs table with stage B's own code and overwrite their
    (bucket, shard) dirs.  The plan reads docs, never the postings dirs it
    clears, so the blocks need no checkpoint.  The scan covers the whole
    docs table (docs is partitioned by url-part, shards by doc hash),
    filtered to the shards' docs.  Returns ``shards``."""
    import glob
    import shutil

    if not shards:
        return []
    n_shards = int(cat.read_meta()["n_shards"])
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    docs = spark.read.parquet(cat.docs)
    if len(shards) < n_shards:
        docs = docs.filter(_shard_expr("doc_id", n_shards).isin(shards))
    blocks = _encode_blocks(docs, n_shards, cfg)
    # a shard emptied of some bucket must not leave stale blocks behind
    for s in shards:
        for d in glob.glob(os.path.join(cat.postings, "bucket=*", f"shard={s}")):
            shutil.rmtree(d, ignore_errors=True)
    _write_blocks(blocks, cat.postings, cfg.term_buckets, n_shards)
    for d in glob.glob(os.path.join(cat.postings, "bucket=*")):
        if not any(e.startswith("shard=") for e in os.listdir(d)):
            shutil.rmtree(d, ignore_errors=True)
    return shards


def _patch_term_stats(
    spark: SparkSession, cat: IndexCatalog, cfg: EngineConfig,
    changed: DataFrame, buckets: list[int],
) -> None:
    """df += ``_v`` per (term, changed doc) over the affected buckets.  The
    patched buckets are checkpointed before their dirs are cleared (the
    plan reads them); a bucket left without terms is not rewritten."""
    import shutil

    if not buckets:
        return
    ones = changed.select(
        F.explode("terms").alias("term"), F.col("_v").cast("long").alias("df")
    ).withColumn("bucket", bucket_expr("term", cfg.term_buckets))
    patched = (
        spark.read.parquet(cat.term_stats)
        .filter(F.col("bucket").isin(buckets))
        .select("bucket", "term", "df")
        .unionByName(ones.select("bucket", "term", "df"))
        .repartition("bucket")
        .groupBy("bucket", "term")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
        .sortWithinPartitions("bucket", "term")
        .localCheckpoint()
    )
    try:
        for b in buckets:
            shutil.rmtree(os.path.join(cat.term_stats, f"bucket={b}"), ignore_errors=True)
        patched.write.mode("overwrite").partitionBy("bucket").parquet(cat.term_stats)
    finally:
        _release(patched)


def _open_for_write(
    spark: SparkSession, index_dir: str, op: str
) -> tuple[IndexCatalog, dict, int, int]:
    """(catalog, checkpoint rows, n_parts, n_shards) of a committed build."""
    cat = IndexCatalog(index_dir)
    if os.path.exists(cat.meta_path):
        check_format(cat.read_meta(), op)
    ckpt = _read_checkpoint_rows(spark, cat)
    if not ckpt:
        raise ValueError("no committed build to update (empty _checkpoints)")
    n_parts = int(next(iter(ckpt.values()))["n_parts"])
    return cat, ckpt, n_parts, int(cat.read_meta()["n_shards"])


def _rewrite(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: EngineConfig,
    stage: _Stages,
    ckpt: dict[int, dict],
    n_parts: int,
    n_shards: int,
    parts: list[int],
    tag: Callable[[DataFrame], DataFrame],
) -> None:
    """Apply one upsert/delete.  ``tag`` maps the affected parts' docs
    rows to those rows plus the delta's, each tagged ``_v`` = +1 (new),
    -1 (replaced or deleted) or 0 (kept)."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.time()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    keep, changed = F.col("_v") >= 0, F.col("_v") != 0
    rows = None
    try:
        with stage("docs") as st:
            # one whole part per partition (a direct slot id: no range-sampling
            # job, no hash collisions), materialized BEFORE the overwrite of
            # the partitions the plan reads
            slot = F.array_position(F.array(*map(F.lit, parts)), F.col("part")) - 1
            rows = (
                tag(spark.read.parquet(cat.docs).filter(F.col("part").isin(parts)))
                .repartitionById(len(parts), slot.cast("int"))
                .localCheckpoint()
            )
            agg = rows.groupBy("part").agg(
                F.bit_xor(F.when(keep, F.col("h1"))).alias("hi"),
                F.bit_xor(F.when(keep, F.col("h2"))).alias("lo"),
                F.count(F.when(keep, 1)).alias("n_docs"),
                F.sum(F.when(keep, F.col("doc_len"))).alias("sum_dl"),
                F.count(F.when(changed, 1)).alias("n_changed"),
                F.collect_set(F.when(changed, _shard_expr("doc_id", n_shards))).alias("shards"),
                F.array_distinct(F.flatten(F.collect_list(F.when(changed, F.transform(
                    "terms", lambda t: bucket_expr(t, cfg.term_buckets)
                ))))).alias("buckets"),
            ).collect()
            merged = rows.filter(keep).select(*_DOC_COLS)
            merged.write.mode("overwrite").partitionBy("part").parquet(cat.docs)
            live = {int(r["part"]): r for r in agg if r["n_docs"]}
            seq = time.time_ns()
            for p in parts:
                r = live.get(p)
                if r is None:  # partition emptied by a delete
                    shutil.rmtree(os.path.join(cat.docs, f"part={p}"), ignore_errors=True)
                    ckpt.pop(p, None)
                    continue
                ckpt[p] = {
                    "part": p,
                    "hi": int(r["hi"]),
                    "lo": int(r["lo"]),
                    "n_docs": int(r["n_docs"]),
                    "sum_dl": int(r["sum_dl"]),
                    "n_parts": n_parts,
                    "seq": seq,
                    "secs": (time.time() - t0) / len(parts),
                }
            _compact_checkpoints(cat, ckpt)
            st["docs"] = n_rewritten = sum(int(r["n_docs"]) for r in live.values())
        n_changed = sum(int(r["n_changed"]) for r in agg)
        shards = sorted({int(s) for r in agg for s in r["shards"]})
        buckets = sorted({int(b) for r in agg for b in r["buckets"]})

        def term_stats():
            with stage("term_stats") as st:
                st["docs"] = n_changed
                _patch_term_stats(spark, cat, cfg, rows.filter(changed), buckets)

        def derived():
            with stage("derived") as st:
                st["docs"] = n_rewritten
                build_derived(spark, cat, parts=parts, docs=merged)

        # stage B on this thread, the term_stats patch and the partial stage C
        # beside it: all three use the dynamic committer, so the session-level
        # partitionOverwriteMode cannot race
        with ThreadPoolExecutor(max_workers=2) as pool:
            side = [pool.submit(term_stats)]
            if cat.exists("units") or cat.exists("simprints"):
                side.append(pool.submit(derived))
            with stage("postings") as st:
                st["docs"] = n_changed
                update_postings_incremental(spark, cat, cfg, shards)
            for f in side:
                f.result()
    finally:
        if rows is not None:
            _release(rows)
    stage.rows.append({"run_id": stage.run_id, "stage": stage.op, "part": -1,
                       "docs": n_changed, "secs": time.time() - t0})
    _append_metrics(cat, stage.rows)
    n_docs, avgdl = corpus_stats_from_checkpoints(spark, cat)
    _write_index_meta(cat, cfg, n_docs, avgdl, n_shards, stage.run_id)


def _dedupe_delta(pages: DataFrame) -> DataFrame:
    """ONE surviving row per url/doc_id key in an upsert delta, spread over
    the session's default parallelism (the tokenize pass runs on it).

    A batch carrying the same url twice (recrawls or duplicate records in
    a streaming micro-batch) must not insert two docs rows for one key —
    that double-counts df/n_docs/avgdl and duplicates (doc, term)
    postings.  The survivor is deterministic and order-independent (so
    at-least-once batch replays converge): the latest ``warc_ts`` when
    the delta carries one (the recrawl case), lexicographically-largest
    (text, lang) otherwise."""
    from pyspark.sql import Window

    cols = set(pages.columns)
    key = "url" if "url" in cols else "doc_id"
    order = []
    if "warc_ts" in cols:
        order.append(F.col("warc_ts").desc())
    order.append(F.col("text").desc())
    if "lang" in cols:
        order.append(F.col("lang").desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (
        pages.repartition(pages.sparkSession.sparkContext.defaultParallelism, key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_docs(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    run_id: str = "upsert",
) -> list[int]:
    """Upsert a delta batch (url-keyed): replace existing docs with the
    same url and insert new ones.

    The delta is tokenized once.  Only the affected url-part dirs (docs
    and the stage-C tables) and doc-hash shards (postings) are rewritten,
    term_stats is patched from the changed docs alone, and meta.json is
    written last.  The shard rewrite re-derives postings from a scan of
    the whole docs table, so a call costs one docs scan plus work in the
    delta and its shards (see the section comment above).  Returns the
    affected part list."""
    cat, ckpt, n_parts, n_shards = _open_for_write(spark, index_dir, "upsert_docs")
    stage = _Stages(spark, "upsert", run_id)
    with stage("delta") as st:
        delta = _normalize_input(_dedupe_delta(pages)).withColumn(
            "part", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
        )
        # match the index's build mode: a lean (postings-only) index must
        # not gain a few derived-valued docs mid-stream
        new = _doc_rows(delta, cat.exists("units")).localCheckpoint()
        part_rows = new.select("part").collect()
        st["docs"] = len(part_rows)
    parts = sorted({int(r["part"]) for r in part_rows})

    def tag(old: DataFrame) -> DataFrame:
        return (
            old.join(F.broadcast(new.select("doc_id", F.lit(-1).alias("_v"))),
                     "doc_id", "left")
            .select(*_DOC_COLS, F.coalesce("_v", F.lit(0)).alias("_v"))
            .unionByName(new.withColumn("_v", F.lit(1)))
        )

    try:
        if parts:
            _rewrite(spark, cat, cfg, stage, ckpt, n_parts, n_shards, parts, tag)
    finally:
        _release(new)
    return parts


def delete_docs(
    spark: SparkSession,
    urls: list[str],
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    run_id: str = "delete",
) -> list[int]:
    """Delete documents by url, maintaining postings, term_stats and the
    stage-C tables incrementally (see upsert_docs).  Returns the affected
    part list."""
    cat, ckpt, n_parts, n_shards = _open_for_write(spark, index_dir, "delete_docs")
    stage = _Stages(spark, "delete", run_id)
    urls = sorted(set(urls))
    with stage("delta") as st:
        st["docs"] = len(urls)
        parts = sorted({
            int(r[0])
            for r in spark.createDataFrame([(u,) for u in urls], "url string")
            .select(F.pmod(F.xxhash64("url"), F.lit(n_parts)))
            .collect()
        })
    if parts:
        _rewrite(
            spark, cat, cfg, stage, ckpt, n_parts, n_shards, parts,
            lambda old: old.select(
                *_DOC_COLS, F.when(F.col("url").isin(urls), -1).otherwise(0).alias("_v")
            ),
        )
    return parts


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    n_parts: int = 16,
    n_shards: int = 16,
    group_size: int = 8,
    resume: bool = True,
    run_id: str = "run",
    derived: bool = True,
    combo2: bool = True,
) -> BuildResult:
    """Full build: stage A (resumable) + stage B (postings) + stage C
    (persisted similarity tables; ``derived=False`` skips stage C for a
    postings-only build; ``combo2=False`` skips only the high-threshold
    C(14,2) band table, see build_derived)."""
    t0 = time.time()
    cat = IndexCatalog(index_dir)
    built, skipped = build_segments(
        spark, pages, cat, cfg, n_parts, group_size, resume, run_id,
        derived=derived,
    )
    if derived and not (skipped and cat.exists("units")):
        # stage B (postings) and the full stage-C rebuild share nothing
        # but the stage-A docs table — overlap them (guide-§2.6) so C's
        # writes back-fill cores left idle by B's shuffle tail.  Both
        # paths use the static committer, so the session-level
        # partitionOverwriteMode setting cannot race.  The incremental
        # refresh below stays serial (it flips the conf to dynamic).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(build_derived, spark, cat, None, combo2)
            res = build_postings(spark, cat, cfg, n_shards, run_id)
            fut.result()
    else:
        res = build_postings(spark, cat, cfg, n_shards, run_id)
        if derived:
            # resume fast path: only newly-built parts need their derived
            # partitions refreshed once the tables exist
            build_derived(spark, cat, parts=built, combo2=combo2)
    return BuildResult(res.n_docs, res.avgdl, built, skipped, time.time() - t0)
