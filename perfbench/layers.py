"""Per-layer metrics from a traced run's spans and Spark jobs.

Every metric is reported for every workload; a layer a workload does not
exercise reads 0.  Times of a call are medians over the run's calls of that
kind; counts and bytes are per call, and the ``wand.*`` counts per query.
"""

from __future__ import annotations

import statistics

# name -> unit, in the order they are printed (BENCHMARK.json per_layer)
LAYER_METRICS: dict[str, str] = {
    "build.segments_s": "s",
    "build.segments_exec_run_s": "s",
    "build.segments_output_bytes": "B",
    "build.segments_driver_gap_s": "s",
    "build.postings_s": "s",
    "build.postings_shuffle_write_bytes": "B",
    "build.postings_output_bytes": "B",
    "build.postings_jobs": "count",
    "build.postings_driver_gap_s": "s",
    "build.derived_s": "s",
    "build.derived_output_bytes": "B",
    "build.derived_overlap_s": "s",
    "build.index_bytes_per_doc": "B",
    "update.postings_s": "s",
    "update.derived_s": "s",
    "update.merge_s": "s",
    "update.parts_rewritten": "count",
    "update.shards_rewritten": "count",
    "update.bytes_rewritten": "B",
    "update.write_amp": "ratio",
    "update.jobs": "count",
    "update.driver_gap_s": "s",
    "server.http_self_ms": "ms",
    "wand.term_dfs_ms": "ms",
    "wand.bucket_blocks_ms": "ms",
    "wand.bucket_cache_hits": "count",
    "wand.bucket_cache_misses": "count",
    "wand.score_self_ms": "ms",
    "wand.postings_per_query": "count",
    "wand.local_fallbacks": "count",
    "textnorm.query_tokenize_ms": "ms",
    "codec.decode_ms": "ms",
    "codec.blocks_decoded": "count",
    "wand.blocks_candidate": "count",
    "wand.block_prune_frac": "ratio",
    "wand.reload_ms": "ms",
    "wand.batch_jobs": "count",
    "wand.batch_input_bytes": "B",
    "wand.batch_shuffle_bytes": "B",
    "wand.batch_exec_run_s": "s",
    "wand.batch_driver_gap_s": "s",
    "neardup.s": "s",
    "neardup.candidate_pairs": "count",
    "neardup.pairs": "count",
    "neardup.verify_yield": "ratio",
    "dedup.s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.shuffle_bytes": "B",
    "simprints.granular_ms": "ms",
    "simprints.candidate_fraction": "ratio",
    "multiunit.search_ms": "ms",
    "similar.jobs_per_query": "count",
    "trace.coverage": "ratio",
    "trace.spans": "count",
}


def _merged(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint intervals covering the same points."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _union(intervals) -> float:
    return sum(e - s for s, e in _merged(intervals))


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class SpanIndex:
    def __init__(self, spans, jobs):
        self.spans = [s for s in spans if s.end is not None]
        self.by_id = {s.sid: s for s in self.spans}
        self.children: dict[int, list] = {}
        for s in self.spans:
            self.children.setdefault(s.parent, []).append(s)
        self.jobs_of: dict[int, list[dict]] = {}
        self._attribute(jobs)

    def _attribute(self, jobs) -> None:
        """Jobs go to the span whose job group they carry.  Jobs a pool
        thread launched without a group (stage C's parallel writes, whose
        descriptions start "derived") go to the innermost open
        ``build.derived`` span at their submission."""
        derived = [s for s in self.spans if s.name == "build.derived"]
        for j in jobs:
            sid = None
            grp = j["group"] or ""
            if grp.startswith("perfbench-"):
                sid = int(grp.split("-", 1)[1])
            elif j["desc"].startswith("derived") and j["start"] is not None:
                live = [s for s in derived if s.start <= j["start"] <= s.end]
                if live:
                    sid = max(live, key=lambda s: s.start).sid
            if sid is not None and sid in self.by_id:
                self.jobs_of.setdefault(sid, []).append(j)

    def dur(self, s) -> float:
        return s.end - s.start

    def subtree(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x.sid, ()))
        return out

    def self_time(self, s) -> float:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in self.children.get(s.sid, ())
        ]
        return self.dur(s) - _union([k for k in kids if k[1] > k[0]])

    def jobs(self, s) -> list[dict]:
        return [j for x in self.subtree(s) for j in self.jobs_of.get(x.sid, ())]

    def job_sum(self, s, key) -> float:
        return float(sum(j[key] for j in self.jobs(s)))

    def driver_gap(self, s) -> float:
        iv = [
            (max(j["start"], s.start), min(j["end"], s.end))
            for j in self.jobs(s)
            if j["start"] is not None and j["end"] is not None
        ]
        return self.dur(s) - _union([i for i in iv if i[1] > i[0]])

    def named(self, name, under=None):
        out = [s for s in self.spans if s.name == name]
        if under is not None:
            out = [s for s in out if self.ancestor(s, under) is not None]
        return out

    def ancestor(self, s, prefix):
        p = self.by_id.get(s.parent)
        while p is not None:
            if p.name.startswith(prefix):
                return p
            p = self.by_id.get(p.parent)
        return None

    def within(self, s, name):
        return [x for x in self.subtree(s) if x.name == name and x is not s]


def layer_metrics(spans, jobs, measured: tuple[float, float], extra: dict) -> dict:
    """All LAYER_METRICS values.  ``measured`` is the measured phase's
    (start, end); ``extra`` carries the counts taken after it."""
    ix = SpanIndex(spans, jobs)
    m = dict.fromkeys(LAYER_METRICS, 0.0)

    # build stages of the pages index built in set-up (not the registry's
    # index over the similarity table)
    seg = ix.named("build.segments", under="bench.build")
    m["build.segments_s"] = _med(ix.dur(s) for s in seg)
    m["build.segments_exec_run_s"] = _med(ix.job_sum(s, "run_s") for s in seg)
    m["build.segments_output_bytes"] = _med(ix.job_sum(s, "output") for s in seg)
    m["build.segments_driver_gap_s"] = _med(ix.driver_gap(s) for s in seg)
    post = ix.named("build.postings", under="bench.build")
    m["build.postings_s"] = _med(ix.dur(s) for s in post)
    m["build.postings_shuffle_write_bytes"] = _med(
        ix.job_sum(s, "shuffle_write") for s in post
    )
    m["build.postings_output_bytes"] = _med(ix.job_sum(s, "output") for s in post)
    m["build.postings_jobs"] = _med(len(ix.jobs(s)) for s in post)
    m["build.postings_driver_gap_s"] = _med(ix.driver_gap(s) for s in post)
    der = ix.named("build.derived", under="bench.build")
    m["build.derived_s"] = _med(ix.dur(s) for s in der)
    m["build.derived_output_bytes"] = _med(ix.job_sum(s, "output") for s in der)
    overlaps = []
    for d in der:
        # stage B of the same build_index call (stage C's parent)
        sib = [p for p in post if p.parent == d.parent]
        overlaps.append(
            sum(max(0.0, min(d.end, p.end) - max(d.start, p.start)) for p in sib)
        )
    m["build.derived_overlap_s"] = _med(overlaps)
    m["build.index_bytes_per_doc"] = float(extra.get("build.index_bytes_per_doc", 0.0))

    # incremental writes: one upsert_docs call each
    writes = ix.named("update.upsert")
    if writes:
        m["update.postings_s"] = _med(
            sum(ix.dur(x) for x in ix.within(w, "update.postings")) for w in writes
        )
        m["update.derived_s"] = _med(
            sum(ix.dur(x) for x in ix.within(w, "build.derived")) for w in writes
        )
        m["update.merge_s"] = _med(ix.self_time(w) for w in writes)
        m["update.parts_rewritten"] = _med(w.attrs.get("parts", 0) for w in writes)
        m["update.shards_rewritten"] = _med(
            sum(x.attrs.get("shards", 0) for x in ix.within(w, "update.postings"))
            for w in writes
        )
        rewritten = [ix.job_sum(w, "output") for w in writes]
        m["update.bytes_rewritten"] = _med(rewritten)
        delta = sum(
            ix.by_id[w.parent].attrs.get("delta_bytes", 0)
            for w in writes if w.parent in ix.by_id
        )
        m["update.write_amp"] = sum(rewritten) / delta if delta else 0.0
        m["update.jobs"] = _med(len(ix.jobs(w)) for w in writes)
        m["update.driver_gap_s"] = _med(ix.driver_gap(w) for w in writes)

    # serving path: the server's own time per request (request parsing,
    # JSON encode, socket write) outside SearchApp.handle
    served = ix.named("server.request")
    m["server.http_self_ms"] = 1e3 * _med(
        ix.dur(g) - sum(ix.dur(h) for h in ix.within(g, "server.handle"))
        for g in served
    )
    local = ix.named("wand.local")

    def per_query(name):
        return 1e3 * _med(sum(ix.dur(x) for x in ix.within(q, name)) for q in local)

    def mean_per_query(count):
        return sum(count(q) for q in local) / len(local) if local else 0.0

    m["wand.term_dfs_ms"] = per_query("wand.term_dfs")
    m["wand.bucket_blocks_ms"] = per_query("wand.bucket_blocks")
    bb = {q.sid: ix.within(q, "wand.bucket_blocks") for q in local}
    m["wand.bucket_cache_hits"] = mean_per_query(
        lambda q: sum(1 for x in bb[q.sid] if x.attrs.get("hit"))
    )
    m["wand.bucket_cache_misses"] = mean_per_query(
        lambda q: sum(1 for x in bb[q.sid] if not x.attrs.get("hit"))
    )
    m["wand.score_self_ms"] = 1e3 * _med(ix.self_time(q) for q in local)
    ids = {q.sid: ix.within(q, "codec.decode_ids") for q in local}
    m["wand.postings_per_query"] = _med(
        sum(x.attrs.get("n", 0) for x in ids[q.sid]) for q in local
    )
    m["wand.local_fallbacks"] = mean_per_query(
        lambda q: 1 if ix.within(q, "wand.distributed") else 0
    )
    m["textnorm.query_tokenize_ms"] = per_query("textnorm.query_tokenize")

    def decode_time(q):
        # outermost codec spans only: decode_ids calls for_unpack itself
        return sum(
            ix.dur(x) for x in ix.subtree(q)
            if x.name.startswith("codec.")
            and not ix.by_id[x.parent].name.startswith("codec.")
        )

    m["codec.decode_ms"] = 1e3 * _med(decode_time(q) for q in local)
    m["codec.blocks_decoded"] = _med(len(ids[q.sid]) for q in local)
    m["wand.blocks_candidate"] = _med(q.attrs.get("candidate", 0) for q in local)
    decoded = sum(len(v) for v in ids.values())
    cand = sum(q.attrs.get("candidate", 0) for q in local)
    m["wand.block_prune_frac"] = 1.0 - decoded / cand if cand else 0.0
    reloads = [s for s in ix.named("wand.ensure_fresh") if s.attrs.get("reloaded")]
    m["wand.reload_ms"] = 1e3 * _med(ix.dur(s) for s in reloads)
    batch = ix.named("bench.batch")
    m["wand.batch_jobs"] = _med(len(ix.jobs(s)) for s in batch)
    m["wand.batch_input_bytes"] = _med(ix.job_sum(s, "input") for s in batch)
    m["wand.batch_shuffle_bytes"] = _med(
        ix.job_sum(s, "shuffle_read") + ix.job_sum(s, "shuffle_write") for s in batch
    )
    m["wand.batch_exec_run_s"] = _med(ix.job_sum(s, "run_s") for s in batch)
    m["wand.batch_driver_gap_s"] = _med(ix.driver_gap(s) for s in batch)

    # similarity operators (registry queries over the testdata table)
    m["neardup.s"] = _med(ix.dur(s) for s in ix.named("bench.neardup"))
    dd = ix.named("bench.dedup")
    m["dedup.s"] = _med(ix.dur(s) for s in dd)
    m["dedup.shuffle_bytes"] = _med(
        ix.job_sum(s, "shuffle_read") + ix.job_sum(s, "shuffle_write") for s in dd
    )
    for k in ("neardup.candidate_pairs", "neardup.pairs", "dedup.lsh_candidates",
              "dedup.pairs", "simprints.candidate_fraction"):
        m[k] = float(extra.get(k, 0.0))
    if m["neardup.candidate_pairs"]:
        m["neardup.verify_yield"] = m["neardup.pairs"] / m["neardup.candidate_pairs"]
    if m["dedup.lsh_candidates"]:
        m["dedup.verify_yield"] = m["dedup.pairs"] / m["dedup.lsh_candidates"]
    gran = ix.named("bench.granular")
    multi = ix.named("bench.multiunit")
    m["simprints.granular_ms"] = 1e3 * _med(ix.dur(s) for s in gran)
    m["multiunit.search_ms"] = 1e3 * _med(ix.dur(s) for s in multi)
    m["similar.jobs_per_query"] = _med(len(ix.jobs(s)) for s in gran + multi)

    # share of the measured phase during which an engine function ran or
    # Spark ran a job; the benchmark's own spans (bench.*: the client's
    # urllib and JSON, the oracle bookkeeping) do not count
    t0, t1 = measured
    busy = [
        (s.start, s.end) for s in ix.spans if not s.name.startswith("bench.")
    ] + [
        (j["start"], j["end"]) for j in jobs
        if j["start"] is not None and j["end"] is not None
    ]
    busy = [(max(a, t0), min(b, t1)) for a, b in busy]
    m["trace.coverage"] = _union([i for i in busy if i[1] > i[0]]) / (t1 - t0)
    m["trace.spans"] = float(len(ix.spans))
    return m


def uncovered(spans, jobs, measured: tuple[float, float]) -> dict[str, float]:
    """Seconds of the measured phase that ``trace.coverage`` does not
    cover, by the outermost benchmark span they fall in ("none" outside
    any)."""
    import bisect

    ix = SpanIndex(spans, jobs)
    t0, t1 = measured
    busy = _merged(
        [(s.start, s.end) for s in ix.spans if not s.name.startswith("bench.")]
        + [
            (j["start"], j["end"]) for j in jobs
            if j["start"] is not None and j["end"] is not None
        ]
    )
    starts = [a for a, _ in busy]

    def covered(a, b):
        i = max(bisect.bisect_right(starts, a) - 1, 0)
        total = 0.0
        while i < len(busy) and busy[i][0] < b:
            total += max(0.0, min(b, busy[i][1]) - max(a, busy[i][0]))
            i += 1
        return total

    tops = [
        s for s in ix.spans
        if s.name.startswith("bench.") and s.parent not in ix.by_id
        and s.end > t0 and s.start < t1
    ]
    out: dict[str, float] = {}
    for s in tops:
        a, b = max(s.start, t0), min(s.end, t1)
        out[s.name] = out.get(s.name, 0.0) + (b - a) - covered(a, b)
    spans_cov = _union([(max(s.start, t0), min(s.end, t1)) for s in tops])
    out["none"] = (t1 - t0) - spans_cov
    return {k: round(v, 3) for k, v in sorted(out.items())}
