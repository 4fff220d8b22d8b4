"""In-memory spans around the engine's public calls, plus Spark job metrics.

A traced run wraps engine functions from outside (module attributes are
swapped for timing wrappers; no engine file changes).  Each span records
name, start, end and parent.  Spans that can launch Spark work run
under their own job group, so the jobs they cause can be read back from the
local UI REST API at the end of the run.  An untraced run uses
``NullTracer``, whose spans cost one attribute lookup and a no-op context.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, parent):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = self.end = None
        self.attrs = {}


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name, jobs=False, **attrs):
        yield None


# spans that start work on another thread: the HTTP request a handler
# thread serves, and the build whose stage C runs on a pool thread
THREAD_ROOTS = ("bench.request", "build.index")


class Tracer:
    """Spans kept in memory; parents follow the per-thread call stack.

    A span opened on a thread with an empty stack (the HTTP server's
    handler thread, the build's stage-C pool thread) takes as parent the
    innermost ``THREAD_ROOTS`` span open on the main thread, which is the
    request or build that caused it, not whatever that build has opened
    since (stage B runs beside stage C).  The benchmark has one client,
    so at most one such cause is open at a time.

    Spans the benchmark opens itself are named ``bench.*``; every other
    span is an engine function wrapped by ``instrument``."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = []
        self._next = 0

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current_query(self) -> Span | None:
        """Innermost open ``wand.local`` span on this thread."""
        for sp in reversed(self._stack()):
            if sp.name == "wand.local":
                return sp
        return None

    @contextmanager
    def span(self, name, jobs=False, **attrs):
        st = self._stack()
        if st:
            parent = st[-1].sid
        else:
            roots = [sp for sp in self._main_stack if sp.name in THREAD_ROOTS]
            parent = roots[-1].sid if roots and st is not self._main_stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(sid, name, parent)
        sp.attrs.update(attrs)
        self.spans.append(sp)
        prev = None
        if jobs:
            prev = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
            self.sc.setJobGroup(f"perfbench-{sid}", name)
        st.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            st.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])


# --- instrumentation -----------------------------------------------------------


def _wrap(tracer, fn, name, jobs=False, before=None, after=None):
    def wrapper(*args, **kwargs):
        with tracer.span(name, jobs=jobs) as sp:
            if before is not None:
                before(sp, args, kwargs)
            out = fn(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

    wrapper.__wrapped__ = fn
    return wrapper


def instrument(tracer) -> list[tuple[object, str, object]]:
    """Swap engine functions for span wrappers; returns the undo list.

    Only driver-side call sites are wrapped.  Closures that Spark ships to
    Python workers reference these functions through their modules, which
    the workers import unwrapped."""
    from iscc_search_spark.functions import codec
    from iscc_search_spark.operators import (
        build, dedup, multiunit, neardup, simprints, wand,
    )
    from iscc_search_spark.plans.search import SearchIndex
    from iscc_search_spark.server import SearchApp

    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr, name, jobs=False, before=None, after=None):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, orig, name, jobs, before, after))

    # build: stages A/B/C and the incremental path
    patch(build, "build_index", "build.index", jobs=True)
    patch(build, "build_segments", "build.segments", jobs=True)
    patch(build, "build_postings", "build.postings", jobs=True)
    patch(build, "build_derived", "build.derived", jobs=True)

    def shards_out(sp, args, kwargs, out):
        sp.attrs["shards"] = len(out)

    patch(build, "update_postings_incremental", "update.postings", jobs=True,
          after=shards_out)

    def parts_out(sp, args, kwargs, out):
        sp.attrs["parts"] = len(out)

    patch(build, "upsert_docs", "update.upsert", jobs=True, after=parts_out)

    # similarity operators: keep the candidate relations they build, to
    # count them once the measured phase is over
    def keep_df(sp, args, kwargs, out):
        sp.attrs["df"] = out

    patch(neardup, "simhash_bands", "neardup.bands", after=keep_df)
    patch(dedup, "lsh_candidate_pairs", "dedup.lsh_candidates", after=keep_df)
    # the calls that build those operators' plans (and, for the lookups,
    # read the query row and the persisted tables on the driver)
    patch(neardup, "simhash_neardup_pairs", "neardup.neardup_pairs", jobs=True)
    patch(dedup, "minhash_dedup", "dedup.minhash_dedup", jobs=True)
    for name in ("load_simprint_bands", "load_units", "load_unit_bands"):
        patch(build, name, "build." + name, jobs=True)
    patch(simprints, "granular_topk", "simprints.granular_topk", jobs=True)
    patch(multiunit, "search_assets_multiunit", "multiunit.search", jobs=True)
    patch(SearchIndex, "search_many", "wand.search_many", jobs=True)

    # serving: local WAND path and what it calls on the driver
    def fresh_before(sp, args, kwargs):
        sp.attrs["mtime"] = args[0]._meta_mtime

    def fresh_after(sp, args, kwargs, out):
        sp.attrs["reloaded"] = args[0]._meta_mtime != sp.attrs.pop("mtime")

    def terms_after(sp, args, kwargs, out):
        q = tracer.current_query()
        if q is not None:
            q.attrs["terms"] = list(out)

    def bucket_before(sp, args, kwargs):
        sp.attrs["hit"] = args[1] in args[0]._bucket_cache

    def bucket_after(sp, args, kwargs, out):
        q = tracer.current_query()
        if q is not None and out is not None:
            terms = q.attrs.get("terms", ())
            q.attrs["candidate"] = q.attrs.get("candidate", 0) + int(
                out["term"].isin(terms).sum()
            )

    def ids_before(sp, args, kwargs):
        sp.attrs["n"] = int(args[1])

    R = wand.IndexReader
    patch(R, "ensure_fresh", "wand.ensure_fresh", before=fresh_before,
          after=fresh_after)
    patch(R, "term_dfs", "wand.term_dfs", after=terms_after)
    patch(R, "bucket_blocks", "wand.bucket_blocks", before=bucket_before,
          after=bucket_after)
    patch(wand, "tokenize_py", "textnorm.query_tokenize")
    patch(wand, "decode_block_ids", "codec.decode_ids", before=ids_before)
    patch(codec, "for_unpack", "codec.for_unpack")
    patch(wand, "bm25_wand_topk", "wand.distributed", jobs=True)
    patch(wand, "bm25_wand_topk_local", "wand.local")
    patch(SearchApp, "handle", "server.handle")
    return undo


def instrument_server(tracer, srv) -> None:
    """Time each request a server from ``server.make_server`` handles, on
    its handler thread: request parsing, ``SearchApp.handle``, the JSON
    encode and the socket write (``finish_request`` of the server)."""
    srv.finish_request = _wrap(tracer, srv.finish_request, "server.request")


def uninstrument(undo) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# --- Spark job and stage metrics from the local UI REST API --------------------


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_jobs(spark, timeout_s: float = 30.0) -> list[dict]:
    """Every job of this application with its completed stages' totals.

    The UI store is fed by Spark's listener bus, which lags the jobs'
    completion; poll until it shows no running job."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + timeout_s
    while True:
        jobs = _get(f"{base}/jobs")
        running = [j for j in jobs if j.get("status") == "RUNNING"]
        if not running or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {}
    for st in _get(f"{base}/stages?status=complete"):
        stages[st["stageId"]] = st
    out = []
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        own = [s for s in j.get("stageIds", []) if s in stages and s not in seen]
        seen.update(own)
        out.append(
            {
                "group": j.get("jobGroup"),
                "desc": j.get("description") or "",
                "start": _epoch(j.get("submissionTime")),
                "end": _epoch(j.get("completionTime")),
                "run_s": sum(stages[s]["executorRunTime"] for s in own) / 1000.0,
                "input": sum(stages[s]["inputBytes"] for s in own),
                "output": sum(stages[s]["outputBytes"] for s in own),
                "shuffle_read": sum(stages[s]["shuffleReadBytes"] for s in own),
                "shuffle_write": sum(stages[s]["shuffleWriteBytes"] for s in own),
            }
        )
    return out
