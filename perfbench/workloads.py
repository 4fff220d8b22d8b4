"""The two workloads: ``pages`` (build, read path and write path on the
seeded pages corpus) and ``similarity`` (the registry's similarity
operators on a fixed testdata table).

Both drive the engine only through its public surface: ``build_index``,
``upsert_docs``, ``SearchIndex``, the HTTP routes of ``server.make_server``
and the ``entry_queries`` registry.  One client runs a closed loop (it
sends the next request when the previous reply is in), like the
repository's own callers (``RemoteIndex``, the aggregator).

Outputs are collected during the measured phase and checked after it, so
no check is timed.  A check that fails counts its operation as failed.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.parse
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
N_PAGES = 1000  # pages corpus; its whole index fits the 256 MB block cache
# the repository's sf0.01 testdata `documents` table (500 docs, a copy of
# the table tools/check_correctness.py gates on), input of the registry's
# similarity operators; fixed, so the seed does not change it
SIM_DIR = os.path.join(HERE, "data", "sf0.01")
# registry operator -> benchmark span; the first two are batch pipelines
# over the whole table, the last two lookups
SIMILARITY = (
    ("j3_simhash_neardup", "bench.neardup"),
    ("dedup_ngram3_jaccard", "bench.dedup"),
    ("a7_granular_simprint_search", "bench.granular"),
    ("j_multiunit_search", "bench.multiunit"),
)
# the FIXTURES.md §2 reference query set (seed 42): the same queries on every
# seed's corpus, so a run's latency does not depend on which query mix its
# seed happened to draw
QUERY_SEED = 42
N_QUERIES = 100
BATCH = 64  # queries per SearchIndex.search_many call
AFTER_WRITE_QUERIES = 20  # first /search requests after the upsert
WARMUP_QUERIES = 32  # touches every term bucket once before timing
REPLACE, NEW = 20, 20  # docs per upsert: live urls re-sent, urls never seen
K = 10


class Run:
    """One workload run: inputs, timings and the failure tally."""

    def __init__(
        self, spark, tracer, seed: int, seconds: int, work: str, cores: int,
        t_start: float,
    ):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = cores
        self.t_start = t_start  # process start: set-up is timed from here
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict[str, float] = {}
        self.checks: list = []  # (label, thunk returning an error or None)
        self.extra: dict[str, float] = {}  # counts taken outside timed calls
        self.measured = (0.0, 0.0)  # (start, end) of the measured phase

    def attempt(self, label: str, fn):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # the benchmark must report, not stop
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def check(self, label: str, thunk) -> None:
        self.checks.append((label, thunk))

    def run_checks(self) -> None:
        for label, thunk in self.checks:
            try:
                err = thunk()
            except Exception as e:
                err = f"{type(e).__name__}: {str(e)[:300]}"
            if err:
                self.failed += 1
                self.errors.append(f"check {label}: {err}")

    def build(self, pages, index_dir: str):
        """Full build (stages A, B and C) with one docs part and one
        postings shard per core."""
        from iscc_search_spark.operators import build

        with self.tracer.span("bench.build"):
            return self.attempt(
                "build_index",
                lambda: build.build_index(
                    self.spark, pages, index_dir, n_parts=self.cores,
                    n_shards=self.cores, group_size=self.cores,
                ),
            )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _pct(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def _search(run: Run, base: str, query: str):
    """One /search request; returns (latency_s, [(doc_id, score)] or None)."""
    url = f"{base}/search?" + urllib.parse.urlencode({"q": query, "k": K})
    t0 = time.perf_counter()
    with run.tracer.span("bench.request"):
        rows = run.attempt(
            "search",
            lambda: json.loads(urllib.request.urlopen(url, timeout=60).read()),
        )
    lat = time.perf_counter() - t0
    if rows is None:
        return lat, None
    return lat, [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _topk_check(oracle_of, query: str, got):
    def thunk():
        if got is None:
            return None  # already counted as failed
        want = oracle_of(query)
        if got != want:
            return f"{query!r}: got {got[:3]}... want {want[:3]}..."
        return None

    return thunk


def _oracle_cache(rows_by_url: dict[str, str]):
    """Oracle over a frozen doc set, built on first use (untimed)."""
    from iscc_search_spark.corpus import doc_id_for_url
    from iscc_search_spark.oracle import build_oracle

    state: dict = {}

    def search(query: str):
        if "idx" not in state:
            state["idx"] = build_oracle(
                [(doc_id_for_url(u), t) for u, t in rows_by_url.items()]
            )
            state["hits"] = {}
        hits = state["hits"]
        if query not in hits:
            hits[query] = state["idx"].search(query, K)
        return hits[query]

    def meta():
        search("")
        return state["idx"].n_docs, state["idx"].avgdl

    search.meta = meta
    return search


def _batch(run: Run, index, queries: list[str], oracle_of) -> float:
    qs = dict(enumerate(queries))
    t0 = time.perf_counter()
    with run.tracer.span("bench.batch", jobs=True):
        rows = run.attempt("search_many", lambda: index.search_many(qs, k=K).collect())
    wall = time.perf_counter() - t0

    def thunk():
        if rows is None:
            return None
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(int(r["query_id"]), []).append(
                (int(r["doc_id"]), float(r["score"]))
            )
        for qid, q in qs.items():
            if got.get(qid, []) != oracle_of(q):
                return f"batch query {q!r} differs from the oracle"
        return None

    run.check("search_many", thunk)
    return wall


def _build_check(run: Run, res, oracle_of):
    def thunk():
        if res is None:
            return None
        n, avgdl = oracle_of.meta()
        if (res.n_docs, res.avgdl) != (n, avgdl):
            return f"meta n_docs/avgdl {res.n_docs}/{res.avgdl} != oracle {n}/{avgdl}"
        return None

    run.check("build meta", thunk)


def _stop_server(srv) -> None:
    srv.shutdown()
    srv.server_close()


def _upsert_delta(
    live_urls: list[str], n_replace: int, n_new: int, round_no: int, seed: int
) -> list[tuple[str, str, str]]:
    """(url, text, lang) rows: ``n_replace`` live urls with fresh text and
    ``n_new`` urls the index has never seen."""
    import numpy as np

    from iscc_search_spark import corpus

    rng = np.random.default_rng([seed, round_no])
    fresh = corpus.generate_pages(n_replace + n_new, seed=seed * 1000 + round_no)
    texts = fresh.column("text").to_pylist()
    langs = fresh.column("lang").to_pylist()
    pick = rng.choice(len(live_urls), size=n_replace, replace=False)
    urls = [live_urls[int(i)] for i in sorted(pick)]
    urls += [f"https://delta{round_no}.test/s{seed}/p/{i}" for i in range(n_new)]
    return list(zip(urls, texts, langs))


def _pages_rows(path: str) -> dict[str, str]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "text"])
    return dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


# --- serve ---------------------------------------------------------------------


class _Collected:
    """Rows already collected, in the shape tools/check_correctness.compare
    reads (``collect()`` and ``columns``)."""

    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


class _OracleCache:
    """Stands in for a DuckDB connection in ``compare``: runs each oracle
    query over the testdata table once per checkout and keeps its result
    under ``perfbench/.work/oracle/``, keyed by the query text, the table's
    bytes and the DuckDB version.  The table is fixed, so every run checks
    against the same oracle rows without paying the oracle's time (~6 s
    for ``dedup_ngram3_jaccard``) again."""

    def __init__(self):
        import hashlib

        import duckdb

        self.dir = os.path.join(HERE, ".work", "oracle")
        table = os.path.join(SIM_DIR, "documents.parquet")
        with open(table, "rb") as f:
            self.salt = duckdb.__version__ + hashlib.sha256(f.read()).hexdigest()
        self._con = None
        self._table = table

    def sql(self, query: str):
        import hashlib
        import pickle

        key = hashlib.sha256((self.salt + query).encode()).hexdigest()
        path = os.path.join(self.dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return _OracleRows(*pickle.load(f))
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.sql("SET enable_progress_bar = false")
            self._con.sql(
                f"CREATE VIEW documents AS SELECT * FROM '{self._table}'"
            )
        res = self._con.sql(query)
        out = ([d[:1] for d in res.description], res.fetchall())
        os.makedirs(self.dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(out, f)
        os.replace(tmp, path)
        return _OracleRows(*out)


class _OracleRows:
    def __init__(self, description, rows):
        self.description, self._rows = description, rows

    def fetchall(self):
        return self._rows


class Similarity:
    """The registry's similarity operators over the testdata table, each
    checked against its registry DuckDB oracle, compared exactly as
    tools/check_correctness.py does."""

    def __init__(self, run: Run):
        from iscc_search_spark import entry_queries as eq

        self.run = run
        self.queries, self.oracles = eq.build_registry()
        self.walls: dict[str, list[float]] = {}
        self.results: dict[str, tuple] = {}
        self._oracle = None

    def call(self, name: str, span: str) -> None:
        run = self.run

        def op():
            df = self.queries[name](run.spark, SIM_DIR)
            return df.collect(), df.columns

        t0 = time.perf_counter()
        with run.tracer.span(span, jobs=True):
            res = run.attempt(name, op)
        self.walls.setdefault(name, []).append(time.perf_counter() - t0)
        if res is not None:
            self.results[name] = res
        run.check(name, lambda: self._check(name, res))

    def _check(self, name: str, res):
        if res is None:
            return None  # already counted as failed
        from tools.check_correctness import compare

        if self._oracle is None:
            self._oracle = _OracleCache()
        return compare(name, _Collected(*res), self._oracle, self.oracles[name])

    def counts(self) -> dict[str, float]:
        """Candidate and output sizes, counted after the measured phase
        (traced run only) from the candidate relations the operators built
        (``tracing.instrument`` keeps them on their spans)."""
        from pyspark.sql import functions as F

        from iscc_search_spark import entry_queries as eq
        from iscc_search_spark.operators.build import load_simprints
        from iscc_search_spark.operators.simprints import granular_candidate_fraction

        run = self.run
        out: dict[str, float] = {}
        last = {
            sp.name: sp for sp in run.tracer.spans
            if sp.name in ("neardup.bands", "dedup.lsh_candidates")
        }
        if "neardup.bands" in last:
            bands = last["neardup.bands"].attrs["df"]
            l, r = bands.alias("l"), bands.alias("r")
            out["neardup.candidate_pairs"] = (
                l.join(r, (F.col("l.band") == F.col("r.band"))
                       & (F.col("l.key") == F.col("r.key")))
                .filter(F.col("l.doc_id") < F.col("r.doc_id"))
                .select("l.doc_id", "r.doc_id")
                .distinct()
                .count()
            )
        if "dedup.lsh_candidates" in last:
            out["dedup.lsh_candidates"] = last["dedup.lsh_candidates"].attrs["df"].count()
        for name, key in (("j3_simhash_neardup", "neardup.pairs"),
                          ("dedup_ngram3_jaccard", "dedup.pairs")):
            out[key] = len(self.results[name][0]) if name in self.results else 0
        simprints = load_simprints(run.spark, eq._built_index(run.spark, SIM_DIR))
        out["simprints.candidate_fraction"] = granular_candidate_fraction(
            simprints, eq.GRANULAR_QUERY_TEXT, max_hamming=12
        )
        return out


def pages(run: Run) -> dict[str, float]:
    """The seeded pages corpus: a full index built in set-up and served over
    HTTP; /search closed loop and 64-query batches before and after one
    ``upsert_docs`` (re-sent live urls plus new urls, which also refreshes
    the similarity tables of the parts it touches).  Every read is checked
    against an oracle over the doc set live at that moment."""
    from iscc_search_spark import corpus
    from iscc_search_spark.operators import build
    from iscc_search_spark.server import serve_in_thread

    import tracing

    spark, tr = run.spark, run.tracer
    with tr.span("bench.inputs"):
        pages_path = os.path.join(run.work, "pages.parquet")
        corpus.write_pages(pages_path, N_PAGES, seed=run.seed)
        queries = corpus.generate_queries(N_QUERIES, seed=QUERY_SEED)
        live = _pages_rows(pages_path)
        oracle_of = _oracle_cache(dict(live))
    idx = os.path.join(run.work, "index")
    res = run.build(spark.read.parquet(pages_path), idx)
    _build_check(run, res, oracle_of)
    run.detail["build_full_docs_per_s"] = N_PAGES / res.secs if res else 0.0
    run.extra["build.index_bytes_per_doc"] = _dir_bytes(idx) / N_PAGES
    srv, base = serve_in_thread(spark, idx)
    if tr.enabled:
        tracing.instrument_server(tr, srv)
    try:
        with tr.span("bench.warmup"):
            for q in queries[:WARMUP_QUERIES]:
                _search(run, base, q)
        run.detail["setup_s"] = time.time() - run.t_start

        slices: list[list[float]] = []
        batch_walls: list[float] = []

        def read_slice(oracle_of) -> None:
            # one pass over the query set, then more until a third of
            # --seconds is used; then one batch
            lat: list[float] = []
            i = 0
            deadline = time.perf_counter() + run.seconds / 3
            while i < len(queries) or time.perf_counter() < deadline:
                q = queries[i % len(queries)]
                i += 1
                dt, got = _search(run, base, q)
                lat.append(dt)
                run.check("search", _topk_check(oracle_of, q, got))
            slices.append(lat)
            batch_walls.append(_batch(run, srv.app.index, queries[:BATCH], oracle_of))

        # two slices before the upsert and one after it, once the first
        # reads after it have refilled the block cache.  The host slows
        # down for tens of seconds at a time (NOTES.md); a spell then
        # misses at least one slice, and latency and batch time are taken
        # from the fastest slice and the best batch
        t_meas = time.time()
        read_slice(oracle_of)
        read_slice(oracle_of)

        rows = _upsert_delta(list(live), REPLACE, NEW, 0, run.seed)
        delta = spark.createDataFrame(rows, "url string, text string, lang string")
        t = time.perf_counter()
        with tr.span("bench.upsert", jobs=True) as sp:
            if sp is not None:
                sp.attrs["delta_bytes"] = sum(len(x[1].encode()) for x in rows)
            run.attempt("upsert_docs", lambda: build.upsert_docs(spark, delta, idx))
        upsert_wall = time.perf_counter() - t
        live.update({u: txt for u, txt, _ in rows})
        oracle_after = _oracle_cache(dict(live))
        after: list[float] = []
        for q in queries[:AFTER_WRITE_QUERIES]:
            dt, got = _search(run, base, q)
            after.append(dt)
            run.check("search after upsert", _topk_check(oracle_after, q, got))
        read_slice(oracle_after)
        run.measured = (t_meas, time.time())
    finally:
        _stop_server(srv)

    lat = [x for sl in slices for x in sl]
    run.detail.update(
        {
            "search_samples": len(lat),
            "search_p90_ms": 1e3 * _pct(lat, 90),
            "search_p99_ms": 1e3 * _pct(lat, 99),
            "search_qps": len(lat) / sum(lat),
            "batch64_qps": BATCH * len(batch_walls) / sum(batch_walls),
            "upsert_delta_docs": REPLACE + NEW,
            "search_after_write_ms": 1e3 * after[0],
            "search_p50_after_write_ms": 1e3 * statistics.median(after),
            "index_bytes_per_doc": run.extra["build.index_bytes_per_doc"],
        }
    )
    return {
        "setup_s": run.detail["setup_s"],
        "latency_p50_ms": 1e3 * min(statistics.median(sl) for sl in slices),
        "batch_s": min(batch_walls),
        "pipeline_s": upsert_wall,
    }


def similarity(run: Run) -> dict[str, float]:
    """The registry's similarity operators over the fixed testdata table,
    each called once.  The seed does not change this workload."""
    sim = Similarity(run)
    with run.tracer.span("bench.warmup"):
        # the first lookup builds the registry's index over the table
        sim.call(SIMILARITY[2][0], "bench.warmup_granular")
    sim.walls.clear()
    run.detail["setup_s"] = time.time() - run.t_start

    t_meas = time.time()
    for name, span in SIMILARITY:
        sim.call(name, span)
    run.measured = (t_meas, time.time())
    if run.tracer.enabled:
        run.extra.update(sim.counts())

    w = {name: x[0] for name, x in sim.walls.items()}
    lookups = [w[name] for name, _ in SIMILARITY[2:]]
    n_docs = _sim_docs()
    run.detail.update(
        {
            "sim_docs": n_docs,
            "dedup_docs_per_s": n_docs / (w["j3_simhash_neardup"]
                                          + w["dedup_ngram3_jaccard"]),
            **{f"{name}_s": x for name, x in w.items()},
        }
    )
    return {
        "setup_s": run.detail["setup_s"],
        "latency_p50_ms": 1e3 * statistics.median(lookups),
        "batch_s": w["j3_simhash_neardup"],
        "pipeline_s": w["dedup_ngram3_jaccard"],
    }


def _sim_docs() -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(SIM_DIR, "documents.parquet")).num_rows


WORKLOADS = {"pages": pages, "similarity": similarity}
