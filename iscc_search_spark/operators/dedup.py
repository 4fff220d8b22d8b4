"""Deduplication operators for large-scale training-data pipelines.

Three families, all deterministic and oracle-verifiable (the cross-engine
hash discipline of functions/hashing.py keeps every value computable in
DuckDB SQL too):

- exact: identical normalized text -> one canonical survivor per group
  (hash-groupBy; the relational form of the reference's set-semantics
  posting dedup U1/U2, iscc_search/indexes/lmdb/index.py:139-141).
- minhash + LSH: per-doc minhash signature over the token set, banded into
  LSH buckets; candidate pairs from band equality are verified with exact
  Jaccard (the reference's analogue is the banded ANN candidate fetch +
  exact re-rank, usearch_core.py:160-196).
- n-gram Jaccard: same machinery over token n-gram shingles.

Scale notes: signature computation is one pass (n_perm min-aggregations,
JVM-side, map-side partial min); the LSH join shuffles only
(band_id, band_key) pairs; exact verification touches only candidate pairs.
Never an O(N^2) cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iscc_search_spark.functions.textnorm import tokens_expr


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, dup_key, group_size, keep) — exact-text duplicate groups.

    ``keep`` marks the canonical survivor (min doc_id), the deterministic
    analogue of the reference's keep-last upsert rule (B3,
    usearch/index.py:263-301) for immutable batch corpora.
    """
    keyed = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("dup_key")
    )
    groups = keyed.groupBy("dup_key").agg(
        F.count("*").alias("group_size"), F.min("doc_id").alias("canonical")
    )
    return (
        keyed.join(groups, "dup_key")
        .select(
            "doc_id",
            "dup_key",
            "group_size",
            (F.col("doc_id") == F.col("canonical")).alias("keep"),
        )
    )


def _shingles_expr(text_col: str, n: int):
    """Array of n-gram shingles (space-joined token windows), JVM-side."""
    toks = tokens_expr(text_col)
    if n == 1:
        return toks
    # transform over indices 0..size-n; guard short docs (sequence would
    # otherwise run descending for negative bounds)
    return F.when(F.size(toks) >= n, F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )).otherwise(F.array().cast("array<string>"))


def _minhash_sig_udf(n_perm: int, ngram: int, seed: int, overflow_at: int = 2**62):
    """Arrow-batched text -> minhash signature (array of n_perm longs, or
    null for docs with no shingles).

    Value-identical to explode(array_distinct(shingles)) + h32_expr +
    n_perm min-aggregations, but computed in ONE pass with the md5 run
    once per UNIQUE shingle of the batch (shingle vocabularies are tiny
    relative to occurrence counts — the JVM expression path paid one md5
    + conv per occurrence, measured 83 s of CPU at 50k docs / 50M
    occurrences vs ~2 s here).  Shingles are factorized as integer
    token-code windows; the shingle STRING is only materialized once per
    unique shingle to feed md5.  A batch whose ``v**ngram`` shingle-code
    space reaches ``overflow_at`` (int64 headroom) is refactorized per
    step instead."""
    import numpy as np

    from iscc_search_spark.functions.hashing import (
        MERSENNE_31,
        h32_py,
        minhash_params,
    )

    a, b = minhash_params(n_perm, seed)
    a_arr = np.array(a, dtype=np.int64)[:, None]
    b_arr = np.array(b, dtype=np.int64)[:, None]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(text):
        import pandas as pd

        from iscc_search_spark.functions.textnorm import tokenize_py

        docs_tokens = [tokenize_py(t) if t is not None else [] for t in text]
        n_docs = len(docs_tokens)
        lens = np.array([len(t) for t in docs_tokens], dtype=np.int64)
        wins = np.maximum(lens - (ngram - 1), 0)
        total_w = int(wins.sum())
        out: list = [None] * n_docs
        if total_w == 0:
            return pd.Series(out)
        flat = np.empty(int(lens.sum()), dtype=object)
        pos = 0
        for t in docs_tokens:
            flat[pos : pos + len(t)] = t
            pos += len(t)
        codes, uniq_tokens = pd.factorize(flat)
        codes = codes.astype(np.int64)
        v = len(uniq_tokens)
        doc_off = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(lens, out=doc_off[1:])
        win_off = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(wins, out=win_off[1:])
        wdoc = np.repeat(np.arange(n_docs, dtype=np.int64), wins)
        starts = (
            np.arange(total_w, dtype=np.int64)
            - win_off[wdoc]
            + doc_off[wdoc]
        )
        if ngram == 1 or float(v) ** ngram < overflow_at:
            comb = codes[starts]
            for j in range(1, ngram):
                comb = comb * v + codes[starts + j]
        else:  # giant batch vocabulary: refactorize per step (no overflow)
            levels: list = []
            comb = codes[starts]
            for j in range(1, ngram):
                key = comb * v + codes[starts + j]
                lu, comb = np.unique(key, return_inverse=True)
                levels.append(lu)
        # per-doc distinct shingles
        order = np.lexsort((comb, wdoc))
        wd, cb = wdoc[order], comb[order]
        keep = np.ones(len(cb), dtype=bool)
        keep[1:] = (wd[1:] != wd[:-1]) | (cb[1:] != cb[:-1])
        wd, cb = wd[keep], cb[keep]
        # md5 once per unique shingle of the batch
        gu, ginv = np.unique(cb, return_inverse=True)
        if ngram == 1:
            strs = [uniq_tokens[int(g)] for g in gu]
        elif float(v) ** ngram < overflow_at:
            strs = []
            for g in gu.tolist():
                parts = []
                for _ in range(ngram):
                    parts.append(uniq_tokens[g % v])
                    g //= v
                strs.append(" ".join(reversed(parts)))
        else:
            strs = []
            for g in gu.tolist():
                # g indexes the last level's unique keys, not a key
                g = int(levels[-1][g])
                parts = [uniq_tokens[g % v]]
                g //= v
                for lu in reversed(levels[:-1]):
                    g = int(lu[g])
                    parts.append(uniq_tokens[g % v])
                    g //= v
                parts.append(uniq_tokens[g])
                strs.append(" ".join(reversed(parts)))
        h32u = np.fromiter(
            (h32_py(s) for s in strs), dtype=np.int64, count=len(strs)
        )
        perm = (h32u[None, :] % MERSENNE_31 * a_arr + b_arr) % MERSENNE_31
        pv = perm[:, ginv]  # (n_perm, n_flat_distinct)
        bounds = np.flatnonzero(np.r_[True, wd[1:] != wd[:-1]])
        mins = np.minimum.reduceat(pv, bounds, axis=1)
        for i, d in enumerate(wd[bounds].tolist()):
            out[d] = mins[:, i].tolist()
        return pd.Series(out)

    # asNondeterministic: the result feeds a null-filter plus n_perm
    # getItem projections — without the marker the optimizer inlines the
    # UDF into every consumer (17 evaluations of the whole kernel,
    # measured 5.0 s vs 0.9 s for this stage; guide §4.4 duplication)
    return sig.asNondeterministic()


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    ngram: int = 1,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, m0..m{n_perm-1}) minhash signature over the shingle set.

    One Arrow pass (see _minhash_sig_udf) — no shuffle: the old
    explode + md5-per-occurrence + groupBy(doc_id) pipeline paid the md5
    per shingle occurrence AND a corpus-sized exchange.  Docs with no
    shingles yield a null signature and are dropped, exactly as explode
    dropped their empty arrays.  The input is re-spread to the session's
    default parallelism first so the tokenize/hash work uses every core
    even on few-file corpora."""
    from iscc_search_spark.session import spread_small

    sig = _minhash_sig_udf(n_perm, ngram, seed)
    spread = spread_small(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    )
    return (
        spread.select("doc_id", sig(text_col).alias("_sig"))
        .filter(F.col("_sig").isNotNull())
        .select(
            "doc_id",
            *[F.col("_sig")[k].alias(f"m{k}") for k in range(n_perm)],
        )
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_perm: int = 16,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc1, doc2) candidate pairs sharing >=1 LSH band.

    ``max_bucket`` caps each (band, key) bucket at its ``max_bucket``
    smallest doc_ids before pairing — the skew guard for degenerate band
    keys (boilerplate/empty documents on real web data produce mega-buckets
    whose |bucket|^2 pairs dominate everything).  Deterministic and the
    lossless-where-possible analogue of the reference's dup_limit=1000 cap
    (iscc_search/indexes/simprint/lmdb_ops.py:139-166); None (default)
    keeps recall exact — use the cap at scale, where a capped bucket of
    near-identical docs still chains into one dup cluster transitively.
    """
    rows_per_band = n_perm // n_bands
    # ONE scan of the signature relation: the n_bands (band, key) rows
    # per doc come from a JVM explode of struct literals (n_bands unioned
    # selects each re-scan sigs — and re-run the signature UDF — per band)
    entries = []
    for bi in range(n_bands):
        cols = [f"m{bi * rows_per_band + r}" for r in range(rows_per_band)]
        entries.append(
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "-", *[F.col(c).cast("string") for c in cols]
                ).alias("key"),
            )
        )
    all_bands = sigs.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.key").alias("key"))
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "key").orderBy("doc_id")
        all_bands = (
            all_bands.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_bucket)
            .drop("rn")
        )
    left = all_bands.alias("l")
    right = all_bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc1"), F.col("r.doc_id").alias("doc2"))
        .distinct()
    )


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """(doc1, doc2, jaccard) for candidate pairs with exact Jaccard >= t.

    Exact set intersection via an equi-join on shingles of the candidate
    docs only (semi-join pruned) — integers all the way, so the final
    division is the only float op (bit-identical across engines).
    """
    cand_docs = (
        pairs.select(F.col("doc1").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc2").alias("doc_id")))
        .distinct()
    )
    # One row per candidate doc carrying its DISTINCT shingle set as an
    # array of DICTIONARY-ENCODED int64 ids: the intersection is a JVM
    # array_intersect per pair over longs.  The previous shapes were (a)
    # explode + join pairs on doc1, then on (doc2, s), then two size
    # joins — shuffled per-shingle rows and concentrated a hot doc's
    # pairs x shingles fanout in one task; (b) string-array
    # array_intersect per pair — ~20 us/pair (a hash set of UTF8Strings
    # built per call, measured 39 s CPU at ~2M candidate pairs).  The
    # dictionary is a bijection, so intersection/size counts — and hence
    # the jaccard doubles — are identical; the id assignment itself
    # (monotonically_increasing_id) is run-dependent, which is why
    # doc_sets is checkpointed: both join references must read the SAME
    # materialized ids.  Every join key (doc1 / doc2) is unique on the
    # doc_sets side, so join output == |pairs| rows.
    # (no broadcast hint: the candidate set can be corpus-scale in a real
    # dedup run — AQE picks broadcast when it is actually small)
    from iscc_search_spark.session import spread_small

    flat = (
        spread_small(
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
            .join(cand_docs, "doc_id", "left_semi")
        )
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(_shingles_expr(text_col, ngram))
            ).alias("s"),
        )
    )
    sdict = (
        flat.select("s").distinct()
        .withColumn("sid", F.monotonically_increasing_id())
    )
    doc_sets = (
        flat.join(sdict, "s")
        .groupBy("doc_id")
        .agg(F.collect_list("sid").alias("ss"))
        .localCheckpoint(eager=False)
    )
    out = (
        pairs.join(
            doc_sets.select(
                F.col("doc_id").alias("doc1"), F.col("ss").alias("ss1")
            ),
            "doc1",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("doc2"), F.col("ss").alias("ss2")
            ),
            "doc2",
        )
        .withColumn("inter", F.size(F.array_intersect("ss1", "ss2")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("ss1") + F.size("ss2") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )
    return out


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 16,
    n_bands: int = 4,
    ngram: int = 1,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full pipeline: signatures -> LSH candidates -> exact Jaccard >= t.

    Set ``max_bucket`` (e.g. 1000) at web scale to bound degenerate LSH
    buckets; leave None for exact recall (see lsh_candidate_pairs).
    """
    # materialize the signature and candidate stages once (lazy
    # localCheckpoint): the LSH self-join references sigs on both sides
    # and the verify joins pairs twice — without a cut, the md5 +
    # n_perm-permutation lineage (the pipeline's dominant cost) re-runs
    # per reference
    sigs = minhash_signatures(
        docs, text_col, id_col, n_perm, ngram, seed
    ).localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(sigs, n_perm, n_bands, max_bucket).localCheckpoint(
        eager=False
    )
    return jaccard_verify(docs, pairs, text_col, id_col, ngram, threshold)


def dup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """(doc_id, cluster_id) — transitive near-duplicate CLUSTERS from a
    pairs relation (doc1, doc2): connected components with the cluster
    labeled by its minimum doc_id, the canonicalization step a training
    pipeline runs after any pairwise dedup (exact / minhash / simhash /
    embedding) so that A~B and B~C collapse A, B, C into ONE group even
    when A~C was never proposed.

    Spark-first: iterative min-label propagation — per round, every
    vertex takes the min of its own label and its neighbors' labels
    (one join + one groupBy, both map-side-combinable); rounds until
    fixpoint, bounded by the component diameter (near-dup clusters are
    shallow: dup chains, not long paths).  Each round localCheckpoints
    the label table so the plan stays flat (no exponential lineage) and
    the convergence check is a cheap count on the CHANGED rows only.
    At 10^12 docs this is the standard large-graph CC recipe (hash-join
    rounds over (vertex, label) pairs); the driver loop only compares a
    scalar per round, never collects data.
    """
    edges = (
        pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
        .unionByName(
            pairs.select(F.col("doc2").alias("a"), F.col("doc1").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.withColumnRenamed("doc_id", "b2"),
                F.col("b") == F.col("b2"),
            )
            .groupBy("a")
            .agg(F.min("cluster_id").alias("n_min"))
        )
        updated = (
            labels.join(neigh, labels.doc_id == neigh.a, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("n_min"), F.col("cluster_id"))
                ).alias("new_id"),
                F.col("cluster_id"),
            )
            .localCheckpoint()  # flatten lineage; reused twice below
        )
        changed = updated.filter(F.col("new_id") != F.col("cluster_id")).count()
        labels = updated.select(
            "doc_id", F.col("new_id").alias("cluster_id")
        ).localCheckpoint(eager=False)
        if changed == 0:
            break
        # pointer doubling: label <- label(label).  Labels are vertex ids
        # with label(v) <= v (monotone min updates), so chasing one hop
        # halves the remaining distance to the component minimum — total
        # rounds become O(log diameter) instead of O(diameter), and a
        # boilerplate family with a 10^4-long dup chain converges in ~14
        # rounds rather than silently splitting at max_iter.  The fixpoint
        # is unchanged: the changed==0 exit above fires only when every
        # vertex already holds its component minimum.
        parents = labels.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_label")
        )
        labels = (
            labels.join(parents, labels.cluster_id == parents.p_id, "left")
            .select(
                "doc_id",
                F.coalesce("p_label", "cluster_id").alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )
    else:
        # max_iter exhausted with changed > 0: labels would be split and
        # silently wrong — refuse rather than return bad cluster ids
        raise RuntimeError(
            f"dup_clusters did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter"
        )
    return labels


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    ngram: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bench_id, containment) — eval-set DECONTAMINATION: flag
    training documents whose distinct n-gram overlap with a benchmark
    text reaches ``threshold`` of the benchmark's n-grams
    (containment = |ngrams(doc) ∩ ngrams(bench)| / |ngrams(bench)| —
    the standard leakage check training pipelines run against held-out
    eval sets before training).

    Scale shape: the benchmark side is small by definition (eval sets),
    so its shingles BROADCAST; the corpus side is one shingle explode +
    a broadcast-hash semi-ish join + a map-side-combinable count — never
    a doc×bench cross join, and the 100 TB corpus is touched once.
    Integer counts all the way; the final division is the only float op
    (bit-identical across engines)."""
    bsh = bench.select(
        F.col("bench_id"),
        F.explode(F.array_distinct(_shingles_expr(text_col, ngram))).alias("s"),
    )
    bsizes = bsh.groupBy("bench_id").agg(F.count("*").alias("n_bench"))
    dsh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(_shingles_expr(text_col, ngram))).alias("s"),
    )
    inter = (
        dsh.join(F.broadcast(bsh), "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(F.broadcast(bsizes), "bench_id")
        .withColumn(
            "containment",
            F.col("inter").cast("double") / F.col("n_bench").cast("double"),
        )
        .filter(F.col("containment") >= F.lit(threshold))
        .select("doc_id", "bench_id", "containment")
    )
