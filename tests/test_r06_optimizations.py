"""Focused tests for the round-6 optimization rewrites.

Each rewrite claims BIT-identical results to the shape it replaced;
these tests pin that claim directly (the oracle gates check it end to
end, but only at the gate corpora — here the old and new paths are
compared against each other / a pure-Python reference on the shared
fixture corpus).
"""

from __future__ import annotations

import collections

import numpy as np
import pytest
from pyspark.sql import functions as F

from iscc_search_spark.functions.textnorm import tokenize_py


@pytest.fixture(scope="module")
def docs(spark, pages_df):
    from iscc_search_spark.functions.hashing import doc_id_udf

    return pages_df.select(
        doc_id_udf("url").alias("doc_id"), "text"
    ).localCheckpoint()


def test_bm25_onepass_matches_relational(docs):
    """The single-pass ad-hoc scorer must be bit-identical (doc set AND
    float64 scores) to the relational explode/join path it bypasses."""
    from iscc_search_spark.operators.query import (
        bm25_scores,
        doc_lengths,
        doc_term_tf,
    )

    for query in [
        "spark shuffle join",            # plain
        "spark spark shuffle",           # duplicate terms
        "zzznope spark",                 # partial OOV
        "zzznope qqqnope",               # full OOV -> empty
    ]:
        terms = tokenize_py(query)
        fast = {
            r["doc_id"]: r["score"]
            for r in bm25_scores(docs, terms).collect()
        }
        slow = {
            r["doc_id"]: r["score"]
            for r in bm25_scores(
                docs,
                terms,
                tf_df=doc_term_tf(docs),
                lens_df=doc_lengths(docs),
            ).collect()
        }
        assert fast == slow  # dict equality: same docs, bit-equal floats


def test_minhash_signatures_match_python_reference(docs):
    """The factorized Arrow signature kernel must reproduce the frozen
    h32/permutation/min semantics exactly."""
    from iscc_search_spark.functions.hashing import (
        MERSENNE_31,
        h32_py,
        minhash_params,
    )
    from iscc_search_spark.operators.dedup import minhash_signatures

    n_perm, ngram, seed = 16, 3, 42
    a, b = minhash_params(n_perm, seed)
    rows = docs.collect()
    expect = {}
    for r in rows:
        toks = tokenize_py(r["text"])
        sh = {
            " ".join(toks[i : i + ngram])
            for i in range(len(toks) - ngram + 1)
        }
        if not sh:
            continue
        hs = [h32_py(s) % MERSENNE_31 for s in sh]
        expect[r["doc_id"]] = [
            min((h * a[k] + b[k]) % MERSENNE_31 for h in hs)
            for k in range(n_perm)
        ]
    got = {
        r["doc_id"]: [r[f"m{k}"] for k in range(n_perm)]
        for r in minhash_signatures(docs, ngram=ngram).collect()
    }
    assert got == expect


def test_minhash_overflow_branch_matches_normal_branch(spark):
    """The large-vocabulary branch (v**ngram past the int64 headroom)
    refactorizes shingle codes per step; forced here on a 4-token
    vocabulary, its signatures must equal the normal branch's and the
    pure-Python ones over {a b c, b c d, c d b, d b c}."""
    from iscc_search_spark.functions.hashing import (
        MERSENNE_31,
        h32_py,
        minhash_params,
    )
    from iscc_search_spark.operators.dedup import _minhash_sig_udf

    n_perm, ngram, seed = 16, 3, 42
    df = spark.createDataFrame([("a b c d b c",)], "text string")
    normal = df.select(_minhash_sig_udf(n_perm, ngram, seed)("text")).first()[0]
    forced = df.select(
        _minhash_sig_udf(n_perm, ngram, seed, overflow_at=1)("text")
    ).first()[0]
    a, b = minhash_params(n_perm, seed)
    hs = [h32_py(s) % MERSENNE_31 for s in ["a b c", "b c d", "c d b", "d b c"]]
    expect = [
        min((h * a[k] + b[k]) % MERSENNE_31 for h in hs) for k in range(n_perm)
    ]
    assert forced == normal == expect


def test_jaccard_verify_matches_python_reference(docs):
    """array_intersect verify == exact set jaccard on every pair."""
    from iscc_search_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, ngram=1)
    pairs = lsh_candidate_pairs(sigs, max_bucket=16).localCheckpoint()
    got = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in jaccard_verify(docs, pairs, threshold=0.3).collect()
    }
    texts = {r["doc_id"]: set(tokenize_py(r["text"])) for r in docs.collect()}
    for r in pairs.collect():
        s1, s2 = texts[r["doc1"]], texts[r["doc2"]]
        j = len(s1 & s2) / len(s1 | s2)
        if j >= 0.3:
            assert got[(r["doc1"], r["doc2"])] == j
        else:
            assert (r["doc1"], r["doc2"]) not in got


def test_neardup_gemm_kernel_brute_force(spark):
    """The per-bucket GEMM hamming kernel over a skewed synthetic hash set
    (duplicates + a mega-bucket) must equal the O(N^2) brute force."""
    from iscc_search_spark.operators.neardup import simhash_neardup_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(-(2**62), 2**62, size=60, dtype=np.int64)
    # near-dups: flip 0-9 bits of base hashes; exact dups included
    hs = []
    for i, h in enumerate(base):
        hs.append(int(h))
        for flips in (0, 3, 9):
            x = int(h) & (2**64 - 1)
            for b in rng.integers(0, 64, size=flips):
                x ^= 1 << int(b)
            hs.append(x - 2**64 if x >= 2**63 else x)
    rows = [(i, int(v)) for i, v in enumerate(hs)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["doc1"], r["doc2"]): (r["hamming"], r["score"])
        for r in simhash_neardup_pairs(df, max_hamming=7).collect()
    }
    expect = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            hm = bin((rows[i][1] ^ rows[j][1]) & (2**64 - 1)).count("1")
            if hm <= 7:
                expect[(rows[i][0], rows[j][0])] = (hm, 1.0 - hm / 64.0)
    assert got == expect
    # mega-bucket split path: forcing a tiny split_threshold must not
    # change the pair set (sub-group pair coverage is lossless)
    got_split = {
        (r["doc1"], r["doc2"]): (r["hamming"], r["score"])
        for r in simhash_neardup_pairs(
            df, max_hamming=7, split_threshold=8
        ).collect()
    }
    assert got_split == expect


def test_quality_stopword_counts_match_hof(docs):
    """Per-stopword array_remove counts == the HOF filter count they
    replaced (multiplicity included)."""
    from iscc_search_spark.functions.analysis import STOPWORDS_EN, quality_features

    got = {
        r["doc_id"]: r["stopword_ratio"]
        for r in quality_features(docs).collect()
    }
    for r in docs.collect():
        toks = tokenize_py(r["text"])
        n_stop = sum(1 for t in toks if t in STOPWORDS_EN)
        assert got[r["doc_id"]] == n_stop / len(toks)


def test_tpch_ordered_sum_accumulate_matches_fold(spark):
    """np.add.accumulate == the sequential array_sort+aggregate fold,
    including a rounding-sensitive value mix."""
    vals = [0.1, 0.2, 0.3, 1e16, 1.0, -1e16, 7.5, 0.1]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    fold = df.agg(
        F.aggregate(
            F.array_sort(F.collect_list("x")), F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("s")
    ).collect()[0]["s"]
    acc = float(
        np.add.accumulate(
            np.concatenate(([0.0], np.sort(np.array(vals, dtype=np.float64))))
        )[-1]
    )
    assert fold == acc
