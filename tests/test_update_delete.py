"""Incremental upsert/delete (true B4): post-update queries return the new
ranking, only the affected docs partitions rewrite, deletes drop postings —
the Spark analogue of the reference's delete-stale-then-insert update txn
(usearch/index.py:337-348)."""

import os

import pytest
from pyspark.sql import functions as F

from iscc_search_spark.catalog import IndexCatalog
from iscc_search_spark.config import EngineConfig
from iscc_search_spark.corpus import doc_id_for_url, generate_queries
from iscc_search_spark.operators.build import build_index, delete_docs, upsert_docs
from iscc_search_spark.operators.wand import bm25_wand_topk
from iscc_search_spark.oracle import build_oracle

CFG = EngineConfig(block_size=16)
N_PARTS = 8


def _part_mtimes(cat: IndexCatalog) -> dict[int, float]:
    out = {}
    for d in os.listdir(cat.docs):
        if d.startswith("part="):
            p = os.path.join(cat.docs, d)
            out[int(d.split("=")[1])] = max(
                os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
            )
    return out


def _oracle_for(rows):
    return build_oracle([(doc_id_for_url(u), t) for u, t in rows])


@pytest.fixture()
def built(spark, pages_df, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, pages_df, d, cfg=CFG, n_parts=N_PARTS, n_shards=4, group_size=N_PARTS)
    return d


def test_upsert_changes_ranking_and_touches_one_part(spark, pages_df, built):
    cat = IndexCatalog(built)
    before = _part_mtimes(cat)

    target_url = pages_df.select("url").orderBy("url").first()["url"]
    new_text = "freshly rewritten document " + "t00000 " * 30
    delta = spark.createDataFrame(
        [(target_url, new_text, "en")], "url string, text string, lang string"
    )
    parts = upsert_docs(spark, delta, built, cfg=CFG)
    assert len(parts) == 1

    after = _part_mtimes(cat)
    changed = {p for p in after if after[p] != before.get(p)}
    assert changed == set(parts)  # only the affected partition rewrote

    # post-update ranking matches an oracle over the UPDATED corpus
    rows = [
        (r["url"], new_text if r["url"] == target_url else r["text"])
        for r in pages_df.select("url", "text").collect()
    ]
    oracle = _oracle_for(rows)
    for q in ["t00000 t00001", generate_queries(10)[6]]:
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_wand_topk(spark, built, q, k=10).orderBy("rank").collect()
        ]
        assert got == oracle.search(q, k=10), q


def test_upsert_inserts_new_doc(spark, pages_df, built):
    new_url = "https://example999.test/p/brandnew"
    delta = spark.createDataFrame(
        [(new_url, "zzbrandnew zzbrandnew unique tokens here", "en")],
        "url string, text string, lang string",
    )
    upsert_docs(spark, delta, built, cfg=CFG)
    got = bm25_wand_topk(spark, built, "zzbrandnew", k=5).collect()
    assert [r["doc_id"] for r in got] == [doc_id_for_url(new_url)]
    cat = IndexCatalog(built)
    assert cat.read_meta()["n_docs"] == 201


def test_delete_removes_doc_and_postings(spark, pages_df, built):
    cat = IndexCatalog(built)
    target_url = pages_df.select("url").orderBy("url").first()["url"]
    target_id = doc_id_for_url(target_url)

    delete_docs(spark, [target_url], built, cfg=CFG)
    assert cat.read_meta()["n_docs"] == 199
    docs = spark.read.parquet(cat.docs)
    assert docs.filter(F.col("doc_id") == target_id).count() == 0

    # rank-identity vs an oracle over the corpus WITHOUT the deleted doc
    rows = [
        (r["url"], r["text"])
        for r in pages_df.filter(F.col("url") != target_url)
        .select("url", "text")
        .collect()
    ]
    oracle = _oracle_for(rows)
    for q in generate_queries(16)[6:10]:
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_wand_topk(spark, built, q, k=10).orderBy("rank").collect()
        ]
        assert got == oracle.search(q, k=10), q
        assert target_id not in [d for d, _ in got]


def test_upsert_dedupes_delta_per_url(spark, pages_df, built):
    """A delta carrying the same url twice must insert ONE docs row (the
    deterministic survivor), not two — duplicate rows double-counted df,
    n_docs and avgdl and doubled (doc, term) postings before round 4."""
    from iscc_search_spark.operators.query import BM25Config
    from iscc_search_spark.operators.wand import bm25_wand_topk

    url = "http://dup.test/page"
    old_text = "qqversion one body qqolddup t00002"
    new_text = "qqversion two body qqnewdup t00003 t00003"
    import datetime

    t0 = datetime.datetime(2026, 1, 1)
    t1 = datetime.datetime(2026, 1, 2)
    delta = spark.createDataFrame(
        [(url, old_text, "en", t0), (url, new_text, "en", t1)],
        "url string, text string, lang string, warc_ts timestamp",
    )
    upsert_docs(spark, delta, built, cfg=CFG)
    cat = IndexCatalog(built)
    docs = spark.read.parquet(cat.docs).filter(F.col("url") == url).collect()
    assert len(docs) == 1  # one surviving row
    did = doc_id_for_url(url)
    assert docs[0]["doc_id"] == did

    # the survivor is the LATEST warc_ts version, and the index state is
    # IDENTICAL to upserting only that row into a fresh copy
    n_docs_after = spark.read.parquet(cat.docs).count()
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_wand_topk(spark, built, "qqnewdup", k=5).collect()
    ]
    assert any(d == did for d, _ in got)  # new_text's term is indexed
    lost = bm25_wand_topk(spark, built, "qqolddup", k=5).collect()
    assert not any(r["doc_id"] == did for r in lost)  # loser version gone

    # postings not duplicated: the shared term hits this doc exactly once
    tf_rows = bm25_wand_topk(spark, built, "qqversion", k=10).collect()
    assert sum(1 for row in tf_rows if row["doc_id"] == did) == 1

    # replaying the SAME delta is a no-op (idempotent convergence)
    before = spark.read.parquet(cat.docs).count()
    upsert_docs(spark, delta, built, cfg=CFG)
    assert spark.read.parquet(cat.docs).count() == before == n_docs_after


def test_write_path_releases_checkpoints(spark, pages_df, built):
    """The streaming sink calls upsert_docs once per micro-batch for the
    life of the session: no checkpoint or persist of the upsert/delete
    path may outlive its call."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    urls = [r["url"] for r in pages_df.select("url").orderBy("url").limit(3).collect()]
    for i, url in enumerate(urls):
        delta = spark.createDataFrame(
            [(url, f"rewritten body {i} t00001", "en"),
             (f"http://new.test/{i}", f"inserted page {i}", "en")],
            "url string, text string, lang string",
        )
        upsert_docs(spark, delta, built, cfg=CFG)
        assert jsc.getPersistentRDDs().size() == before
    delete_docs(spark, urls[:2], built, cfg=CFG)
    assert jsc.getPersistentRDDs().size() == before
    assert IndexCatalog(built).read_meta()["n_docs"] == 201
