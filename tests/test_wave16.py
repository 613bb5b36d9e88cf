"""Semantic invariants for the wave-16 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_threshold_sweep_monotone(spark):
    rows = Q["emb_dup_threshold_sweep"](spark, SF_DIR).collect()
    assert [r.thr for r in rows] == [0.4, 0.5, 0.6, 0.7]
    pairs = [r.n_pairs for r in rows]
    vecs = [r.n_vecs_affected for r in rows]
    # tightening the threshold can only shed pairs and vectors
    assert pairs == sorted(pairs, reverse=True)
    assert vecs == sorted(vecs, reverse=True)
    for r in rows:
        # every pair involves 2 vectors; distinct can't exceed 2x pairs
        assert r.n_vecs_affected <= 2 * r.n_pairs
        if r.n_pairs:
            assert r.n_vecs_affected >= 2


def test_rag_chunks_cover_every_token_with_overlap(spark):
    rows = Q["doc_rag_chunks"](spark, SF_DIR).collect()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = {
        r.doc_id: r.n
        for r in d.select(
            "doc_id",
            F.size(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                    r"\s+",
                )
            ).alias("n"),
        ).collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(toks)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = toks[doc_id]
        # chunk count matches the stride arithmetic
        assert len(chunks) == (n - 1) // 48 + 1
        # every chunk holds exactly the tokens its window covers
        for i, c in enumerate(chunks):
            assert c.chunk_idx == i
            assert c.n_tokens == min(64, n - 48 * i)
        assert all(len(c.chunk_sha) == 64 for c in chunks)
