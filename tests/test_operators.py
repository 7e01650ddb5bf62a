"""Operator tests that aren't covered by the DuckDB oracle sweep:
multimodal plumbing, ANN⊆brute consistency, memory pin/drop, and the
minhash-LSH ⊇ high-jaccard guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


# ---------- multimodal ----------

def test_multimodal_features(spark):
    from oscar_spark.operators.multimodal import (
        extract_features, frame_sample, synth_media)
    media = synth_media(spark, 48)
    feats = extract_features(media).collect()
    assert len(feats) == 48
    by_id = {r["media_id"]: r for r in feats}
    for r in feats:
        assert len(r["feat"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["feat"])
        assert r["n_bytes"] > 0 and len(r["digest"]) == 32
    # determinism: same payload → same feature
    feats2 = {r["media_id"]: r for r in extract_features(media).collect()}
    assert all(by_id[i]["feat"] == feats2[i]["feat"] for i in by_id)
    frames = frame_sample(media, every_ms=5000).collect()
    vids = [r for r in media.collect() if r["kind"] == "video"]
    expected = sum(r["duration_ms"] // 5000 + 1 for r in vids)
    assert len(frames) == expected


# ---------- similarity consistency ----------

def test_ann_subset_of_brute(spark):
    from oscar_spark.operators.similarity import (
        ann_lsh_topk, cosine_topk, load_embeddings, _lsh_bucket)
    brute = {r["vec_id"]: r["cosine"]
             for r in cosine_topk(spark, SF, 0, 499).collect()}
    ann = ann_lsh_topk(spark, SF, 0, 10).collect()
    # every ANN hit must carry the exact brute-force cosine
    for r in ann:
        assert r["vec_id"] in brute
        assert r["cosine"] == pytest.approx(brute[r["vec_id"]], abs=1e-6)
    # bucket recall sanity: candidates all share the query's bucket
    emb = load_embeddings(spark, SF).withColumn(
        "bucket", _lsh_bucket(F.col("embedding"), 4, 64))
    qb = emb.filter(F.col("vec_id") == 0).collect()[0]["bucket"]
    cand_buckets = {r["bucket"] for r in emb.filter(
        F.col("vec_id").isin([x["vec_id"] for x in ann])).collect()}
    assert cand_buckets == {qb}


# ---------- dedup guarantee ----------

def test_lsh_catches_exact_duplicate(spark):
    """Two identical texts must collide in every band → appear in LSH
    candidate pairs (minhash completeness on jaccard=1 pairs)."""
    import pandas as pd
    from oscar_spark.operators import dedup
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["alpha beta gamma delta epsilon"] * 2 + ["zeta eta theta iota"],
        "lang": ["en"] * 3, "source": ["s"] * 3, "n_chars": [30] * 3,
    })
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
        pairs = dedup.minhash_lsh_pairs(spark, d).collect()
        assert (0, 1) in {(r["doc_a"], r["doc_b"]) for r in pairs}
        jac = dedup.ngram_jaccard_pairs(spark, d, threshold=0.99).collect()
        assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in jac] == \
            [(0, 1, 1.0)]


# ---------- S7 memory control ----------

def test_pin_drop_memory(spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    r1 = eng.search("the", k=5)
    eng.pin_memory()
    assert eng.postings.storageLevel.useMemory
    r2 = eng.search("the", k=5)
    eng.drop_memory()
    assert not eng.postings.storageLevel.useMemory
    assert r1 == r2
