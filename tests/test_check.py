"""Store consistency: `check_index` (the ConsistencyCheckers.cpp
analog) on healthy and corrupted stores, and the refusal of every
store reader to open a store in a layout it no longer reads."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _write_pages_file(pdf, path: str) -> None:
    pdf = pdf.copy()
    # Spark's parquet reader rejects TIMESTAMP(NANOS); write microseconds
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


# ---- store consistency checker (ConsistencyCheckers.cpp analog) ----

def test_check_index_green_on_fresh_and_appended(spark, built_index):
    from oscar_spark.build.check import check_index
    d, _ = built_index
    res = check_index(spark, d)
    assert res["ok"], res["checks"]
    assert set(res["checks"]) >= {
        "stages_committed", "segments_present", "doc_stats_keys_unique",
        "doc_ids_contiguous",
        "meta_counts_match", "terms_df_equals_postings",
        "terms_bucket_is_hash", "postings_bucket_is_hash",
        "block_ranges_strictly_increasing", "payload_decode_sample"}


def test_check_index_catches_meta_corruption(spark, tmp_path):
    from oscar_spark.build.check import check_index
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import pages_spark_df
    from oscar_spark.sources.tables import IndexStore
    d = str(tmp_path / "cidx")
    build_index(spark, pages_spark_df(spark, 60), d)
    store = IndexStore(d)
    store.commit_append(meta={**store.manifest()["meta"],
                              "n_docs": 999999})
    res = check_index(spark, d)
    assert not res["ok"]
    assert not res["checks"]["meta_counts_match"]["ok"]


def test_check_index_catches_missing_segment(spark, built_index, tmp_path):
    """A segment the manifest lists but whose directory is gone fails
    the check (an engine opened before the deletion fails its queries
    with FILE_NOT_EXIST; a fresh read just misses the rows)."""
    import os
    import shutil

    from oscar_spark.build.check import check_index
    d = str(tmp_path / "copy")
    shutil.copytree(built_index[0], d)
    shutil.rmtree(os.path.join(d, "doc_stats", "seg=base"))
    res = check_index(spark, d)
    assert not res["ok"]
    assert res["checks"]["segments_present"] == {
        "ok": False, "detail": {"missing": ["doc_stats/seg=base"]}}


def test_payload_dedup_store_rejected(spark, tmp_path):
    """A store whose manifest records the retired payload-dedup layout
    (postings holding an md5 ref instead of the payload bytes) is
    refused with a rebuild message by every reader: an engine open, an
    append, a compaction and the consistency check.  The refused
    append commits nothing, and the rebuild the message asks for (a
    fresh build in the same directory) gives a store that serves."""
    import json

    from oscar_spark.build.check import check_index
    from oscar_spark.build.indexer import build_index, compact_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    pdf = generate_pages(90)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    _write_pages_file(pdf.iloc[:60], str(pdir / "p0.parquet"))
    d = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(str(pdir)), d)
    store = IndexStore(d)
    store.commit_append(meta={**store.manifest()["meta"],
                              "payload_dedup": True})
    before = json.dumps(store.manifest(), sort_keys=True)

    with pytest.raises(ValueError, match="rebuild"):
        SearchEngine(spark, d)
    _write_pages_file(pdf.iloc[60:], str(pdir / "p1.parquet"))
    with pytest.raises(ValueError, match="rebuild"):
        build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert json.dumps(store.manifest(), sort_keys=True) == before
    with pytest.raises(ValueError, match="rebuild"):
        compact_index(spark, d)
    with pytest.raises(ValueError, match="rebuild"):
        check_index(spark, d)

    res = build_index(spark, spark.read.parquet(str(pdir)), d)
    assert res.n_docs == 90
    assert SearchEngine(spark, d).search("the", k=3)
    assert check_index(spark, d)["ok"]
