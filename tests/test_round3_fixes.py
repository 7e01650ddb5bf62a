"""Round-3 hardening: streaming replay idempotency, append URI
matching, duplicate-url tokenize batches, payload-format dispatch,
IVF auto-sizing + partition-pruned probes, 2-char substring path,
dedup_components fixpoint."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

SF1 = "/root/testdata/sf0.001"


# ---- streaming replay / ingest guard ----

def test_ingest_segment_refuses_committed_segment(spark, built_index):
    """Re-ingesting a manifest-listed segment would replace its data
    with EMPTY files while n_docs/df still count it — hard error."""
    from oscar_spark.build.indexer import ingest_segment
    from oscar_spark.sources.tables import IndexStore
    d, _ = built_index
    store = IndexStore(d)
    assert "base" in store.segments("postings")
    with pytest.raises(ValueError, match="already committed"):
        ingest_segment(spark, spark.range(0), store, "base", "varint",
                       fp="replay")


def test_streaming_replayed_epoch_is_noop(spark, tmp_path):
    """Simulate the at-least-once crash window: the batch ingestor
    invoked again with an epoch whose segment is already committed
    must leave the store byte-identical (no empty-segment overwrite)."""
    import json

    from oscar_spark.fixtures.pages import pages_spark_df
    from oscar_spark.sources.tables import IndexStore
    from oscar_spark.streaming.jobs import make_batch_ingestor

    d = str(tmp_path / "idx")
    pages = pages_spark_df(spark, 120)
    ingest = make_batch_ingestor(spark, d)
    ingest(pages.limit(80), 0)          # first batch → full build
    ingest(pages.subtract(pages.limit(80)), 1)  # second batch → seg e1
    store = IndexStore(d)
    assert "e1" in store.segments("postings")
    manifest_before = json.dumps(store.manifest(), sort_keys=True)
    n_before = store.read(spark, "doc_stats").count()

    # replay of epoch 1 (crash between commit_append and checkpoint
    # advance): must be a no-op
    ingest(pages.subtract(pages.limit(80)), 1)
    assert json.dumps(store.manifest(), sort_keys=True) == manifest_before
    assert store.read(spark, "doc_stats").count() == n_before == 120


# ---- append URI matching ----

def test_uri_variants_cover_common_renderings():
    from oscar_spark.build.indexer import _uri_variants
    v = _uri_variants("file:/tmp/a b/p.parquet")
    # raw, decoded path, and the percent-encoded forms Spark renders
    assert "file:/tmp/a b/p.parquet" in v
    assert "/tmp/a b/p.parquet" in v
    assert "file:///tmp/a%20b/p.parquet" in v
    v2 = _uri_variants("s3a://bucket/key.parquet")
    assert "s3a://bucket/key.parquet" in v2  # raw URI always matches
    v3 = _uri_variants("/plain/path.parquet")
    assert "file:///plain/path.parquet" in v3


def test_append_with_percent_encoded_dir(spark, tmp_path):
    """A pages directory whose path needs percent-encoding must append
    the new file's docs (round-2 normalization mismatch committed an
    EMPTY segment here), and the loud-failure guard must not trip."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages

    pdir = tmp_path / "pages with space"
    pdir.mkdir()
    pdf = generate_pages(120)
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].astype("datetime64[us]"))
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:80],
                                        preserve_index=False),
                   str(pdir / "part-0.parquet"))
    d = str(tmp_path / "idx")
    res1 = build_index(spark, spark.read.parquet(str(pdir)), d)
    assert res1.n_docs == 80
    pq.write_table(pa.Table.from_pandas(pdf.iloc[80:],
                                        preserve_index=False),
                   str(pdir / "part-1.parquet"))
    res2 = build_index(spark, spark.read.parquet(str(pdir)), d,
                       resume=True)
    assert res2.resumed_stages[0].startswith("append:")
    assert res2.n_docs == 120


# ---- duplicate urls in one tokenize batch ----

def test_tokenize_batch_with_duplicate_urls():
    """from_codes over a non-unique url column raised ValueError; the
    TOKENIZE stage must tolerate duplicates (streaming/append batches
    see re-crawls before the committed-url anti-join dedups them).  A
    FULL build still requires one row per url — the posting encoder
    fails fast with an explanatory error otherwise."""
    from oscar_spark.build.indexer import _tokenize_batches
    pdf = pd.DataFrame({
        "url": ["https://a/", "https://a/", "https://b/"],
        "text": ["alpha beta alpha", "alpha gamma", "delta"],
    })
    out = pd.concat(list(_tokenize_batches(iter([pdf]))),
                    ignore_index=True)
    assert set(out["url"].astype(str)) == {"https://a/", "https://b/"}
    # both duplicate rows' tokens present: 'alpha' tf rows from rows 0+1
    alpha = out[(out["term"].astype(str) == "alpha")]
    assert sorted(alpha["tf"].tolist()) == [1, 2]


# ---- payload-format dispatch ----

def test_build_records_payload_format(spark, built_index):
    from oscar_spark.functions.codec import PAYLOAD_FORMAT
    from oscar_spark.sources.tables import IndexStore
    d, _ = built_index
    assert IndexStore(d).get_meta("payload_format") == PAYLOAD_FORMAT


# ---- IVF sizing + partition-pruned probes ----

def test_auto_stride_k_grows_sublinearly():
    from oscar_spark.operators.similarity import auto_stride
    assert auto_stride(1_000_000) == 1000          # k = n/stride = √n
    for n in (10_000, 10_000_000, 10_000_000_000):
        k = n / auto_stride(n)
        assert k == pytest.approx(np.sqrt(n), rel=0.01)
    # linear-growth regression guard: k at 100n is ~10× k at n, not 100×
    assert (100_000_000 / auto_stride(100_000_000)) < \
        20 * (1_000_000 / auto_stride(1_000_000))


def test_ivf_build_prunes_partitions_and_matches_inline(spark, tmp_path):
    from oscar_spark.operators import similarity
    out = str(tmp_path / "ivf")
    stride = similarity.ivf_build(spark, SF1, out, stride=32)
    assert stride == 32
    qv = [r["embedding"] for r in
          similarity.load_embeddings(spark, SF1)
          .filter("vec_id = 0").collect()][0]
    res = similarity.ivf_topk_indexed(spark, out, qv, k=10, nprobe=4,
                                      exclude_vec_id=0)
    inline = similarity.ivf_topk(spark, SF1, 0, 10, nprobe=4, stride=32)
    assert [tuple(r) for r in res.collect()] == \
        [tuple(r) for r in inline.collect()]
    # the probe read must be cid-partition-pruned, not a full scan
    import os
    cand = spark.read.parquet(os.path.join(out, "assign")) \
        .filter("cid in (0, 32)")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cid" in plan.split(
        "PartitionFilters", 1)[1][:200]


# ---- 2-char substring stems use the ngram mirror ----

def test_substring_2char_stem_pruned_path(spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    all_terms = sorted(eng._term_df)
    stem = "ar"  # common interior bigram in the fixture vocab
    expect = sorted(t for t in all_terms if stem in t)[:256]
    assert expect, "fixture must contain the stem"
    # force the non-preloaded (Spark) path the fix targets
    eng._term_sorted = None
    got = eng.expand_wild("substr", stem)
    assert got == expect


# ---- dedup_components always reaches the fixpoint ----

def test_dedup_components_fixpoint_independent_of_max_iter(spark):
    import warnings

    from oscar_spark.operators.dedup import dedup_components
    full = [tuple(r) for r in
            dedup_components(spark, SF1, max_iter=20).collect()]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # may warn, must still converge
        capped = [tuple(r) for r in
                  dedup_components(spark, SF1, max_iter=1).collect()]
    assert capped == full


def test_scan_tuning_restored_on_exception(spark, tmp_path):
    """build_index tunes spark.sql.files.maxPartitionBytes for its
    input; an exception mid-build must restore it (a leaked 4MB value
    would explode task counts for every later scan in the session)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oscar_spark.build.indexer import build_index

    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    pdir = tmp_path / "bad_pages"
    pdir.mkdir()
    pq.write_table(pa.table({"url": ["https://a/"]}),  # no text/html
                   str(pdir / "p.parquet"))
    with pytest.raises(Exception):
        build_index(spark, spark.read.parquet(str(pdir)),
                    str(tmp_path / "idx"))
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before


def test_dedup_components_releases_round_caches(spark):
    """Each round's labels and the edge list are persisted and released:
    across two calls the persistent RDDs grow by at most the two
    returned label sets, and the answer matches the transitive-closure
    oracle (DuckDB)."""
    import duckdb

    from oscar_spark.operators.dedup import (dedup_components,
                                             dedup_components_sql)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    first = [tuple(r) for r in dedup_components(spark, SF1).collect()]
    second = [tuple(r) for r in dedup_components(spark, SF1).collect()]
    assert persistent().size() - before <= 2
    assert first == second and first
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF1}/documents.parquet'")
    oracle = sorted(tuple(r) for r in con.sql(dedup_components_sql())
                    .fetchall())
    assert sorted(first) == oracle
