"""Incremental append ingest (store→store re-import analog,
reference/oscar-create/oscarcreate.cpp:86-116): build on pages[0:200],
drop pages[200:300] as new input files, rebuild with resume=True —
only the new files are ingested, and the merged index is rank-identical
to a 300-doc oracle."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oscar_spark.config import SCORE_ROUND

APPEND_QUERIES = ["the", "city + state", "war history world",
                  "wd0001", "time - year", "first + one + two"]


def _write_pages_file(pdf, path: str) -> None:
    pdf = pdf.copy()
    # Spark's parquet reader rejects TIMESTAMP(NANOS); write microseconds
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    """(index_dir, pages_dir, full_pdf, append_result) after 200+100."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages

    tmp = tmp_path_factory.mktemp("append")
    pdf = generate_pages(300)
    pdir = tmp / "pages"
    pdir.mkdir()
    _write_pages_file(pdf.iloc[:200], str(pdir / "part-0.parquet"))
    d = str(tmp / "idx")
    res1 = build_index(spark, spark.read.parquet(str(pdir)), d)
    assert res1.n_docs == 200 and not res1.resumed_stages

    _write_pages_file(pdf.iloc[200:], str(pdir / "part-1.parquet"))
    res2 = build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    return d, str(pdir), pdf, res2


def test_append_detected_and_counts(appended):
    d, pdir, pdf, res2 = appended
    assert res2.resumed_stages and \
        res2.resumed_stages[0].startswith("append:")
    assert res2.n_docs == 300
    # appended throughput accounts only the NEW docs
    assert res2.docs_per_sec > 0


def test_build_and_append_release_their_caches(spark, tmp_path):
    """A full build and a resume-append each release every RDD they
    persist: the doc-id stage's per-doc table and its range-partitioned
    copy are unpersisted once doc_stats is written."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages

    def held() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    pdf = generate_pages(600)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    _write_pages_file(pdf.iloc[:400], str(pdir / "part-0.parquet"))
    d = str(tmp_path / "idx")
    before = held()
    build_index(spark, spark.read.parquet(str(pdir)), d)
    after_build = held()
    _write_pages_file(pdf.iloc[400:], str(pdir / "part-1.parquet"))
    res = build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert res.resumed_stages[0].startswith("append:")
    assert (after_build, held()) == (before, before)


def test_append_then_identical_resume(spark, appended):
    from oscar_spark.build.indexer import build_index
    d, pdir, pdf, _ = appended
    res3 = build_index(spark, spark.read.parquet(pdir), d, resume=True)
    assert set(res3.resumed_stages) >= {"tokens", "doc_stats", "postings",
                                        "terms"}
    assert res3.n_docs == 300


def test_append_rank_identity_vs_300_doc_oracle(spark, appended):
    """Merged index == oracle over all 300 docs (ids from the appended
    index's own doc_stats), on both brute and block-max-pruned paths."""
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    d, pdir, pdf, _ = appended
    ds = {r["url"]: r["doc_id"] for r in
          IndexStore(d).read(spark, "doc_stats").collect()}
    assert len(ds) == 300
    oracle = OracleIndex([(int(ds[u]), t)
                          for u, t in zip(pdf["url"], pdf["text"])])
    eng = SearchEngine(spark, d)
    assert eng.n_docs == 300
    assert eng.avgdl == pytest.approx(oracle.avgdl)
    for q in APPEND_QUERIES:
        expected = oracle.search(q, k=10)
        for mode in ("brute", "pruned"):
            got = eng.search(q, k=10, mode=mode)
            assert [i for i, _ in got] == [i for i, _ in expected], \
                (q, mode)
            for (_, gs), (_, es) in zip(got, expected):
                assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND)


def test_append_df_equals_fresh_build(spark, appended, tmp_path):
    """Per-term df after append == df of a from-scratch 300-doc build
    (block counts may differ — appends never rewrite committed blocks)."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.sources.tables import IndexStore

    d, pdir, pdf, _ = appended
    d_fresh = str(tmp_path / "fresh")
    build_index(spark, spark.read.parquet(pdir), d_fresh)
    df_a = {r["term"]: int(r["df"]) for r in
            IndexStore(d).read(spark, "terms").collect()}
    df_f = {r["term"]: int(r["df"]) for r in
            IndexStore(d_fresh).read(spark, "terms").collect()}
    assert df_a == df_f


def test_append_html_only_input(spark, tmp_path):
    """Append over an input carrying only raw html: the per-file filter
    must run on the raw scan (input_file_name is undefined after the
    extractor's mapInPandas) and the extractor applies after it."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.sources.tables import IndexStore

    pdf = generate_pages(200).drop(columns=["text"])
    pdir = tmp_path / "pages"
    pdir.mkdir()
    d = str(tmp_path / "idx")
    _write_pages_file(pdf.iloc[:150], str(pdir / "f0.parquet"))
    r1 = build_index(spark, spark.read.parquet(str(pdir)), d)
    assert r1.n_docs == 150
    _write_pages_file(pdf.iloc[150:], str(pdir / "f1.parquet"))
    r2 = build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert r2.resumed_stages[0].startswith("append:")
    assert r2.n_docs == 200
    assert IndexStore(d).read(spark, "doc_stats").count() == 200


def test_append_unmatched_file_raises_and_commits_nothing(
        spark, tmp_path, monkeypatch):
    """A non-empty new file whose URI renderings all miss
    input_file_name() must fail the append after the tokens write and
    before anything commits: the manifest is left as it was."""
    from oscar_spark.build import indexer
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.sources.tables import IndexStore

    pdf = generate_pages(200)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    d = str(tmp_path / "idx")
    _write_pages_file(pdf.iloc[:150], str(pdir / "f0.parquet"))
    indexer.build_index(spark, spark.read.parquet(str(pdir)), d)
    _write_pages_file(pdf.iloc[150:175], str(pdir / "f1.parquet"))
    _write_pages_file(pdf.iloc[175:], str(pdir / "f2.parquet"))
    real = indexer._uri_variants
    monkeypatch.setattr(
        indexer, "_uri_variants",
        lambda f: {"nomatch:" + f} if f.endswith("f2.parquet") else real(f))
    before = IndexStore(d).manifest()
    with pytest.raises(RuntimeError, match="matched zero rows"):
        indexer.build_index(spark, spark.read.parquet(str(pdir)), d,
                            resume=True)
    assert IndexStore(d).manifest() == before


def test_append_recrawled_urls_not_duplicated(spark, tmp_path):
    """An appended file re-containing already-indexed urls must not
    create second docs for them: url is the document key (the full
    build's one-doc-per-url groupBy semantics)."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.sources.tables import IndexStore

    pdf = generate_pages(200)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    d = str(tmp_path / "idx")
    _write_pages_file(pdf.iloc[:150], str(pdir / "f0.parquet"))
    build_index(spark, spark.read.parquet(str(pdir)), d)
    # new file: 50 genuinely new docs + 30 re-crawls of indexed urls
    _write_pages_file(pdf.iloc[120:], str(pdir / "f1.parquet"))
    r2 = build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert r2.resumed_stages[0].startswith("append:")
    assert r2.n_docs == 200
    ds = IndexStore(d).read(spark, "doc_stats")
    assert ds.count() == 200
    assert ds.select("url").distinct().count() == 200


def test_double_append(spark, tmp_path):
    """Two successive file-growth appends: detection keys off the
    UPDATED input manifest each time; df after 150+75+75 equals a
    from-scratch 300-doc build."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.sources.tables import IndexStore

    pdf = generate_pages(300)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    d = str(tmp_path / "idx")
    _write_pages_file(pdf.iloc[:150], str(pdir / "f0.parquet"))
    r1 = build_index(spark, spark.read.parquet(str(pdir)), d)
    assert r1.n_docs == 150
    _write_pages_file(pdf.iloc[150:225], str(pdir / "f1.parquet"))
    r2 = build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert r2.resumed_stages[0].startswith("append:") and r2.n_docs == 225
    _write_pages_file(pdf.iloc[225:], str(pdir / "f2.parquet"))
    r3 = build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert r3.resumed_stages[0].startswith("append:") and r3.n_docs == 300

    d_fresh = str(tmp_path / "fresh")
    build_index(spark, spark.read.parquet(str(pdir)), d_fresh)
    df_a = {r["term"]: int(r["df"]) for r in
            IndexStore(d).read(spark, "terms").collect()}
    df_f = {r["term"]: int(r["df"]) for r in
            IndexStore(d_fresh).read(spark, "terms").collect()}
    assert df_a == df_f


def test_segment_snapshot_isolation(spark, tmp_path):
    """A written-but-uncommitted segment is invisible to read() — the
    crash-safety contract of the append path — and becomes visible
    atomically at commit_append."""
    from pyspark.sql import functions as F
    from oscar_spark.sources.tables import IndexStore
    store = IndexStore(str(tmp_path / "st"))
    store.write(spark.range(5).select(F.col("id").alias("x")), "t")
    assert store.read(spark, "t").count() == 5
    store.write_segment(spark.range(3).select(F.col("id").alias("x")),
                        "t", "extra")
    assert store.read(spark, "t").count() == 5  # not committed yet
    assert store.read_segment(spark, "t", "extra").count() == 3
    store.commit_append(add={"t": ["extra"]})
    assert store.read(spark, "t").count() == 8


def test_streaming_index_ingest(spark, tmp_path):
    """Structured-Streaming incremental ingest: each micro-batch of new
    page files becomes one committed segment; the streaming checkpoint
    prevents re-ingesting consumed files across restarts; the result is
    rank-identical to an oracle over the full corpus."""
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore
    from oscar_spark.streaming.jobs import stream_index_ingest

    pdf = generate_pages(300)
    pdir = tmp_path / "spages"
    pdir.mkdir()
    d, cp = str(tmp_path / "sidx"), str(tmp_path / "ckpt")
    _write_pages_file(pdf.iloc[:200], str(pdir / "f0.parquet"))
    stream_index_ingest(spark, str(pdir), d, cp)
    assert IndexStore(d).get_meta("n_docs") == 200

    _write_pages_file(pdf.iloc[200:], str(pdir / "f1.parquet"))
    stream_index_ingest(spark, str(pdir), d, cp)
    store = IndexStore(d)
    assert store.get_meta("n_docs") == 300
    # a third drain with nothing new must be a no-op
    stream_index_ingest(spark, str(pdir), d, cp)
    assert store.get_meta("n_docs") == 300

    ds = {r["url"]: r["doc_id"] for r in
          store.read(spark, "doc_stats").collect()}
    oracle = OracleIndex([(int(ds[u]), t)
                          for u, t in zip(pdf["url"], pdf["text"])])
    eng = SearchEngine(spark, d)
    for q in ["the", "city + state", "wd0001"]:
        expected = oracle.search(q, k=10)
        got = eng.search(q, k=10)
        assert [i for i, _ in got] == [i for i, _ in expected], q
        for (_, gs), (_, es) in zip(got, expected):
            assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND)


def test_append_block_invariants(spark, appended):
    """Strict doc-id monotonicity inside every block (old and new
    segments) and per-term dense block numbering across segments."""
    from oscar_spark.functions.codec import decode_block
    from oscar_spark.sources.tables import IndexStore

    d, _, _, _ = appended
    rows = IndexStore(d).read(spark, "postings").collect()
    from oscar_spark.config import RANGE_SIZE
    per_term: dict[str, list[int]] = {}
    for r in rows:
        ids, _, _ = decode_block(bytes(r["payload"]), r["doc_count"],
                                 r["range_id"] * RANGE_SIZE)
        assert (ids[1:] > ids[:-1]).all()
        assert ids[0] == r["first_doc"] and ids[-1] == r["last_doc"]
        per_term.setdefault(r["term"], []).append(int(r["block_id"]))
    for t, bids in per_term.items():
        assert sorted(bids) == list(range(len(bids))), t


def test_append_to_payload_dedup_store(spark, tmp_path):
    """A7 × S6: appending to a payload-dedup store merges segment
    payloads via anti-join (no rebuild), keeps (bucket, md5) unique
    store-wide, leaves every posting's payload resolvable, and stays
    rank-identical to a full-corpus oracle."""
    import pyspark.sql.functions as F

    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    pdir = tmp_path / "pages"
    pdir.mkdir()
    pdf = generate_pages(180)
    _write_pages_file(pdf.iloc[:120], str(pdir / "part-0.parquet"))
    d = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(str(pdir)), d,
                dedup_payloads=True)
    store = IndexStore(d)
    assert store.get_meta("payload_dedup") is True

    _write_pages_file(pdf.iloc[120:], str(pdir / "part-1.parquet"))
    res = build_index(spark, spark.read.parquet(str(pdir)), d,
                      resume=True, dedup_payloads=True)
    # appended, NOT rebuilt
    assert res.resumed_stages and \
        res.resumed_stages[0].startswith("append:")
    assert res.n_docs == 180
    assert "payloads" in store.manifest()["segments"]
    assert len(store.segments("payloads")) == 2

    # store-wide payload invariants
    payloads = store.read(spark, "payloads")
    n_all = payloads.count()
    n_uniq = payloads.select("bucket", "payload_hash").distinct().count()
    assert n_all == n_uniq
    postings = store.read(spark, "postings")
    assert "payload" not in postings.columns
    dangling = (postings.select("bucket", "payload_hash")
                .join(payloads.select("bucket", "payload_hash"),
                      ["bucket", "payload_hash"], "left_anti").count())
    assert dangling == 0
    # the anti-join actually deduplicated something across segments
    # (Zipf tail: identical single-posting payloads recur in new docs)
    n_blocks = postings.count()
    assert n_all < n_blocks

    # rank identity vs 180-doc oracle through the dedup payload join
    ds = {r["url"]: r["doc_id"]
          for r in store.read(spark, "doc_stats").collect()}
    oracle = OracleIndex([(int(ds[u]), t)
                          for u, t in zip(pdf["url"], pdf["text"])])
    eng = SearchEngine(spark, d)
    for q in APPEND_QUERIES:
        got = eng.search(q, k=10)
        exp = oracle.search(q, k=10)
        assert [x for x, _ in got] == [x for x, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND), q
