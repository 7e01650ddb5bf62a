"""Incremental append ingest (store→store re-import analog,
reference/oscar-create/oscarcreate.cpp:86-116): build on pages[0:200],
drop pages[200:300] as new input files, rebuild with resume=True —
only the new files are ingested, and the merged index is rank-identical
to a 300-doc oracle.  Also the streaming ingest and its replay guard,
append input-file matching, segment compaction (merging the appended
segments back into one) and the CLI's flagless `build --resume`, which
inherits the store's modes."""

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


def test_append_keeps_no_tokens(appended, no_tokens):
    """The append writes and reads its own tokens segment, then drops
    it with the commit."""
    no_tokens(appended[0])


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


def test_double_append(spark, tmp_path, monkeypatch):
    """Two successive file-growth appends: detection keys off the
    UPDATED input manifest each time; df after 150+75+75 equals a
    from-scratch 300-doc build.  The first append is killed in its
    terms stage first: readers and the append detector see nothing of
    it, and its resume is an append again that tokenizes nothing."""
    from oscar_spark.build import indexer
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

    def published() -> dict:
        return {k: v for k, v in IndexStore(d).manifest().items()
                if k != "pending"}

    def killed(*a, **kw):
        raise RuntimeError("killed in terms")
    before = published()
    monkeypatch.setattr(indexer, "_write_dictionary", killed)
    with pytest.raises(RuntimeError, match="killed"):
        build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert published() == before
    monkeypatch.undo()
    calls, real = [], indexer._tokenize
    monkeypatch.setattr(indexer, "_tokenize",
                        lambda *a: calls.append(a) or real(*a))
    r2 = build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert calls == []
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
    store.write_segment(spark.range(5).select(F.col("id").alias("x")),
                        "t", "base")
    store.commit_append(add={"t": ["base"]})
    assert store.read(spark, "t").count() == 5
    store.write_segment(spark.range(3).select(F.col("id").alias("x")),
                        "t", "extra")
    assert store.read(spark, "t").count() == 5  # not committed yet
    assert store.read_segment(spark, "t", "extra").count() == 3
    store.commit_append(add={"t": ["extra"]})
    assert store.read(spark, "t").count() == 8


def test_streaming_index_ingest(spark, tmp_path, no_tokens):
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
    no_tokens(d)

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
    invoked again with an epoch whose segment is already committed —
    the first epoch's included — must leave the store byte-identical
    (no empty-segment overwrite)."""
    import json

    from oscar_spark.fixtures.pages import pages_spark_df
    from oscar_spark.sources.tables import IndexStore
    from oscar_spark.streaming.jobs import make_batch_ingestor

    d = str(tmp_path / "idx")
    pages = pages_spark_df(spark, 120)
    ingest = make_batch_ingestor(spark, d)
    ingest(pages.limit(80), 0)          # first batch → seg e0
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
    # and of the first epoch, after the second one committed
    ingest(pages.limit(80), 0)
    assert json.dumps(store.manifest(), sort_keys=True) == manifest_before
    assert store.read(spark, "doc_stats").count() == 120


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


# ---- segment compaction (S6 hygiene: merge N committed segments into
# one fresh segment; re-import analog of oscarcreate.cpp:86-116) ----

COMPACT_QUERIES = ["the", "city + state", "war history world",
                   "time - year", "first ^ one", "wd0042"]


def test_compact_after_appends_identical_results(spark, tmp_path,
                                                 no_tokens):
    """Compaction leaves one segment per table and the same answers; a
    store that still lists tokens segments has them dropped, on disk
    and in the manifest."""
    from oscar_spark.build.check import check_index
    from oscar_spark.build.indexer import build_index, compact_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import TOKENS_SCHEMA, IndexStore

    pdf = generate_pages(260)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    _write_pages_file(pdf.iloc[:140], str(pdir / "p0.parquet"))
    d = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(str(pdir)), d)
    _write_pages_file(pdf.iloc[140:200], str(pdir / "p1.parquet"))
    build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    _write_pages_file(pdf.iloc[200:], str(pdir / "p2.parquet"))
    build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)

    store = IndexStore(d)
    assert len(store.segments("postings")) == 3
    eng = SearchEngine(spark, d)
    before = {q: eng.search(q, k=10) for q in COMPACT_QUERIES}
    before_df = dict(eng.term_stats(["the", "city", "wd0042"]))

    # the store as older builds left it: a tokens segment listed beside
    # each postings segment, and a tokens snapshot
    tok = spark.createDataFrame([("u", "t", 1, 1)], TOKENS_SCHEMA)
    for s in store.segments("postings"):
        store.write_segment(tok, "tokens", s)
    store.commit_append(add={"tokens": store.segments("postings")},
                        stage_fingerprints={"tokens": "old"})

    out = compact_index(spark, d)
    assert out["compacted"] and out["segments_before"] == 3
    for t in ("doc_stats", "postings", "terms",
              "terms_rev", "terms_ngram"):
        assert store.segments(t) == [out["segment"]], t
    no_tokens(d)
    import os
    segdirs = os.listdir(store.path("postings"))
    assert segdirs == [f"seg={out['segment']}"]
    assert check_index(spark, d)["ok"]

    eng2 = SearchEngine(spark, d)
    assert eng2.n_docs == 260
    for q in COMPACT_QUERIES:
        assert eng2.search(q, k=10) == before[q], q
        assert eng2.search(q, k=10, mode="brute") == before[q], q
    assert dict(eng2.term_stats(["the", "city", "wd0042"])) == before_df

    # per-term blocks renumber 0..n-1 with strictly increasing doc ranges
    post = store.read(spark, "postings")
    rows = (post.filter(post.term == "the")
            .select("term", "block_id", "first_doc", "last_doc")
            .orderBy("block_id").collect())
    assert [r["block_id"] for r in rows] == list(range(len(rows)))
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] < b["first_doc"]

    # a second compact is a no-op
    assert compact_index(spark, d)["compacted"] is False

    # and the compacted store still accepts a fresh append
    more = generate_pages(40, start_index=260)
    _write_pages_file(more, str(pdir / "p3.parquet"))
    res = build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    assert res.resumed_stages[0].startswith("append:")
    assert res.n_docs == 300


def test_maybe_compact_policy(spark, tmp_path):
    """Below the threshold: no-op.  Above: one fresh segment, results
    identical (amortized maintenance on the append path)."""
    from oscar_spark.build.indexer import build_index, maybe_compact
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    pdf = generate_pages(220)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    _write_pages_file(pdf.iloc[:120], str(pdir / "p0.parquet"))
    d = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(str(pdir)), d)
    _write_pages_file(pdf.iloc[120:170], str(pdir / "p1.parquet"))
    build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    store = IndexStore(d)
    assert len(store.segments("postings")) == 2
    # threshold not exceeded → untouched
    r = maybe_compact(spark, d, max_segments=2)
    assert not r["compacted"] and len(store.segments("postings")) == 2
    _write_pages_file(pdf.iloc[170:], str(pdir / "p2.parquet"))
    build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)
    before = {q: SearchEngine(spark, d).search(q, k=10)
              for q in COMPACT_QUERIES[:3]}
    r = maybe_compact(spark, d, max_segments=2)
    assert r["compacted"] and r["segments_before"] == 3
    assert len(store.segments("postings")) == 1
    eng = SearchEngine(spark, d)
    for q, want in before.items():
        assert eng.search(q, k=10) == want, q


def test_compact_positional_fielded_store(spark, tmp_path):
    """Compaction over the FULL store feature matrix — positions +
    fields — preserves phrase, fielded, and set-op results exactly and
    keeps the manifest flags.  The basic compaction test covers the
    plain store; this pins the interactions (positional payload bytes
    ride the postings copy verbatim).

    The resume call passes NO mode flags on purpose: build_index must
    inherit the store's recorded modes (positions/fields/codec)
    and APPEND — not silently rebuild a plain store, which is what
    `cli.py build --resume` would previously do to any moded store."""
    from oscar_spark.build.indexer import build_index, compact_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    pdf = generate_pages(220)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    _write_pages_file(pdf.iloc[:120], str(pdir / "p0.parquet"))
    d = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(str(pdir)), d,
                positions=True, fields=("lang",))
    _write_pages_file(pdf.iloc[120:], str(pdir / "p1.parquet"))
    build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)

    store = IndexStore(d)
    assert len(store.segments("postings")) == 2

    # a phrase that provably occurs: the first two >=2-char tokens of
    # doc 0 are adjacent there by construction
    toks = [w for w in pdf["text"].iloc[0].split() if len(w) >= 2][:2]
    queries = [f'"{toks[0]} {toks[1]}"', "lang:en", "city + state",
               "the - war"]
    eng = SearchEngine(spark, d)
    assert eng.has_positions
    before = {q: eng.search(q, k=10) for q in queries}
    assert before[queries[0]], "phrase query must match at least doc 0"
    assert before["lang:en"], "fielded query must match"

    out = compact_index(spark, d)
    assert out["compacted"]

    eng2 = SearchEngine(spark, d)
    assert eng2.has_positions  # manifest flags survive the swap
    for q in queries:
        assert eng2.search(q, k=10) == before[q], q
        assert eng2.search(q, k=10, mode="brute") == before[q], q


def test_cli_build_mode_flags_and_resume_inherit(spark, tmp_path, capsys):
    """cli.py exposes the three build-mode knobs (--positions,
    --codec, --fields) and a FLAGLESS `build --resume`
    inherits the store's recorded modes — the CLI face of build_index's
    None-default contract.  Then `search` serves a fielded and a phrase
    query from the appended store through the CLI."""
    import json as _json

    from oscar_spark import cli
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.sources.tables import IndexStore

    pdf = generate_pages(160)
    pdir = tmp_path / "pages"
    pdir.mkdir()
    _write_pages_file(pdf.iloc[:100], str(pdir / "p0.parquet"))
    d = str(tmp_path / "idx")
    rc = cli.main(["build", "--pages", str(pdir), "--index", d,
                   "--positions", "--codec", "pfor",
                   "--fields", "lang"])
    assert rc == 0
    out1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["n_docs"] == 100
    store = IndexStore(d)
    assert store.get_meta("codec") == "pfor"
    assert bool(store.get_meta("positions"))
    assert tuple(store.get_meta("fields")) == ("lang",)

    _write_pages_file(pdf.iloc[100:], str(pdir / "p1.parquet"))
    rc = cli.main(["build", "--pages", str(pdir), "--index", d,
                   "--resume"])
    assert rc == 0
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_docs"] >= 60
    # modes survived the flagless resume (no plain-store rebuild)
    assert store.get_meta("codec") == "pfor"
    assert bool(store.get_meta("positions"))
    assert tuple(store.get_meta("fields")) == ("lang",)
    assert len(store.segments("postings")) == 2

    for q in ("lang:en", '"%s %s"' % tuple(
            [w for w in pdf["text"].iloc[0].split() if len(w) >= 2][:2])):
        rc = cli.main(["search", "--index", d, "--query", q, "-k", "5"])
        assert rc == 0
        lines = capsys.readouterr().out.strip().splitlines()
        assert lines, q
        for ln in lines:
            doc_id, score = ln.split("\t")
            int(doc_id), float(score)

    # consistency checker green on the full-feature store: exercises
    # the pfor-decode and pos_payload branches of check_index in one
    # pass
    rc = cli.main(["check", "--index", d])
    assert rc == 0
    chk = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert chk["ok"], chk
    assert chk["checks"]["payload_decode_sample"]["detail"]["sampled"] > 0
