"""Build-stage shape: the jobs a build runs, how its dictionary files are
written, the range partitioning behind doc ids and the mirrors, the
doc-id probe, the Arrow posting encoder, and how a killed build resumes
and what it keeps of its tokens checkpoint."""

from __future__ import annotations

import glob
import os
import re
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def spark_jobs(spark, fn):
    """fn()'s result and the Spark jobs submitted while it ran, found by
    submission time in the status store: jobs that helper threads and
    adaptive execution submit carry no job group.  The session's
    background worker prewarm/keepalive jobs are left out."""
    jsc = spark.sparkContext._jsc.sc()
    start = time.time() * 1000
    out = fn()
    end = time.time() * 1000
    jsc.listenerBus().waitUntilEmpty()
    seq = jsc.statusStore().jobsList(None)
    jobs = []
    for i in range(seq.size()):
        job = seq.apply(i)
        sub = job.submissionTime()
        if not sub.isDefined() or not start <= sub.get().getTime() <= end:
            continue
        desc = job.description()
        if desc.isDefined() and "python-worker" in desc.get():
            continue
        jobs.append(job)
    return out, jobs


@pytest.fixture(scope="module")
def file_build(spark, tmp_path_factory):
    """A 400-page build from two parquet files, as a crawl drop arrives."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages
    tmp = tmp_path_factory.mktemp("jobs")
    pdf = generate_pages(400)
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    for i, part in enumerate((pdf.iloc[:200], pdf.iloc[200:])):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       str(tmp / f"part-{i}.parquet"))
    d = str(tmp / "idx")
    pages = spark.read.parquet(str(tmp / "part-*.parquet"))
    res, jobs = spark_jobs(spark, lambda: build_index(spark, pages, d))
    return d, res, jobs


def test_build_job_budget(file_build):
    """A build spends its jobs on data: at most 18 (tokens 1, doc_stats
    5, postings 4, terms 8).  A check, cache, sample or schema read
    with a job of its own pushes it over."""
    _, res, jobs = file_build
    assert res.n_docs == 400
    assert len(jobs) <= 18, [j.name() for j in jobs]


def test_terms_write_runs_many_tasks(file_build):
    """The dictionary's bucket files come from several write tasks, not
    one task writing every bucket in turn (a part file's number is its
    writing task's partition)."""
    d, _, _ = file_build
    files = glob.glob(os.path.join(d, "terms", "seg=base", "bucket=*",
                                   "*.parquet"))
    buckets = {os.path.basename(os.path.dirname(f)) for f in files}
    assert len(files) == len(buckets) == 16  # one file per bucket
    parts = {re.match(r"part-(\d+)", os.path.basename(f)).group(1)
             for f in files}
    assert len(parts) > 1


def test_mirror_files_cover_disjoint_sorted_ranges(file_build):
    """Each wildcard-mirror file holds one key range, sorted, and the
    ranges do not overlap, so parquet min/max prunes whole files."""
    d, res, _ = file_build
    for table, key in (("terms_rev", "rev"), ("terms_ngram", "gram")):
        ranges = []
        for f in glob.glob(os.path.join(d, table, "seg=base", "*.parquet")):
            col = pq.read_table(f, columns=[key]).column(key).to_pylist()
            assert col == sorted(col)
            if col:
                ranges.append((col[0], col[-1]))
        ranges.sort()
        assert len(ranges) > 1
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), table
    rev = pq.read_table(os.path.join(d, "terms_rev"))
    assert rev.num_rows == res.n_terms


def test_partition_keys_route_to_their_partition(spark):
    from oscar_spark.functions.spark_hash import partition_keys
    for n in (1, 3, 8, 16):
        keys = partition_keys(n)
        df = spark.createDataFrame([(k,) for k in keys], "k int")
        got = {(r["k"], r["p"]) for r in df.repartition(n, "k").select(
            "k", F.spark_partition_id().alias("p")).collect()}
        assert got == {(k, i) for i, k in enumerate(keys)}


def test_range_index_matches_sorted_order(spark):
    """The SQL range tree puts every key in the range the sorted sample
    cuts, for a mixed-direction two-column order and for string keys
    that need escaping."""
    from oscar_spark.build.ranges import range_bounds, range_index
    urls = ["a", "b'c", "b\\d", "é", "b", "z\\'", "it's", ""]
    rows = [(float(q), u) for q in (1.0, 2.5, 2.5, 7.0) for u in urls]
    order = [("quality", False), ("url", True)]
    for n in (1, 2, 5, 32):
        bounds = range_bounds(rows, n, order)
        df = spark.createDataFrame(rows, "quality double, url string")
        got = {(r["quality"], r["url"]): r["i"] for r in df.select(
            "quality", "url",
            range_index(order, bounds).alias("i")).collect()}
        srt = sorted(rows, key=lambda r: (-r[0], r[1]))
        want, i = {}, 0
        for r in srt:
            while i < len(bounds) and (-r[0], r[1]) > (-bounds[i][0],
                                                       bounds[i][1]):
                i += 1
            want[r] = i
        assert got == want, n


def test_second_engine_open_runs_no_jobs(spark, file_build):
    """Every committed table is read with its known schema, so opening
    an engine runs no schema-inference job: once the first engine has
    preloaded the dictionary, a second one over the same store runs
    zero Spark jobs."""
    from oscar_spark.serve.executor import SearchEngine
    d, _, _ = file_build
    SearchEngine(spark, d)
    eng, jobs = spark_jobs(spark, lambda: SearchEngine(spark, d))
    assert jobs == [], [j.name() for j in jobs]
    assert eng.n_docs == 400


# ---- ADVICE: duplicate normalized field keys fail fast at build ----

def test_build_rejects_colliding_field_keys(spark, tmp_path):
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import pages_spark_df
    p = pages_spark_df(spark, 20)
    pages = p.withColumn("Lang", p["lang"])
    with pytest.raises(ValueError, match="field"):
        build_index(spark, pages, str(tmp_path / "i1"),
                    fields=("lang", "Lang"))
    with pytest.raises(ValueError, match="field"):
        build_index(spark, pages_spark_df(spark, 20),
                    str(tmp_path / "i2"), fields=("-", "lang"))


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


# ---- the doc-id probe ----

def test_hash_probe_join_blocks_identical(spark, pages_df, built_index,
                                         monkeypatch):
    """The doc-id probe joins on a url hash but keeps a match only where
    the urls are equal.  With the hash forced to collide (the url's
    length: many docs share one), the blocks still hold exactly the
    postings of a plain url string join, and equal the blocks of the
    real hash byte for byte."""
    from pyspark.sql import functions as F

    from oscar_spark.build import indexer
    from oscar_spark.config import RANGE_SIZE
    from oscar_spark.functions.codec import block_decoder
    from oscar_spark.sources.tables import IndexStore

    d, res = built_index
    tokens = indexer._tokenize(pages_df, True, ())
    doc_stats = IndexStore(d).read(spark, "doc_stats")
    kw = dict(n_ids=res.n_docs, n_corpus=res.n_docs, avgdl=res.avgdl,
              codec="varint", positions=True)
    cols = ["bucket", "term", "block_id", "range_id", "first_doc",
            "last_doc", "doc_count", "max_tf", "min_dl", "payload",
            "pos_payload"]
    real = sorted(map(tuple, indexer._final_blocks(
        spark, tokens, doc_stats, **kw).select(*cols).collect()))
    # the forced hash really collides: far fewer lengths than urls
    assert doc_stats.select(F.length("url")).distinct().count() \
        < res.n_docs // 10
    monkeypatch.setattr(indexer, "_url_hash",
                        lambda url: F.length(url).cast("long"))
    forced = indexer._final_blocks(spark, tokens, doc_stats, **kw)
    assert "BroadcastHashJoin" in forced._jdf.queryExecution() \
        .executedPlan().toString()
    rows = forced.select(*cols).collect()
    decode = block_decoder("varint")
    got = []
    for r in rows:
        ids, tfs, _ = decode(bytes(r["payload"]), r["doc_count"],
                             r["range_id"] * RANGE_SIZE)
        got += [(r["term"], int(i), int(t)) for i, t in zip(ids, tfs)]
    # the plain string join, computed here
    want = [(r["term"], r["doc_id"], r["tf"]) for r in
            tokens.filter(F.col("term").isNotNull())
            .join(doc_stats, "url").select("term", "doc_id", "tf").collect()]
    assert sorted(got) == sorted(want) and len(want) > 0
    assert sorted(map(tuple, rows)) == real


# ---- the tokens checkpoint lives only until postings commit ----

def _pages_of(file_build, spark):
    d, _, _ = file_build
    return spark.read.parquet(os.path.join(os.path.dirname(d),
                                           "part-*.parquet"))


def _tables(spark, d):
    """(postings, terms) of a store, as comparable sets."""
    from oscar_spark.sources.tables import IndexStore
    store = IndexStore(d)
    post = {(r["term"], r["block_id"], bytes(r["payload"]))
            for r in store.read(spark, "postings").collect()}
    terms = {(r["term"], r["df"], r["n_blocks"])
             for r in store.read(spark, "terms").collect()}
    return post, terms


def test_finished_build_keeps_no_tokens(built_index, file_build, no_tokens):
    """Positional and plain builds both drop their tokens checkpoint."""
    no_tokens(built_index[0])
    no_tokens(file_build[0])


def _spy_tokenize(monkeypatch) -> list:
    from oscar_spark.build import indexer
    calls, real = [], indexer._tokenize
    monkeypatch.setattr(indexer, "_tokenize",
                        lambda *a: calls.append(a) or real(*a))
    return calls


@pytest.mark.parametrize("stage,kill_at,resumed", [
    ("doc_stats", "assign_doc_ids_ranged", ["tokens"]),
    ("terms", "_write_dictionary", ["tokens", "doc_stats", "postings"]),
])
def test_killed_build_resumes_without_tokenizing(
        spark, file_build, tmp_path, monkeypatch, no_tokens,
        stage, kill_at, resumed):
    """A build killed inside the doc_stats stage resumes from its tokens
    checkpoint; one killed inside the terms stage, after postings
    committed and tokens were dropped, needs no tokens at all.  Neither
    tokenizes again, and both end with the postings and terms of a
    clean build."""
    from oscar_spark.build import indexer
    from oscar_spark.build.check import check_index
    pages = _pages_of(file_build, spark)
    d = str(tmp_path / "idx")

    def killed(*a, **kw):
        raise RuntimeError(f"killed in {stage}")
    monkeypatch.setattr(indexer, kill_at, killed)
    with pytest.raises(RuntimeError, match="killed"):
        indexer.build_index(spark, pages, d)
    monkeypatch.undo()
    calls = _spy_tokenize(monkeypatch)
    res = indexer.build_index(spark, pages, d, resume=True)
    assert calls == []
    assert res.resumed_stages == resumed
    assert _tables(spark, d) == _tables(spark, file_build[0])
    no_tokens(d)
    assert check_index(spark, d)["ok"]


def test_killed_rebuild_never_mixes_with_old_store(
        spark, file_build, tmp_path, monkeypatch, no_tokens):
    """A rebuild over a store built from fewer files unlists what it
    rewrites before its first write: killed inside the terms stage, it
    leaves a store that refuses to open rather than new doc_stats and
    postings beside the old dictionary, and a resume over the grown
    input finishes the build (not an append onto the half-written
    store)."""
    from oscar_spark.build import indexer
    from oscar_spark.build.check import check_index
    from oscar_spark.functions.codec import store_decoder
    from oscar_spark.sources.tables import IndexStore
    pages = _pages_of(file_build, spark)
    d = str(tmp_path / "idx")
    indexer.build_index(spark, spark.read.parquet(
        os.path.join(os.path.dirname(file_build[0]), "part-0.parquet")), d)

    def killed(*a, **kw):
        raise RuntimeError("killed in terms")
    monkeypatch.setattr(indexer, "_write_dictionary", killed)
    with pytest.raises(RuntimeError, match="killed"):
        indexer.build_index(spark, pages, d)
    monkeypatch.undo()
    store = IndexStore(d)
    assert store.segments("postings") == []
    with pytest.raises(ValueError, match="payload format"):
        store_decoder(store.manifest().get("meta", {}))

    res = indexer.build_index(spark, pages, d, resume=True)
    assert res.resumed_stages == ["tokens", "doc_stats", "postings"]
    assert res.n_docs == file_build[1].n_docs
    assert _tables(spark, d) == _tables(spark, file_build[0])
    assert os.listdir(store.path("postings")) == ["seg=base"]
    no_tokens(d)
    assert check_index(spark, d)["ok"]


def test_flagless_resume_keeps_killed_build_modes(spark, tmp_path,
                                                  monkeypatch, no_tokens):
    """A positional, fielded build killed before its postings commit
    records its modes with its first stage commit, so a resume that
    passes no mode flags (`cli.py build --resume`) finishes the same
    build from its tokens checkpoint instead of a plain one."""
    from oscar_spark.build import indexer
    from oscar_spark.fixtures.pages import pages_spark_df
    from oscar_spark.sources.tables import IndexStore
    pages = pages_spark_df(spark, 100)
    d, d_clean = str(tmp_path / "idx"), str(tmp_path / "clean")

    def killed(*a, **kw):
        raise RuntimeError("killed in doc_stats")
    monkeypatch.setattr(indexer, "assign_doc_ids_ranged", killed)
    with pytest.raises(RuntimeError, match="killed"):
        indexer.build_index(spark, pages, d, positions=True,
                            fields=("lang",))
    monkeypatch.undo()
    res = indexer.build_index(spark, pages, d, resume=True)
    assert res.resumed_stages == ["tokens"]
    store = IndexStore(d)
    assert store.get_meta("positions") is True
    assert store.get_meta("fields") == ["lang"]
    indexer.build_index(spark, pages, d_clean, positions=True,
                        fields=("lang",))
    assert _tables(spark, d) == _tables(spark, d_clean)
    no_tokens(d)


def test_resume_under_other_codec_matches_fresh_build(
        spark, file_build, tmp_path, monkeypatch, no_tokens):
    """A finished store resumed under another codec has no checkpoint to
    read: it tokenizes again and ends with the postings of a fresh
    build under that codec."""
    import shutil

    from oscar_spark.build import indexer
    pages = _pages_of(file_build, spark)
    d, d_fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    shutil.copytree(file_build[0], d)
    calls = _spy_tokenize(monkeypatch)
    res = indexer.build_index(spark, pages, d, resume=True, codec="pfor")
    # the dictionary does not depend on the codec
    assert len(calls) == 1
    assert res.resumed_stages == ["doc_stats", "terms"]
    indexer.build_index(spark, pages, d_fresh, codec="pfor")
    assert _tables(spark, d) == _tables(spark, d_fresh)
    no_tokens(d)


# ---- the Arrow posting encoder ----

def test_arrow_encoder_matches_whole_run_encode():
    """_encode_partition_arrow over split Arrow batches (the mapInArrow
    path, carry-over across the 262144-row unit boundary included) must
    emit exactly the blocks of ONE encode_runs call over the unsplit
    run — same rows, same payload and pos_payload bytes — for both
    codecs, with and without positions."""
    import pyarrow as pa

    from oscar_spark.build import indexer
    from oscar_spark.functions.codec import encode_runs

    rng = np.random.RandomState(7)
    n_terms, n = 400, 600_000
    term_ids = np.sort(rng.randint(0, n_terms, size=n))
    terms = np.array([f"t{i:05d}" for i in range(n_terms)])[term_ids]
    # doc ids sorted within each term, spanning several ranges
    ids = np.empty(n, dtype=np.int64)
    bounds = np.flatnonzero(np.concatenate(
        ([True], term_ids[1:] != term_ids[:-1])))
    for lo, hi in zip(bounds, np.append(bounds[1:], n)):
        ids[lo:hi] = np.sort(rng.randint(0, 3 * indexer.RANGE_SIZE,
                                         size=hi - lo))
        # doc ids must be unique per (term, range) group for the codec
        ids[lo:hi] = np.cumsum(
            np.maximum(np.diff(np.concatenate(([0], ids[lo:hi]))), 1))
    tfs = rng.randint(1, 6, size=n).astype("int32")
    dls = rng.randint(10, 300, size=n).astype("int32")
    # per-posting strictly increasing positions, tf of them each
    pos_offs = np.concatenate(([0], np.cumsum(tfs))).astype(np.int32)
    gaps = rng.randint(1, 20, size=int(pos_offs[-1]))
    seg_start = np.repeat(pos_offs[:-1], tfs)
    csum = np.cumsum(gaps)
    flat = (csum - (csum[seg_start] - gaps[seg_start])).astype(np.int32)
    tbl = pa.table({
        "term": pa.array(terms, pa.string()),
        "doc_id": pa.array(ids, pa.int64()),
        "tf": pa.array(tfs, pa.int32()),
        "dl": pa.array(dls, pa.int32()),
        "pos": pa.ListArray.from_arrays(pa.array(pos_offs),
                                        pa.array(flat)),
    })
    # the second cut lands exactly on the 262144-row unit boundary
    cuts = [0, 50_000, 262_144, 300_001, 555_555, n]
    codes, uniq = pd.factorize(terms)
    for codec in ("varint", "pfor"):
        for with_pos in (False, True):
            src = tbl if with_pos else tbl.drop(["pos"])
            batches = [b for a, e in zip(cuts, cuts[1:])
                       for b in src.slice(a, e - a).to_batches()]
            got = pa.Table.from_batches(list(
                indexer._encode_partition_arrow(
                    iter(batches), codec, with_pos))).to_pandas()
            want = pd.DataFrame(encode_runs(
                codes.astype(np.int64), ids // indexer.RANGE_SIZE, ids,
                tfs.astype(np.int64), dls.astype(np.int64),
                indexer.BLOCK_SIZE, indexer.RANGE_SIZE, codec=codec,
                positions=flat if with_pos else None))
            want["term"] = uniq[want["term"].to_numpy()]
            assert list(got.columns) == list(want.columns)
            assert ("pos_payload" in got.columns) == with_pos
            for c in got.columns:
                assert got[c].tolist() == want[c].tolist(), (codec,
                                                             with_pos, c)
