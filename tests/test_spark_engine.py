"""End-to-end Spark engine tests: build invariants (FIXTURES.md §4),
rank-identity vs the pure-Python oracle (ids AND scores), dual-path
equivalence (pruned == brute, the cqr==tcqr analog), extraction
byte-identity, and checkpoint resume."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oscar_spark.config import NUM_TERM_BUCKETS, RANGE_SIZE, SCORE_ROUND
from oscar_spark.functions.codec import decode_block
from oscar_spark.functions.spark_hash import term_bucket
from oscar_spark.serve.executor import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, built_index):
    d, _ = built_index
    return SearchEngine(spark, d)


# ---------- build invariants ----------

def test_build_counts(built_index, oracle):
    _, res = built_index
    assert res.n_docs == oracle.n_docs == 300
    assert res.avgdl == pytest.approx(oracle.avgdl)
    assert res.n_terms == len(oracle.postings)


def test_postings_strictly_increasing_and_block_ranges(spark, built_index):
    """FIXTURES.md inv 1 + 3 (ConsistencyCheckers.cpp:119-137 analog)."""
    d, _ = built_index
    rows = spark.read.parquet(f"{d}/postings").collect()
    by_term: dict[str, list] = {}
    for r in rows:
        ids, tfs, dls = decode_block(bytes(r["payload"]), r["doc_count"],
                                     r["range_id"] * RANGE_SIZE)
        assert (np.diff(ids) > 0).all()
        assert ids[0] == r["first_doc"] and ids[-1] == r["last_doc"]
        assert tfs.max() == r["max_tf"]
        assert dls.min() == r["min_dl"]
        assert (tfs >= 1).all() and (dls >= 1).all()
        assert r["bucket"] == term_bucket(r["term"], NUM_TERM_BUCKETS)
        by_term.setdefault(r["term"], []).append(
            (r["block_id"], r["first_doc"], r["last_doc"]))
    for term, blocks in by_term.items():
        blocks.sort()
        ids = [b[0] for b in blocks]
        assert ids == list(range(len(blocks)))  # dense block numbering
        for (_, _, last), (_, first, _) in zip(blocks, blocks[1:]):
            assert last < first  # non-overlapping, ordered


def test_df_matches_postings_and_oracle(spark, built_index, oracle):
    """FIXTURES.md inv 2: stored df == Σ block doc_counts == oracle df."""
    d, _ = built_index
    terms = {r["term"]: r["df"]
             for r in spark.read.parquet(f"{d}/terms").collect()}
    assert terms == {t: len(p) for t, p in oracle.postings.items()}


def test_postings_docs_exist_and_max_score(spark, built_index, oracle):
    """FIXTURES.md inv 3: doc ids ∈ doc_stats; max_score ≥ true block max.

    max_score is the bm25(max_tf, min_dl, df) upper bound (computed on
    the blocks table, not per posting) — assert it bounds the true max
    and equals the pinned formula exactly."""
    from oscar_spark.functions.bm25 import bm25
    d, _ = built_index
    doc_ids = {r["doc_id"]
               for r in spark.read.parquet(f"{d}/doc_stats").collect()}
    for r in spark.read.parquet(f"{d}/postings").collect():
        ids, tfs, dls = decode_block(bytes(r["payload"]), r["doc_count"],
                                     r["range_id"] * RANGE_SIZE)
        assert set(ids) <= doc_ids
        true_scores = [oracle.score(int(i), [r["term"]]) for i in ids]
        assert r["max_score"] >= max(true_scores) - 1e-9
        df_t = oracle.df(r["term"])
        assert r["max_score"] == pytest.approx(bm25(
            r["max_tf"], r["min_dl"], df_t, oracle.n_docs, oracle.avgdl))


def test_doc_stats_deterministic_order(spark, built_index):
    d, _ = built_index
    rows = spark.read.parquet(f"{d}/doc_stats").orderBy("doc_id").collect()
    key = [(-r["quality"], r["url"]) for r in rows]
    assert key == sorted(key)
    assert [r["doc_id"] for r in rows] == list(range(len(rows)))


def test_extraction_byte_identity(spark, pages_df):
    """FIXTURES.md inv 4: extractor(html) == text, byte-identical, in-Spark."""
    from oscar_spark.build.indexer import extract_pages
    re_extracted = extract_pages(pages_df.select("url", "warc_ts", "html", "lang"))
    diff = (re_extracted.alias("a")
            .join(pages_df.select("url", F.col("text").alias("expected")), "url")
            .filter(F.col("text") != F.col("expected")).count())
    assert diff == 0


def test_lineage(spark, built_index):
    d, res = built_index
    rows = spark.read.parquet(f"{d}/lineage").collect()
    assert rows and all(r["docs_per_sec"] > 0 for r in rows)
    assert all(r["input_fingerprint"] == rows[0]["input_fingerprint"]
               for r in rows)
    assert {r["partition_id"] for r in rows} <= set(range(NUM_TERM_BUCKETS))


# ---------- rank identity vs oracle ----------

QUERIES = [
    "the", "of and", "city + state", "time - year", "house ^ music",
    "war history world", "first + one + two", '"north south"',
    "wd0001", "wd0100 + the", "missingterm", "the - the",
    "(city + state) war", "river county home",
]


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity(engine, oracle, q):
    expected = oracle.search(q, k=10)
    got = engine.search(q, k=10, mode="brute")
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, gs), (_, es) in zip(got, expected):
        assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND)


@pytest.mark.parametrize("q", ["the", "of and", "city + state",
                               "war history world", "wd0001",
                               "first + one + two"])
def test_dual_path_equivalence(engine, q):
    """pruned == brute (cqr == tcqr analog, Workfunctions.cpp:1169-1191):
    the metadata bounds in front of the kernel drop no result."""
    assert engine.search(q, k=10, mode="pruned") == \
        engine.search(q, k=10, mode="brute")


def test_prune_min_postings_read_per_engine(spark, built_index,
                                            monkeypatch):
    """OSCAR_PRUNE_MIN_POSTINGS set AFTER the module import still
    reaches a new engine (it is read in SearchEngine.__init__)."""
    d, _ = built_index
    monkeypatch.setenv("OSCAR_PRUNE_MIN_POSTINGS", "1234")
    assert SearchEngine(spark, d).PRUNE_MIN_POSTINGS == 1234
    monkeypatch.delenv("OSCAR_PRUNE_MIN_POSTINGS")
    assert SearchEngine(spark, d).PRUNE_MIN_POSTINGS == \
        SearchEngine.PRUNE_MIN_POSTINGS


class _FakeBlocks:
    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def collect(self):
        return self.rows


def test_block_cache_eviction_keeps_requested_terms():
    """Spark-free stub engine over real encoded blocks: with each term
    decoding to 64 B (4 postings × int64 id + float64 score) and a
    100 B cap, fetching [a, b] after warming a must evict a to admit b
    — and still return BOTH terms' columns (a's from the snapshot taken
    before the eviction)."""
    from collections import OrderedDict

    from pyspark.sql import Row

    from oscar_spark.functions.codec import encode_block
    eng = SearchEngine.__new__(SearchEngine)
    eng._block_cache = OrderedDict()
    eng._block_cache_bytes = 0
    eng.BLOCK_CACHE_MAX_BYTES = 100
    eng.has_positions = False
    eng._decode = decode_block
    eng._term_df = {"a": 4, "b": 4}
    eng.n_docs, eng.avgdl = 100, 10.0
    ids = {"a": np.array([1, 3, 5, 7]),
           "b": RANGE_SIZE + np.array([0, 1, 2, 3])}
    store = {t: [Row(term=t, range_id=int(v[0]) // RANGE_SIZE, doc_count=4,
                     payload=encode_block(v, np.ones(4), np.full(4, 10),
                                          int(v[0]) // RANGE_SIZE
                                          * RANGE_SIZE))]
             for t, v in ids.items()}
    eng._blocks = lambda terms, meta_only: _FakeBlocks(
        [r for t in terms for r in store[t]])
    assert list(eng._fetch_blocks_local(["a"])) == ["a"]
    out = eng._fetch_blocks_local(["a", "b"])
    assert sorted(out) == ["a", "b"]
    for t in ("a", "b"):
        assert out[t].ids.tolist() == ids[t].tolist()
        assert out[t].nbytes == 64
    assert out["a"].scores.tolist() == out["b"].scores.tolist()
    assert list(eng._block_cache) == ["b"]
    assert eng._block_cache_bytes == 64


def _cached_nbytes(eng, term: str) -> int:
    """Block-cache bytes of one term: its decoded arrays (ids, scores,
    and positions with their offsets on a positional store)."""
    return eng._fetch_blocks_local([term])[term].nbytes


def test_block_cache_near_cap_and_query_matches_uncached(spark,
                                                         built_index):
    """A warm term plus a cold one whose blocks together exceed the
    cache cap: the AND query must still match the uncached engine."""
    d, _ = built_index
    probe = SearchEngine(spark, d)
    nbytes = {t: _cached_nbytes(probe, t) for t in ("war", "history")}
    uncached = SearchEngine(spark, d)
    uncached.BLOCK_CACHE_MAX_BYTES = 0  # every term served uncached
    expected = uncached.search("war history", k=10, mode="local")
    assert expected
    eng = SearchEngine(spark, d)
    eng.BLOCK_CACHE_MAX_BYTES = sum(nbytes.values()) - 1
    eng.search("war", k=10, mode="local")  # warm one term
    assert eng.search("war history", k=10, mode="local") == expected


@pytest.mark.parametrize("near_cap", [False, True])
def test_block_cache_phrase_after_term_query_matches_uncached(
        spark, built_index, near_cap):
    """Terms that enter the block cache through non-phrase queries then
    serve a phrase from the cache (their pos_payload comes along, and
    counts toward the cap): the phrase answer, bare and inside a
    combinator, must equal the uncached engine's — also when the cap
    holds only part of the phrase's terms."""
    d, _ = built_index
    toks = ("to", "west")
    queries = ['"to west"', '"to west" - city']
    uncached = SearchEngine(spark, d)
    uncached.BLOCK_CACHE_MAX_BYTES = 0
    expected = [uncached.search(q, k=10) for q in queries]
    assert expected[0]
    eng = SearchEngine(spark, d)
    if near_cap:
        probe = SearchEngine(spark, d)
        eng.BLOCK_CACHE_MAX_BYTES = sum(
            _cached_nbytes(probe, t) for t in toks) - 1
    eng.search("to", k=10)
    eng.search("west + nosuchterm", k=10)
    assert "to" in eng._block_cache or "west" in eng._block_cache
    assert eng._block_cache_bytes <= eng.BLOCK_CACHE_MAX_BYTES
    assert [eng.search(q, k=10) for q in queries] == expected
    assert eng.search_many(queries, k=10) == expected


def test_warm_local_shapes_run_zero_jobs(spark, built_index, oracle):
    """Once its terms are in the block cache, a query of any shape below
    PRUNE_MIN_POSTINGS runs no Spark job: an AND with an empty answer
    (no DataFrame built), NOT, XOR and a phrase.  last_stage_times is
    still filled (cli bench and bench.py read it)."""
    from oscar_spark.serve.executor import SERVE_STAGES
    d, _ = built_index
    mid = sorted((t for t in oracle.postings if 2 <= oracle.df(t) <= 30),
                 key=lambda t: (-oracle.df(t), t))
    a, b = next((a, b) for a in mid for b in mid if a < b and not (
        set(oracle.postings[a]) & set(oracle.postings[b])))
    queries = [f"{a} {b}", "time - year", "house ^ music", '"to west"']
    eng = SearchEngine(spark, d)
    first = [eng.search(q, k=10) for q in queries]
    assert first[0] == [] and all(first[1:])
    sc = spark.sparkContext
    for i, q in enumerate(queries):
        eng.last_stage_times = None
        group = f"warm-local-{i}"
        sc.setJobGroup(group, q)
        try:
            assert eng.search(q, k=10) == first[i]
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 0, f"{q!r} ran Spark jobs {jobs}"
        assert set(eng.last_stage_times) == set(SERVE_STAGES), q


def test_warm_queries_decode_nothing(spark, built_index):
    """Each term is decoded once per engine: after one pass, a second
    pass of every local shape (single, AND, OR, NOT, XOR, bare phrase,
    phrase inside a combinator) calls the block decoder 0 times, runs
    no Spark job and returns the same answers."""
    d, _ = built_index
    queries = ["war", "city state", "city + state", "time - year",
               "house ^ music", '"to west"', '"to west" + city',
               'city ^ "to west"']
    eng = SearchEngine(spark, d)
    first = [eng.search(q, k=10) for q in queries]
    assert all(first)
    calls = []
    decode = eng._decode

    def counted(*a):
        calls.append(a)
        return decode(*a)

    eng._decode = counted
    sc = spark.sparkContext
    sc.setJobGroup("warm-decode", "warm queries decode nothing")
    try:
        second = [eng.search(q, k=10) for q in queries]
    finally:
        sc.setJobGroup(None, None)
    assert second == first
    assert len(calls) == 0
    assert sc.statusTracker().getJobIdsForGroup("warm-decode") == []


def test_dont_crash_queries(engine):
    for q in ["((foo (( bar))", "+-(%foo - %+bar)", "()", "foo + () bar",
              "-foo", "foo ^", '"unterminated', "", ")))((("]:
        engine.search(q, k=5)  # must not raise


# ---------- resume (FIXTURES.md inv 6) ----------

def test_resume_equivalence(spark, pages_df, tmp_path):
    from oscar_spark.build.indexer import build_index
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, pages_df, d1)
    # interrupted build: doc_stats committed, later stages missing
    import json, os, shutil
    os.makedirs(d2)
    shutil.copytree(f"{d1}/doc_stats", f"{d2}/doc_stats")
    m = json.load(open(f"{d1}/_manifest.json"))
    m["snapshots"] = {"doc_stats": m["snapshots"]["doc_stats"]}
    m["next_snapshot_id"] = 2
    json.dump(m, open(f"{d2}/_manifest.json", "w"))
    res = build_index(spark, pages_df, d2, resume=True)
    assert res.resumed_stages == ["doc_stats"]
    for table in ["doc_stats", "terms"]:
        a = {tuple(r) for r in spark.read.parquet(f"{d1}/{table}").collect()}
        b = {tuple(r) for r in spark.read.parquet(f"{d2}/{table}").collect()}
        assert a == b
    a = {(r["term"], r["block_id"], bytes(r["payload"]))
         for r in spark.read.parquet(f"{d1}/postings").collect()}
    b = {(r["term"], r["block_id"], bytes(r["payload"]))
         for r in spark.read.parquet(f"{d2}/postings").collect()}
    assert a == b


def test_resume_skips_tokens_stage(spark, pages_df, built_index, tmp_path,
                                   monkeypatch):
    """Killed after the tokens checkpoint (inside the doc_stats stage):
    resume must not re-tokenize, and the final index must equal a
    from-scratch build."""
    from oscar_spark.build import indexer

    def killed(*a, **kw):
        raise RuntimeError("killed")
    d1, d2 = built_index[0], str(tmp_path / "b")
    monkeypatch.setattr(indexer, "assign_doc_ids_ranged", killed)
    with pytest.raises(RuntimeError, match="killed"):
        indexer.build_index(spark, pages_df, d2, positions=True)
    monkeypatch.undo()
    res = indexer.build_index(spark, pages_df, d2, resume=True,
                              positions=True)
    assert res.resumed_stages == ["tokens"]
    a = {(r["term"], r["block_id"], bytes(r["payload"]))
         for r in spark.read.parquet(f"{d1}/postings").collect()}
    b = {(r["term"], r["block_id"], bytes(r["payload"]))
         for r in spark.read.parquet(f"{d2}/postings").collect()}
    assert a == b


def test_resume_rejects_changed_input(spark, pages_df, built_index,
                                      tmp_path):
    """Fingerprint mismatch → full rebuild, not a stale skip."""
    from oscar_spark.build.indexer import build_index
    d = str(tmp_path / "c")
    build_index(spark, pages_df.limit(100), d)
    res = build_index(spark, pages_df, d, resume=True)
    assert res.resumed_stages == []
    assert res.n_docs == 300


@pytest.mark.parametrize("q", ["wd00*", "ci* + st*", "the wd01*", "zz*"])
def test_prefix_rank_identity(engine, oracle, q):
    """QT_PREFIX: engine expansion == oracle expansion, rank-identical."""
    expected = oracle.search(q, k=10)
    got = engine.search(q, k=10, mode="brute")
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, gs), (_, es) in zip(got, expected):
        assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND)
    pruned = engine.search(q, k=10, mode="auto")
    assert [d for d, _ in pruned] == [d for d, _ in expected]


@pytest.mark.parametrize("q", ["*ar", "*ty", "*or*", "*th* - the",
                               "*01", "city + *ar", "*", "**", "*zzz*"])
def test_suffix_substring_rank_identity(engine, oracle, q):
    """QT_SUFFIX / QT_SUBSTRING: same pinned expansion both engines,
    rank-identical results (incl. degenerate star-only queries)."""
    expected = oracle.search(q, k=10)
    got = engine.search(q, k=10, mode="auto")
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, gs), (_, es) in zip(got, expected):
        assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND)


def test_wildcard_fallback_paths(spark, built_index, engine):
    """Above TERMS_PRELOAD_MAX the dictionary is not preloaded: prefix
    expansion becomes a sorted-terms range scan and suffix expansion a
    rev-prefix scan on the terms_rev mirror — both must agree with the
    driver-side preloaded expansion exactly."""
    d, _ = built_index
    orig = SearchEngine.TERMS_PRELOAD_MAX
    SearchEngine.TERMS_PRELOAD_MAX = 0
    try:
        eng2 = SearchEngine(spark, d)
        assert eng2._term_sorted is None
        assert eng2._terms_rev is not None
        assert eng2.expand_prefix("ci") == engine.expand_prefix("ci")
        assert eng2.expand_wild("suffix", "ty") == \
            engine.expand_wild("suffix", "ty")
        assert eng2.expand_wild("substr", "or") == \
            engine.expand_wild("substr", "or")
        # ≥3-char substring takes the trigram-index path
        assert eng2._terms_ngram is not None
        assert eng2.expand_wild("substr", "tor") == \
            engine.expand_wild("substr", "tor")
        for q in ["ci*", "*ty", "*or*", "*tor*", "wd00* + the"]:
            assert eng2.search(q, k=10) == engine.search(q, k=10), q
    finally:
        SearchEngine.TERMS_PRELOAD_MAX = orig


def test_pagination_and_cursor(engine):
    """seek/pagination (OsmItemSetIterator::seek analog,
    LiveCompleter.cpp:154-167): pages are exact slices of the full
    ranking; the cursor detects exhaustion on rare terms."""
    full = engine.search("the", k=30)
    assert len(full) == 30
    assert engine.search_page("the", k=10, offset=10) == full[10:20]
    cur = engine.cursor("the", page=7)
    got = cur.take() + cur.take() + cur.take()
    assert got == full[:21]
    cur.seek(25)
    assert cur.take(5) == full[25:30]
    # rare term: cursor must terminate with [] past the last hit
    rare_full = engine.search("wd0042", k=1000)
    cur2 = engine.cursor("wd0042", page=max(len(rare_full) // 2, 1))
    got2 = []
    for _ in range(len(rare_full) + 3):
        pg = cur2.take()
        if not pg:
            break
        got2.extend(pg)
    assert got2 == rare_full


def test_build_from_html_only(spark, pages_df, built_index, tmp_path):
    """A pages table carrying only raw html builds the identical index:
    build_index applies the pinned extractor itself (input_hint shape)."""
    from oscar_spark.build.indexer import build_index
    d = str(tmp_path / "htmlidx")
    res = build_index(spark, pages_df.drop("text"), d)
    _, ref = built_index
    assert (res.n_docs, res.n_terms, res.n_blocks) == \
        (ref.n_docs, ref.n_terms, ref.n_blocks)


def test_pfor_codec_end_to_end(spark, pages_df, oracle, tmp_path):
    """Build with the PForDelta codec flag: manifest records it, serve
    dispatches on it, results stay rank-identical to the oracle."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.sources.tables import IndexStore
    d = str(tmp_path / "pfor_idx")
    build_index(spark, pages_df, d, codec="pfor")
    assert IndexStore(d).get_meta("codec") == "pfor"
    eng = SearchEngine(spark, d)
    for q in ["the", "city + state", "war history world", "wd0042"]:
        expected = oracle.search(q, k=10)
        got = eng.search(q, k=10)
        assert [x for x, _ in got] == [x for x, _ in expected]


# ---- suffix expansion under the driver-side preload: bisect on the
# reversed-sorted mirror, not a full endswith scan ----

class _CountingList(list):
    def __init__(self, it):
        super().__init__(it)
        self.accesses = 0

    def __getitem__(self, i):
        self.accesses += 1
        return super().__getitem__(i)


def test_suffix_preload_bisect_identical_and_pruned(spark, built_index):
    from oscar_spark.config import MAX_PREFIX_EXPAND
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    assert eng._term_sorted is not None, "preload expected at test scale"
    for stem in ("ory", "er", "42", "the", "zzzz"):
        brute = sorted(t for t in eng._term_sorted
                       if t.endswith(stem))[:MAX_PREFIX_EXPAND]
        assert eng.expand_wild("suffix", stem) == brute, stem
    # instrument the mirror: a lookup must touch O(log n + matches)
    # entries, nowhere near the dictionary size
    eng._term_sorted_rev = _CountingList(
        sorted(t[::-1] for t in eng._term_sorted))
    n_match = len(eng.expand_wild("suffix", "ory"))
    assert eng._term_sorted_rev.accesses <= n_match + 2 * (
        len(eng._term_sorted).bit_length() + 2)
    assert eng._term_sorted_rev.accesses < len(eng._term_sorted) // 4


# ---- driver-local small-query serve path (auto below
# PRUNE_MIN_POSTINGS): value-identical to pruned and brute ----

def test_local_serve_matches_spark_paths(spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    for q in ["the", "city + state", "war history world", "wd0042",
              "of and to in", '"to west"']:
        local = eng.search(q, k=10, mode="local")
        pruned = eng.search(q, k=10, mode="pruned")
        brute = eng.search(q, k=10, mode="brute")
        # every route runs one kernel with a pinned block and term
        # order (pruned is the phrase route, for a phrase), so the
        # answers are bit-identical
        assert local == pruned == brute, q
    # every other shape too: the brute route runs the same set algebra
    # per doc-id range
    for q in ["time - year", "house ^ music", "(war + history) - world",
              '"to west" + city', 'city ^ "to west"',
              "the - (of + and)"]:
        local = eng.search(q, k=10, mode="local")
        assert local, q
        assert local == eng.search(q, k=10, mode="brute"), q
    # auto picks local below the threshold (test corpus is tiny)
    assert eng.search("the", k=10, mode="auto") == \
        eng.search("the", k=10, mode="local")


def test_engine_open_reads_manifest_once(spark, built_index, monkeypatch):
    """An engine open reads `_manifest.json` once: its tables, counts,
    modes and preload key all come from that one snapshot, so a commit
    landing mid-open cannot pair new n_docs/avgdl with old segments."""
    from oscar_spark.sources.tables import IndexStore
    d, _ = built_index
    calls = []
    orig = IndexStore.manifest

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(IndexStore, "manifest", counting)
    SearchEngine(spark, d)
    assert len(calls) == 1


# ---- the Spark routes: a bounded job count, nothing left persisted ----

def _jobs_of(spark, group, fn):
    """(fn(), ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("q", ["the", "time - year", "house ^ music",
                               '"to west" + city',
                               "(war + history) - world"])
def test_brute_query_runs_at_most_three_jobs(spark, engine, q):
    """A brute query of any shape is one per-range kernel pass: its
    shuffle and the global top-k, not a job per set operation."""
    rows, jobs = _jobs_of(spark, f"brute-jobs-{q}",
                          lambda: engine.search(q, k=10, mode="brute"))
    assert rows, q
    assert len(jobs) <= 3, f"{q!r} ran {len(jobs)} jobs"


def test_spark_routes_leave_nothing_persisted(spark, engine,
                                              fielded_index):
    """A brute query and a facet count persist no RDD: the kernel
    decodes each block once per range, so no decoded DataFrame is held
    for the next query to release."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert engine.search("time - year", k=10, mode="brute")
    assert jsc.getPersistentRDDs().size() == before
    eng, _, _ = fielded_index
    assert eng.facet_stats("city + state").collect()
    assert jsc.getPersistentRDDs().size() == before


# ---- wildcard expansion under the driver-side preload: gram-list
# intersection, not a linear `stem in t` scan over the dictionary ----

def test_substr_preload_grams_identical(spark, built_index):
    from oscar_spark.config import MAX_PREFIX_EXPAND
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    assert eng._term_sorted is not None, "preload expected at test scale"
    for stem in ("or", "ry", "he", "42", "ord", "ist", "zzzz", "a",
                 "wd00", "tor"):
        brute = sorted(t for t in eng._term_sorted
                       if stem in t)[:MAX_PREFIX_EXPAND]
        assert eng.expand_wild("substr", stem) == brute, stem


def test_substr_preload_no_full_scan(spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    assert eng._term_sorted is not None
    # force a fresh gram build against an instrumented dictionary: the
    # gram build iterates (no __getitem__); the query itself must only
    # index the candidate entries, nowhere near the dictionary size
    eng._term_sorted = _CountingList(eng._term_sorted)
    eng._term_grams = None
    got = eng.expand_wild("substr", "ord")
    n_terms = len(eng._term_sorted)
    # every candidate term is read twice (verify + yield); allow slack
    assert eng._term_sorted.accesses <= 4 * max(len(got), 1) + 8
    assert eng._term_sorted.accesses < n_terms // 4
    # absent gram short-circuits without touching the dictionary
    eng._term_sorted.accesses = 0
    assert eng.expand_wild("substr", "q#z") == []
    assert eng._term_sorted.accesses == 0


# ---- engine cold-start cache: the ≤2M-row terms preload is paid once
# per store snapshot, not once per SearchEngine instance ----

def test_engine_preload_cached_across_instances(spark, built_index):
    from oscar_spark.serve import executor as ex
    d, _ = built_index
    e1 = ex.SearchEngine(spark, d)
    e2 = ex.SearchEngine(spark, d)
    # same dict objects, not equal copies — the collect ran once
    assert e1._term_df is e2._term_df
    assert e1._term_sorted is e2._term_sorted
    # lazy mirrors built by one instance are visible to the next
    e1.expand_wild("suffix", "ory")
    e1.expand_wild("substr", "ord")
    e3 = ex.SearchEngine(spark, d)
    assert e3._term_sorted_rev is e1._term_sorted_rev
    assert e3._term_grams is e1._term_grams
    # results stay identical through the cache
    assert e3.search("the", k=5) == e1.search("the", k=5)


def test_engine_preload_cache_invalidated_by_commit(spark, tmp_path):
    """A new commit to the same path must NOT serve the old preload."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import pages_spark_df
    from oscar_spark.serve.executor import SearchEngine
    d = str(tmp_path / "idx")
    build_index(spark, pages_spark_df(spark, 60), d)
    e1 = SearchEngine(spark, d)
    n1 = len(e1._term_df)
    build_index(spark, pages_spark_df(spark, 120), d)
    e2 = SearchEngine(spark, d)
    assert e2._term_df is not e1._term_df
    assert len(e2._term_df) >= n1


def test_drop_memory_releases_preload(spark, built_index):
    """round-5 ADVICE low: drop_memory must release the driver-side
    preload cache entry, not only executor caches."""
    from oscar_spark.serve import executor as ex
    d, _ = built_index
    eng = ex.SearchEngine(spark, d)
    assert eng._term_df is not None  # fixture is below the preload cap
    n_before = len(ex._PRELOAD_CACHE)
    eng.drop_memory()
    assert eng._term_df is None and eng._term_sorted is None
    assert len(ex._PRELOAD_CACHE) == n_before - 1
    # engine still answers (falls back to Spark-side term lookups)
    assert eng.search("the", k=3)
    eng2 = ex.SearchEngine(spark, d)   # re-preloads fresh
    assert eng2._term_df is not None
    ex.clear_preload_cache()
    assert len(ex._PRELOAD_CACHE) == 0


# ---- batch serve: search_many equals per-query search() while the
# driver-local queries share one fetch job ----

def test_search_many_matches_sequential(spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    queries = ["the", "of and", "city + state", "time - year",
               "house ^ music", "war history world", '"north south"',
               "wd0042", "nosuchterm", "((", "ci* + history"]
    batch = eng.search_many(queries, k=10)
    seq = [eng.search(q, k=10) for q in queries]
    assert batch == seq


def test_search_many_single_fetch_job(spark, built_index):
    """All eligible queries share ONE block-fetch collect: count the
    Spark jobs a pure-eligible batch triggers via a job group."""
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    queries = ["the", "of and", "city state", "war history"]
    eng.search_many(queries, k=5)  # warm any lazy init + block cache
    sc = spark.sparkContext
    # r06: a fully warm batch is CACHE-resident — zero fetch jobs
    sc.setJobGroup("batchjob", "search_many job count")
    batch = eng.search_many(queries, k=5)
    sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("batchjob")
    assert len(jobs) == 0, f"expected 0 jobs on warm batch, got {jobs}"
    # cold block cache: every eligible query still shares ONE fetch job
    eng._block_cache.clear()
    eng._block_cache_bytes = 0
    sc.setJobGroup("batchjob2", "search_many cold job count")
    batch2 = eng.search_many(queries, k=5)
    sc.setJobGroup(None, None)
    jobs2 = sc.statusTracker().getJobIdsForGroup("batchjob2")
    assert len(jobs2) == 1, f"expected 1 shared fetch job, got {jobs2}"
    assert batch == batch2 == [eng.search(q, k=5) for q in queries]


def test_search_many_all_absent_terms(spark, built_index):
    """round-5 ADVICE medium: a batch whose every eligible query has no
    present terms must return [] per query, not crash."""
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    assert eng.search_many(["nosuchterm"], k=5) == [[]]
    assert eng.search_many(["nosuchterm", "alsomissing + gonetoo"],
                           k=5) == [[], []]
    # mixed batch still serves the present-term query
    got = eng.search_many(["nosuchterm", "the"], k=5)
    assert got[0] == [] and got[1] == eng.search("the", k=5)


# ---- the driver-local block cache ----

def test_block_cache_warm_repeat_zero_jobs(spark, built_index):
    """Driver-local serving through the block cache: a repeated query
    returns identical results with ZERO Spark jobs (the S7 mlock
    analog — decoded columns served from process memory), the cache
    counts its entries' decoded bytes, and drop_memory releases it."""
    from oscar_spark.serve.executor import SearchEngine

    d, _ = built_index
    eng = SearchEngine(spark, d)
    q = "city + state"
    first = eng.search(q, k=10)
    assert first, "fixture query should match docs"
    assert eng._block_cache_bytes > 0
    assert eng._block_cache_bytes == sum(
        c.nbytes for c in eng._block_cache.values())
    sc = spark.sparkContext
    sc.setJobGroup("warmrepeat", "block cache warm repeat")
    second = eng.search(q, k=10)
    sc.setJobGroup(None, None)
    assert second == first
    jobs = sc.statusTracker().getJobIdsForGroup("warmrepeat")
    assert len(jobs) == 0, f"expected 0 jobs on warm repeat, got {jobs}"
    eng.drop_memory()
    assert eng._block_cache_bytes == 0 and not eng._block_cache
    assert eng.search(q, k=10) == first  # refetch path still identical
