"""Round-4 additions: engine-result facets, vectorized phrase kernel,
suffix bisect under the term preload, and ADVICE fixes."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from oscar_spark.serve import parser


@pytest.fixture(scope="module")
def fielded_index(spark, tmp_path_factory):
    """Positional + fielded index over 250 pages, with the matching
    oracle and the raw pages pdf."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages, pages_spark_df
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    d = str(tmp_path_factory.mktemp("fidx4"))
    build_index(spark, pages_spark_df(spark, 250), d,
                positions=True, fields=("lang",))
    pdf = generate_pages(250)
    ds = {r["url"]: r["doc_id"]
          for r in IndexStore(d).read(spark, "doc_stats").collect()}
    oracle = OracleIndex(
        [(int(ds[u]), t) for u, t in zip(pdf["url"], pdf["text"])],
        fields={int(ds[u]): {"lang": lg}
                for u, lg in zip(pdf["url"], pdf["lang"])})
    eng = SearchEngine(spark, d)
    doc_lang = {int(ds[u]): lg for u, lg in zip(pdf["url"], pdf["lang"])}
    return eng, oracle, doc_lang


# ---- facets over SearchEngine results (kvstats over a completion's
# items, reference/oscar-cmd/Workfunctions.cpp:134-233 fed from
# LiveCompleter.cpp:222-227) ----

FACET_QUERIES = ["city + state", "the - war", "war history",
                 '"north south"', "city ^ river", "wd00*"]


def test_engine_facet_stats_matches_oracle(fielded_index):
    eng, oracle, doc_lang = fielded_index
    for q in FACET_QUERIES:
        node = eng._rewrite_prefixes(parser.parse(q))
        matched = oracle.eval_node(node)
        exp = Counter(doc_lang[d] for d in matched)
        got = {(r["key"], r["value"]): r["cnt"]
               for r in eng.facet_stats(q).collect()}
        assert got == {("lang", v): c for v, c in exp.items()}, q


def test_engine_facet_stats_ordering_and_schema(fielded_index):
    eng, _, _ = fielded_index
    rows = eng.facet_stats("the").collect()
    assert rows, "head term must match docs of every lang"
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert rows[0].asDict().keys() == {"key", "value", "cnt"}


def test_engine_facet_stats_no_fields_store(spark, built_index):
    """A store built without fields=() yields an empty facet frame."""
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    assert eng.facet_stats("the").collect() == []


def test_engine_facet_entropy_matches_hand_calc(fielded_index):
    eng, oracle, doc_lang = fielded_index
    q = "city + state"
    matched = oracle.eval_node(parser.parse(q))
    exp = Counter(doc_lang[d] for d in matched)
    tot = sum(exp.values())
    want = round(-sum((c / tot) * math.log(c / tot)
                      for c in exp.values()), 6)
    rows = eng.facet_entropy(q).collect()
    assert len(rows) == 1
    assert rows[0]["key"] == "lang"
    assert rows[0]["n_values"] == len(exp)
    assert abs(rows[0]["entropy"] - want) < 1e-9


def test_engine_facet_entropy_exclusions(fielded_index):
    """key/value exclusions filter BEFORE normalization (the reference's
    KeyExclusions / KeyValueExclusions accumulate-time semantics)."""
    eng, oracle, doc_lang = fielded_index
    q = "the"
    matched = oracle.eval_node(parser.parse(q))
    exp = Counter(doc_lang[d] for d in matched)
    # drop one value: probabilities renormalize over the rest
    drop = sorted(exp)[0]
    kept = {v: c for v, c in exp.items() if v != drop}
    tot = sum(kept.values())
    want = round(-sum((c / tot) * math.log(c / tot)
                      for c in kept.values()), 6)
    rows = eng.facet_entropy(
        q, exclude_values=(f"lang={drop}",)).collect()
    assert abs(rows[0]["entropy"] - want) < 1e-9
    assert rows[0]["n_values"] == len(kept)
    assert eng.facet_entropy(q, exclude_keys=("lang",)).collect() == []


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


# ---- segment compaction (S6 hygiene: merge N committed segments into
# one fresh segment; re-import analog of oscarcreate.cpp:86-116) ----

def _write_pages_file(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    pdf = pdf.copy()
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


COMPACT_QUERIES = ["the", "city + state", "war history world",
                   "time - year", "first ^ one", "wd0042"]


def test_compact_after_appends_identical_results(spark, tmp_path):
    from oscar_spark.build.indexer import build_index, compact_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

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

    out = compact_index(spark, d)
    assert out["compacted"] and out["segments_before"] == 3
    for t in ("tokens", "doc_stats", "postings", "terms",
              "terms_rev", "terms_ngram"):
        assert store.segments(t) == [out["segment"]], t
    import os
    segdirs = os.listdir(store.path("postings"))
    assert segdirs == [f"seg={out['segment']}"]

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


# ---- ADVICE: colon words with un-indexed keys parse as token
# intersections, not dead fielded leaves ----

def test_colon_word_narrowing(fielded_index, spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    eng, oracle, _ = fielded_index
    # 'war' is not an indexed field key → same results as the AND query
    assert eng.search("war:history", k=10) == eng.search("war history", k=10)
    assert oracle.search("war:history", k=10) == \
        oracle.search("war history", k=10)
    # indexed key keeps fielded semantics (differs from the AND form)
    assert parser.parse("lang:en", field_keys={"lang"}) == \
        ("term", "lang:en")
    # store without fields: every colon word degrades
    d, _ = built_index
    eng2 = SearchEngine(spark, d)
    assert eng2._field_keys == set()
    assert eng2.search("city:state", k=10) == eng2.search("city state", k=10)
    # bare parse() (no store context) keeps the old unconditional rule
    assert parser.parse("lang:en") == ("term", "lang:en")
    assert parser.parse("lang:en", field_keys=set()) == \
        ("and", ("term", "lang"), ("term", "en"))


# ---- catalog fielded_topk normalizes the caller's value like the
# indexed engine (round-3 VERDICT wrong #5) ----

def test_fielded_topk_normalizes_value(spark):
    import duckdb

    from oscar_spark.operators.fulltext_sql import (fielded_topk,
                                                    fielded_topk_sql)
    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in
         fielded_topk(spark, sf, ["data"], "lang", "en").collect()]
    b = [tuple(r) for r in
         fielded_topk(spark, sf, ["data"], "lang", " EN ").collect()]
    assert a == b and a, "non-normalized caller value must match"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')")
    oa = con.execute(fielded_topk_sql(["data"], "lang", "en")).fetchall()
    ob = con.execute(fielded_topk_sql(["data"], "lang", " EN ")).fetchall()
    assert oa == ob
    assert [(x, round(y, 4)) for x, y in a] == \
        [(x, round(y, 4)) for x, y in oa]


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


# ---- driver-local small-query serve path (auto below
# PRUNE_MIN_POSTINGS): value-identical to pruned and brute ----

def _assert_close(got, want, q):
    assert [i for i, _ in got] == [i for i, _ in want], q
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-9 * max(abs(a), 1.0), q


def test_local_serve_matches_spark_paths(spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    for q in ["the", "city + state", "war history world", "wd0042",
              "of and to in", '"to west"']:
        local = eng.search(q, k=10, mode="local")
        pruned = eng.search(q, k=10, mode="pruned")
        brute = eng.search(q, k=10, mode="brute")
        # local and pruned (the phrase path, for a phrase) share one
        # kernel with a pinned block order — bit-identical; brute sums
        # in Spark (its own float order), so its scores may differ in
        # the last ulp
        assert local == pruned, q
        _assert_close(local, brute, q)
    # every other shape is served locally too: set algebra in numpy vs
    # the Spark set-algebra path
    for q in ["time - year", "house ^ music", "(war + history) - world",
              '"to west" + city', 'city ^ "to west"',
              "the - (of + and)"]:
        local = eng.search(q, k=10, mode="local")
        assert local, q
        _assert_close(local, eng.search(q, k=10, mode="brute"), q)
    # auto picks local below the threshold (test corpus is tiny)
    assert eng.search("the", k=10, mode="auto") == \
        eng.search("the", k=10, mode="local")


# ---- store consistency checker (ConsistencyCheckers.cpp analog) ----

def test_check_index_green_on_fresh_and_appended(spark, built_index):
    from oscar_spark.build.check import check_index
    d, _ = built_index
    res = check_index(spark, d)
    assert res["ok"], res["checks"]
    assert set(res["checks"]) >= {
        "stages_committed", "doc_stats_keys_unique", "doc_ids_contiguous",
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
    store.set_meta("n_docs", 999999)
    res = check_index(spark, d)
    assert not res["ok"]
    assert not res["checks"]["meta_counts_match"]["ok"]


# ---- facets over a PARSED query's result set, catalog side with a
# DuckDB oracle (the driver's fts_facet_results pairing) ----

def _facet_duck(sql: str):
    import duckdb
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize("q", [
    '(data + "order scan") - qu* lang:en',   # the driver's FACET_QUERY
    'window ^ batch',                        # xor combinator
    '*er + *at*',                            # suffix and substring leaves
    'data spark',                            # plain intersection
])
def test_facet_stats_query_matches_duckdb(spark, q):
    from oscar_spark.operators.fulltext_sql import (facet_stats_query,
                                                    facet_stats_query_sql)
    got = [tuple(r) for r in
           facet_stats_query(spark, "/root/testdata/sf0.001", q).collect()]
    want = _facet_duck(facet_stats_query_sql(q))
    assert got == want and got, q


def test_facet_stats_query_single_term_equals_facet_stats(spark):
    """A one-term query must agree with the original single-term path."""
    from oscar_spark.operators.fulltext_sql import (facet_stats,
                                                    facet_stats_query)
    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in facet_stats_query(spark, sf, "data").collect()]
    b = [tuple(r) for r in facet_stats(spark, sf, "data").collect()]
    assert a == b and a


def test_facet_stats_query_degenerate_inputs(spark):
    """parse() never raises; empty/degenerate queries yield empty facets
    on both sides (dont_crash contract extended to the facet path)."""
    from oscar_spark.operators.fulltext_sql import (facet_stats_query,
                                                    facet_stats_query_sql)
    sf = "/root/testdata/sf0.001"
    for q in ["", "   ", "-", '""', "(((("]:
        got = facet_stats_query(spark, sf, q).collect()
        want = _facet_duck(facet_stats_query_sql(q))
        assert [tuple(r) for r in got] == want == [], repr(q)


def test_facet_entropy_query_matches_duckdb(spark):
    from oscar_spark.operators.fulltext_sql import (facet_entropy_query,
                                                    facet_entropy_query_sql)
    q = '(data + "order scan") - qu* lang:en'
    got = [(k, round(e, 6), n) for k, e, n in (
        tuple(r) for r in facet_entropy_query(
            spark, "/root/testdata/sf0.001", q,
            exclude_values=("lang=en",)).collect())]
    want = [(k, round(e, 6), n) for k, e, n in _facet_duck(
        facet_entropy_query_sql(q, exclude_values=("lang=en",)))]
    assert got == want and got


# ---- two-level IVF coarse quantizer (the documented next rung above
# ivf_assign: broadcast only k0 ≈ n^(1/4) super-centroids) ----

def _emb_duck(sql: str):
    import duckdb
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')")
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_ivf2_assign_matches_duckdb(spark):
    from oscar_spark.operators.similarity import (IVF2_STRIDE0, IVF_STRIDE,
                                                  ivf2_assign,
                                                  ivf2_assign_sql)
    got = [(v, s, c, round(x, 6)) for v, s, c, x in (
        tuple(r) for r in ivf2_assign(
            spark, "/root/testdata/sf0.001",
            stride=IVF_STRIDE, stride0=IVF2_STRIDE0).collect())]
    want = [(v, s, c, round(x, 6)) for v, s, c, x in
            _emb_duck(ivf2_assign_sql(IVF_STRIDE, IVF2_STRIDE0))]
    assert got == want and got


def test_ivf2_topk_matches_duckdb_and_recall(spark):
    from oscar_spark.operators.similarity import (IVF2_STRIDE0, IVF_STRIDE,
                                                  cosine_topk, ivf2_topk,
                                                  ivf2_topk_sql)
    sf = "/root/testdata/sf0.001"
    got = [(v, round(c, 6)) for v, c in (
        tuple(r) for r in ivf2_topk(
            spark, sf, 0, 10, nprobe=4, w0=2,
            stride=IVF_STRIDE, stride0=IVF2_STRIDE0).collect())]
    want = [(v, round(c, 6)) for v, c in
            _emb_duck(ivf2_topk_sql(0, 10, 4, 2, IVF_STRIDE, IVF2_STRIDE0))]
    assert got == want and got
    # recall sanity vs exact brute force: probed-cells candidates must
    # recover a solid fraction of the true top-10 at this probe width
    exact = {r["vec_id"]
             for r in cosine_topk(spark, sf, 0, 10).collect()}
    assert len(exact & {v for v, _ in got}) >= 5


def test_ivf2_assign_structure(spark):
    """Every vector assigned exactly once; its centroid belongs to its
    super cell; super-centroids assign to themselves with cos 1."""
    from oscar_spark.operators.similarity import (IVF2_STRIDE0, IVF_STRIDE,
                                                  ivf2_assign)
    rows = ivf2_assign(spark, "/root/testdata/sf0.001",
                       stride=IVF_STRIDE,
                       stride0=IVF2_STRIDE0).collect()
    import duckdb  # count the corpus without a second Spark job
    n = duckdb.sql("SELECT COUNT(*) FROM "
                   "read_parquet('/root/testdata/sf0.001/"
                   "embeddings.parquet')").fetchone()[0]
    assert len(rows) == n
    assert len({r["vec_id"] for r in rows}) == n
    sstep = IVF_STRIDE * IVF2_STRIDE0
    for r in rows:
        assert r["scid"] % sstep == 0 and r["cid"] % IVF_STRIDE == 0
        if r["vec_id"] % sstep == 0:
            assert r["cid"] == r["vec_id"] == r["scid"]
            assert abs(r["cos"] - 1.0) < 1e-6


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


def test_query_ids_matches_oracle_index(spark):
    """The catalog AST evaluator (query_ids) must agree doc-for-doc
    with the serve-path OracleIndex on the same corpus — tying the
    declarative evaluator to the independent reference oracle across
    the whole grammar (fixture vocab is ASCII and far below
    MAX_PREFIX_EXPAND, so the two tokenizer projections and the
    oracle's expansion cap coincide)."""
    from oscar_spark.operators.fulltext_sql import load_documents, query_ids
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve import parser

    docs = load_documents(spark, "/root/testdata/sf0.001")
    rows = docs.select("doc_id", "text", "lang", "source").collect()
    oracle = OracleIndex(
        [(r["doc_id"], r["text"]) for r in rows],
        fields={r["doc_id"]: {"lang": r["lang"], "source": r["source"]}
                for r in rows})
    battery = [
        "data + order", "scan - the", "hash ^ join", "qu* window",
        '"order scan" + filter', "lang:en - data", "*er table",
        "*at* - batch", "(data + order) (scan + the)",
        "source:web + lang:de", '"group by"', "merge sort - slow",
        "win* ^ *ow", "value / key", "((data - scan) ^ (order - the))",
    ]
    for q in battery:
        node = parser.parse(q)
        got = {r["doc_id"] for r in query_ids(docs, node).collect()}
        want = oracle.eval_node(node)
        assert got == want, q
    assert any(oracle.eval_node(parser.parse(q)) for q in battery)


def test_compact_positional_dedup_fielded_store(spark, tmp_path):
    """Compaction over the FULL store feature matrix — positions +
    payload-dedup (A7) + fields — preserves phrase, fielded, and set-op
    results exactly, keeps the manifest flags, and collapses the
    payloads side table to one globally-deduped segment.  The basic
    compaction test covers the plain store; this pins the interactions
    (positional payload bytes ride the postings copy verbatim; the
    payload-hash join still resolves after segment renumbering).

    The resume call passes NO mode flags on purpose: build_index must
    inherit the store's recorded modes (positions/dedup/fields/codec)
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
                positions=True, dedup_payloads=True, fields=("lang",))
    _write_pages_file(pdf.iloc[120:], str(pdir / "p1.parquet"))
    build_index(spark, spark.read.parquet(str(pdir)), d, resume=True)

    store = IndexStore(d)
    assert len(store.segments("postings")) == 2
    assert len(store.segments("payloads")) == 2

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
    assert store.segments("payloads") == [out["segment"]]

    eng2 = SearchEngine(spark, d)
    assert eng2.has_positions  # manifest flags survive the swap
    for q in queries:
        assert eng2.search(q, k=10) == before[q], q
        assert eng2.search(q, k=10, mode="brute") == before[q], q

    # payload side table is globally deduped after the merge
    pay = store.read(spark, "payloads")
    assert pay.count() == (pay.select("bucket", "payload_hash")
                           .distinct().count())


def test_cli_build_mode_flags_and_resume_inherit(spark, tmp_path, capsys):
    """cli.py exposes the four build-mode knobs (--positions,
    --dedup-payloads, --codec, --fields) and a FLAGLESS `build --resume`
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
                   "--positions", "--dedup-payloads", "--codec", "pfor",
                   "--fields", "lang"])
    assert rc == 0
    out1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["n_docs"] == 100
    store = IndexStore(d)
    assert store.get_meta("codec") == "pfor"
    assert bool(store.get_meta("positions"))
    assert bool(store.get_meta("payload_dedup"))
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
    assert bool(store.get_meta("payload_dedup"))
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
    # the pfor-decode, pos_payload, and payload-dedup-join branches of
    # check_index in one pass
    rc = cli.main(["check", "--index", d])
    assert rc == 0
    chk = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert chk["ok"], chk
    assert chk["checks"]["payload_decode_sample"]["detail"]["sampled"] > 0
