"""Positional postings + true phrase queries (QT_EXACT analog).

Quoted multi-token queries must match ADJACENT tokens in the indexed
stream — rank-identical with the oracle's phrase semantics on a
positional store, and degrade (documented) to AND on a store without
positions."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from oscar_spark.config import SCORE_ROUND
from oscar_spark.serve import parser


# ---- codec ----

@settings(max_examples=50, deadline=None)
@given(st.lists(st.lists(st.integers(0, 5000), min_size=1, max_size=20),
                min_size=1, max_size=30))
def test_position_codec_roundtrip(lists):
    from oscar_spark.functions.codec import (decode_position_block,
                                             encode_position_runs)
    pos = [np.sort(np.unique(np.array(p, dtype=np.int64))) for p in lists]
    tfs = np.array([len(p) for p in pos], dtype=np.int64)
    n = len(pos)
    flat_in = np.concatenate(pos)  # the encoder takes one flat array
    # one block, then split in two at an arbitrary boundary
    [payload] = encode_position_runs(flat_in, tfs, np.array([0]),
                                     np.array([n]))
    flat, offs = decode_position_block(payload, tfs)
    assert offs.tolist() == np.concatenate(
        [[0], np.cumsum(tfs)]).tolist()
    for i, p in enumerate(pos):
        assert flat[offs[i]:offs[i + 1]].tolist() == p.tolist()
    cut = n // 2
    if 0 < cut < n:
        p1, p2 = encode_position_runs(flat_in, tfs, np.array([0, cut]),
                                      np.array([cut, n]))
        f1, _ = decode_position_block(p1, tfs[:cut])
        f2, _ = decode_position_block(p2, tfs[cut:])
        assert np.concatenate([f1, f2]).tolist() == flat.tolist()


def test_position_codec_rejects_mismatch():
    from oscar_spark.functions.codec import (decode_position_block,
                                             encode_position_runs)
    with pytest.raises(ValueError, match="mismatch"):
        encode_position_runs(np.array([1, 2]),
                             np.array([3], dtype=np.int64),
                             np.array([0]), np.array([1]))
    [payload] = encode_position_runs(
        np.array([1, 2]), np.array([2], dtype=np.int64),
        np.array([0]), np.array([1]))
    with pytest.raises(ValueError, match="corrupt position block"):
        decode_position_block(payload, np.array([3], dtype=np.int64))


# ---- parser ----

def test_parser_emits_phrase_nodes():
    assert parser.parse('"north south"') == ("phrase", ("north", "south"))
    assert parser.parse('"solo"') == ("term", "solo")
    assert parser.parse('"a"') == parser.EMPTY  # min token len 2
    node = parser.parse('war "north south"')
    assert node == ("and", ("term", "war"), ("phrase", ("north", "south")))
    assert parser.query_terms(node) == ["war", "north", "south"]


# ---- engine vs oracle ----

def _phrase_queries(oracle, n=12):
    """Adjacent token pairs/triples actually present in the corpus, plus
    one guaranteed-absent pair."""
    out = []
    # walk a few docs' position lists to find real adjacencies
    for t, docs in list(oracle.positions.items())[:2000]:
        for d, plist in docs.items():
            for p in plist[:3]:
                nxt = [u for u, dd in oracle.positions.items()
                       if p + 1 in dd.get(d, [])]
                if nxt:
                    out.append(f'"{t} {nxt[0]}"')
                more = [u for u, dd in oracle.positions.items()
                        if p + 2 in dd.get(d, [])]
                if nxt and more:
                    out.append(f'"{t} {nxt[0]} {more[0]}"')
            break
        if len(out) >= n:
            break
    out.append('"zz qq"')
    return out[:n + 1]


def test_phrase_rank_identity(spark, built_index, oracle):
    from oscar_spark.serve.executor import SearchEngine
    eng = SearchEngine(spark, built_index[0])
    assert eng.has_positions
    for q in _phrase_queries(oracle):
        got = eng.search(q, k=10)
        exp = oracle.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND), q


def test_phrase_in_combinators_rank_identity(spark, built_index, oracle):
    from oscar_spark.serve.executor import SearchEngine
    eng = SearchEngine(spark, built_index[0])
    base = _phrase_queries(oracle, n=2)[0]
    for q in (f"war + {base}", f"{base} - war", f"the {base}"):
        got = eng.search(q, k=10)
        exp = oracle.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in exp], q


def test_phrase_is_strict_subset_of_and(spark, built_index, oracle):
    """A phrase hits a subset of its AND degeneration, and on a pair
    chosen to co-occur non-adjacently somewhere, the subset is PROPER
    (the round-2 AND-degeneration is verifiably gone)."""
    from oscar_spark.serve.executor import SearchEngine
    eng = SearchEngine(spark, built_index[0])
    # find a head-term pair whose AND strictly exceeds its phrase set
    head = sorted(oracle.postings, key=lambda t: -oracle.df(t))[:25]
    pick = None
    for a in head:
        for b in head:
            if a == b:
                continue
            both = set(oracle.postings[a]) & set(oracle.postings[b])
            ph = oracle.phrase_docs([a, b])
            if ph < both and ph:
                pick = (a, b, ph, both)
                break
        if pick:
            break
    assert pick, "fixture must contain a proper phrase⊂AND pair"
    a, b, ph, both = pick
    eng_ph = {d for d, _ in eng.search(f'"{a} {b}"', k=10_000)}
    eng_and = {d for d, _ in eng.search(f"{a} {b}", k=10_000)}
    assert eng_ph == ph and eng_and == both
    assert eng_ph < eng_and


def test_nonpositional_store_degrades_to_and(spark, tmp_path):
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import pages_spark_df
    from oscar_spark.serve.executor import SearchEngine
    d = str(tmp_path / "plain")
    build_index(spark, pages_spark_df(spark, 120), d)  # positions off
    eng = SearchEngine(spark, d)
    assert not eng.has_positions
    got = eng.search('"the city"', k=10)
    want = eng.search("the city", k=10)
    assert got == want


def test_positional_append_stays_positional(spark, tmp_path):
    """Append to a positional store inherits positions; quoted queries
    stay rank-identical with a full-corpus oracle after the append."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    pdir = tmp_path / "pages"
    pdir.mkdir()
    pdf = generate_pages(180)
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].astype("datetime64[us]"))
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:120],
                                        preserve_index=False),
                   str(pdir / "part-0.parquet"))
    d = str(tmp_path / "idx")
    build_index(spark, spark.read.parquet(str(pdir)), d, positions=True)
    pq.write_table(pa.Table.from_pandas(pdf.iloc[120:],
                                        preserve_index=False),
                   str(pdir / "part-1.parquet"))
    res = build_index(spark, spark.read.parquet(str(pdir)), d,
                      resume=True, positions=True)
    assert res.resumed_stages[0].startswith("append:")
    store = IndexStore(d)
    assert store.get_meta("positions") is True
    ds = {r["url"]: r["doc_id"]
          for r in store.read(spark, "doc_stats").collect()}
    oracle = OracleIndex([(int(ds[u]), t)
                          for u, t in zip(pdf["url"], pdf["text"])])
    eng = SearchEngine(spark, d)
    assert eng.has_positions
    for q in _phrase_queries(oracle, n=4):
        got = eng.search(q, k=10)
        exp = oracle.search(q, k=10)
        assert [dd for dd, _ in got] == [dd for dd, _ in exp], q


# ---- fielded terms (@key:value, TextSearchTraits.h:108 analog) ----

def test_fielded_parser_leaf():
    assert parser.parse("lang:en") == ("term", "lang:en")
    assert parser.parse("@lang:en") == ("term", "lang:en")
    assert parser.parse("lang:en-US") == ("term", "lang:en-us")
    assert parser.parse("data lang:en") == \
        ("and", ("term", "data"), ("term", "lang:en"))


def test_fielded_engine_rank_identity(spark, tmp_path):
    """Index built with fields=('lang',): `lang:xx` works as a query
    leaf with df = value doc count, rank-identical to the oracle, and
    never collides with text terms."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages, pages_spark_df
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    d = str(tmp_path / "fidx")
    build_index(spark, pages_spark_df(spark, 200), d,
                positions=True, fields=("lang",))
    store = IndexStore(d)
    assert store.get_meta("fields") == ["lang"]
    pdf = generate_pages(200)
    ds = {r["url"]: r["doc_id"]
          for r in store.read(spark, "doc_stats").collect()}
    oracle = OracleIndex(
        [(int(ds[u]), t) for u, t in zip(pdf["url"], pdf["text"])],
        fields={int(ds[u]): {"lang": lg}
                for u, lg in zip(pdf["url"], pdf["lang"])})
    eng = SearchEngine(spark, d)
    langs = sorted(set(pdf["lang"]))
    # df(lang:x) == value doc count
    for lg in langs:
        n = int((pdf["lang"] == lg).sum())
        assert eng.term_stats([f"lang:{lg}"]).get(f"lang:{lg}") == n
        assert oracle.df(f"lang:{lg}") == n
    for q in (f"lang:{langs[0]}", f"the lang:{langs[0]}",
              f"war + lang:{langs[-1]}", f"city - lang:{langs[0]}",
              f"@lang:{langs[0]} state"):
        got = eng.search(q, k=10)
        exp = oracle.search(q, k=10)
        assert [x for x, _ in got] == [x for x, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND), q


def test_parser_tokens_after_quote_survive():
    """Regression: the quoted branch once rebound the token-stream
    variable, silently dropping every token after a quote."""
    assert parser.parse('"big cat" dog') == \
        ("and", ("phrase", ("big", "cat")), ("term", "dog"))
    assert parser.parse('"dog" cat') == \
        ("and", ("term", "dog"), ("term", "cat"))
    assert parser.parse('"big cat" + dog') == \
        ("or", ("phrase", ("big", "cat")), ("term", "dog"))
    assert parser.parse('("big cat" dog) - cow') == \
        ("not", ("and", ("phrase", ("big", "cat")), ("term", "dog")),
         ("term", "cow"))


def test_field_key_normalized_at_build():
    """Keys with '_'/uppercase normalize identically in build, parser,
    and oracle (raw keys could never be queried)."""
    import pandas as pd

    from oscar_spark.build.indexer import _tokenize_batches
    pdf = pd.DataFrame({"url": ["https://a/"], "text": ["alpha beta"],
                        "Content_Type": ["Text/HTML"]})
    frames = list(_tokenize_batches(iter([pdf]),
                                    field_cols=("Content_Type",)))
    fielded = [t for f in frames for t in f["term"].astype(str)
               if ":" in t]
    assert fielded == ["content-type:text-html"]
    # '/' is an operator char — escape it (reference escape set) or
    # type the normalized form; both reach the same composite term
    assert parser.parse(r"Content_Type:Text\/HTML") == \
        ("term", "content-type:text-html")
    assert parser.parse("content_type:text-html") == \
        ("term", "content-type:text-html")


def test_fields_flip_resume_rebuilds_terms(spark, tmp_path):
    """Regression: the terms-stage fingerprint omitted the fields flag,
    so a fields-flip rebuild kept a stale dictionary (df=0 for every
    fielded term while postings contained them)."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages, pages_spark_df
    from oscar_spark.serve.executor import SearchEngine

    d = str(tmp_path / "flip")
    pages = pages_spark_df(spark, 100)
    build_index(spark, pages, d)  # no fields
    res = build_index(spark, pages, d, resume=True, fields=("lang",))
    assert "terms" not in res.resumed_stages
    pdf = generate_pages(100)
    lg = sorted(set(pdf["lang"]))[0]
    eng = SearchEngine(spark, d)
    n = int((pdf["lang"] == lg).sum())
    assert eng.term_stats([f"lang:{lg}"]).get(f"lang:{lg}") == n


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


def test_phrase_candidate_range_intersection(spark, built_index):
    """_phrase_candidate_ranges keeps exactly the ranges where every
    member term has a posting block (metadata-only pruning, r06), and
    the pruned phrase path returns identical results."""
    from pyspark.sql import functions as F

    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    # synthetic metadata: term 'aa' in ranges {0,1,2}, 'bb' only in {1}
    meta = spark.createDataFrame(
        [("aa", 0), ("aa", 1), ("aa", 2), ("aa", 1), ("bb", 1)],
        "term string, range_id long")
    orig = eng._blocks
    try:
        # the real _blocks filters to the requested terms; mirror that
        eng._blocks = lambda terms, meta_only: meta.filter(
            F.col("term").isin(terms))
        got = sorted(r["range_id"] for r in
                     eng._phrase_candidate_ranges(["aa", "bb"]).collect())
        assert got == [1]
        got1 = sorted(r["range_id"] for r in
                      eng._phrase_candidate_ranges(["aa"]).collect())
        assert got1 == [0, 1, 2]
    finally:
        eng._blocks = orig
    # end-to-end: the candidate-range phrase route matches the driver-
    # local kernel bit for bit (tests/test_multi_range.py checks it
    # on a store of three ranges)
    q = '"to west"'
    assert eng.search(q, k=10, mode="brute") == \
        eng.search(q, k=10, mode="local")
