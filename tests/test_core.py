"""Pure-Python core tests: codec roundtrip, tokenizer parity, extractor,
parser robustness, oracle sanity.  No Spark needed here."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from oscar_spark.functions.codec import (
    decode_block, encode_block, varint_decode, varint_encode,
)
from oscar_spark.functions.extract import extract_series, extract_text
from oscar_spark.functions.tokenize import tokenize, tokenize_series
from oscar_spark.oracle.engine import OracleIndex
from oscar_spark.serve import parser

# ---------- codec (FIXTURES.md invariant 5) ----------

@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_known_bytes():
    # LEB128: 0→00, 127→7f, 128→80 01, 300→ac 02
    assert varint_encode(np.array([0, 127, 128, 300], dtype=np.uint64)) == \
        bytes([0x00, 0x7F, 0x80, 0x01, 0xAC, 0x02])


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
             max_size=300, unique=True),
    st.integers(min_value=1, max_value=1000),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(ids, seed):
    ids = sorted(ids)
    rng = np.random.RandomState(seed)
    tfs = rng.randint(1, 50, size=len(ids))
    dls = rng.randint(1, 500, size=len(ids))
    base = min(ids) - (min(ids) % 8192)
    payload = encode_block(np.array(ids), tfs, dls, base)
    d_ids, d_tfs, d_dls = decode_block(payload, len(ids), base)
    assert list(d_ids) == ids
    assert np.array_equal(d_tfs, tfs)
    assert np.array_equal(d_dls, dls)


def test_block_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_block(np.array([5, 5]), np.array([1, 1]), np.array([1, 1]), 0)


@given(st.integers(min_value=1, max_value=10_000))
@settings(max_examples=25, deadline=None)
def test_encode_runs_matches_per_block(seed):
    """Batched single-pass encoder == per-block encode_block, byte for
    byte, including metadata — across random (term, range, ids) runs."""
    from oscar_spark.config import BLOCK_SIZE, RANGE_SIZE
    from oscar_spark.functions.codec import encode_runs
    rng = np.random.RandomState(seed)
    rows = []
    for t in range(rng.randint(1, 30)):
        term = f"t{t:03d}"
        n = rng.randint(1, 400)
        ids = np.sort(rng.choice(3 * RANGE_SIZE, size=n, replace=False))
        rows.extend((term, int(i) // RANGE_SIZE, int(i)) for i in ids)
    rows.sort()
    terms = np.array([r[0] for r in rows], dtype=object)
    rngs = np.array([r[1] for r in rows], dtype=np.int64)
    ids = np.array([r[2] for r in rows], dtype=np.int64)
    tfs = rng.randint(1, 50, len(ids)).astype(np.int64)
    dls = rng.randint(1, 500, len(ids)).astype(np.int64)
    out = encode_runs(terms, rngs, ids, tfs, dls, BLOCK_SIZE, RANGE_SIZE)
    # reference: per-(term,range) group, per-BLOCK_SIZE chunk
    i, k, n = 0, 0, len(ids)
    while i < n:
        j = i
        while j < n and terms[j] == terms[i] and rngs[j] == rngs[i]:
            j += 1
        base = int(rngs[i]) * RANGE_SIZE
        for s in range(i, j, BLOCK_SIZE):
            e = min(s + BLOCK_SIZE, j)
            assert out["term"][k] == terms[i]
            assert out["first_doc"][k] == ids[s]
            assert out["last_doc"][k] == ids[e - 1]
            assert out["doc_count"][k] == e - s
            assert out["max_tf"][k] == tfs[s:e].max()
            assert out["min_dl"][k] == dls[s:e].min()
            assert out["payload"][k] == encode_block(
                ids[s:e], tfs[s:e], dls[s:e], base)
            k += 1
        i = j
    assert k == len(out["payload"])


# ---------- tokenizer (pure vs pandas parity) ----------

@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_tokenize_parity(text):
    pure = tokenize(text)
    vec = tokenize_series(pd.Series([text])).iloc[0]
    assert pure == vec


def test_tokenize_rules():
    assert tokenize("Héllo, Wörld! a ab") == ["hello", "world", "ab"]
    assert tokenize("") == []
    assert tokenize("  ...  ") == []
    assert tokenize("foo-bar baz_qux") == ["foo", "bar", "baz", "qux"]


@given(st.lists(st.text(max_size=200), min_size=0, max_size=8))
@settings(max_examples=150, deadline=None)
def test_tokenize_flat_parity(texts):
    """Arrow-native flat path == tokenize() per doc, token for token."""
    from oscar_spark.functions.tokenize import tokenize_flat
    s = pd.Series(texts, dtype=object)
    codes, uniq, doc_idx, dls = tokenize_flat(s)
    recon = [[] for _ in range(len(texts))]
    u = uniq.to_numpy() if len(uniq) else []
    for c, d in zip(codes.tolist(), doc_idx.tolist()):
        recon[d].append(u[c])
    expected = [tokenize(t) for t in texts]
    assert recon == expected
    assert dls.tolist() == [len(e) for e in expected]


# ---------- extractor (FIXTURES.md invariant 4) ----------

def test_extract_basic():
    html = (b"<html><head><title>T one</title><style>x{}</style></head>"
            b"<body><h1>T one</h1><p>a &amp; b</p>"
            b"<script>var x=1;</script></body></html>")
    assert extract_text(html) == "T one T one a & b"


def test_extract_invalid_utf8_and_unclosed():
    html = b"<p>ok</p><div class=\xff\xfe>tail text"
    out = extract_text(html)
    assert "ok" in out and "tail text" in out
    out2 = extract_text(b"<p>x</p><script>never closed")
    assert out2 == "x"


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_extract_never_raises_and_parity(data):
    out = extract_text(data)
    assert isinstance(out, str)
    assert extract_series(pd.Series([data])).iloc[0] == out


# ---------- parser (FIXTURES.md §3.2 dont-crash corpus) ----------

DONT_CRASH = [
    "((foo (( bar))",
    "+-(%foo - %+bar)",
    "()",
    "foo + () bar",
    "bar () foo",
    "-foo",
    "foo ^",
    '"unterminated',
    "", "   ", ")))(((", "\\", '""', "a" * 10000,
]


@pytest.mark.parametrize("q", DONT_CRASH)
def test_parser_never_crashes(q):
    node = parser.parse(q)
    assert isinstance(node, tuple)
    OracleIndex([(0, "foo bar"), (1, "baz")]).eval_node(node)


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_parser_fuzz(q):
    node = parser.parse(q)
    OracleIndex([(0, "foo bar")]).eval_node(node)


def test_parser_shapes():
    assert parser.parse("foo bar") == \
        ("and", ("term", "foo"), ("term", "bar"))
    assert parser.parse("foo + bar") == \
        ("or", ("term", "foo"), ("term", "bar"))
    assert parser.parse("foo - bar ^ baz") == \
        ("xor", ("not", ("term", "foo"), ("term", "bar")), ("term", "baz"))
    # quoted multi-token is now a PHRASE node (round-3); unquoted and
    # hyphenated forms remain the intersection of their tokens
    assert parser.parse('"aa bb"') == ("phrase", ("aa", "bb"))
    assert parser.parse("aa bb") == parser.parse("aa-bb") == \
        ("and", ("term", "aa"), ("term", "bb"))
    assert parser.parse("-foo") == ("not", parser.EMPTY, ("term", "foo"))


# ---------- oracle engine sanity ----------

@pytest.fixture(scope="module")
def idx():
    docs = [
        (0, "the quick brown fox"),
        (1, "the lazy dog sleeps"),
        (2, "quick dog runs fast"),
        (3, "fox and dog and fox"),
    ]
    return OracleIndex(docs)


def test_oracle_set_ops(idx):
    assert idx.eval_node(parser.parse("quick dog")) == {2}
    assert idx.eval_node(parser.parse("quick + dog")) == {0, 1, 2, 3}
    assert idx.eval_node(parser.parse("dog - quick")) == {1, 3}
    assert idx.eval_node(parser.parse("quick ^ dog")) == {0, 1, 3}
    assert idx.eval_node(parser.parse("missing")) == set()


def test_oracle_ranking(idx):
    res = idx.search("fox", k=10)
    assert [d for d, _ in res] == [3, 0]  # tf=2 beats tf=1
    assert res[0][1] > res[1][1] > 0
    # ties broken by doc_id asc
    res2 = idx.search("the", k=10)
    assert [d for d, _ in res2] == [0, 1]
    assert res2[0][1] == pytest.approx(res2[1][1])


def test_prefix_parse_and_oracle():
    assert parser.parse("qu*") == ("prefix", "qu")
    assert parser.parse("foo qu*") == \
        ("and", ("term", "foo"), ("prefix", "qu"))
    assert parser.parse('"qu*"') == ("and", ("term", "qu"), parser.EMPTY) or \
        parser.parse('"qu*"') == ("term", "qu")  # quotes disable prefix
    idx = OracleIndex([(0, "quick quiet"), (1, "quiet dog"), (2, "other")])
    assert idx.eval_node(parser.parse("qu*")) == {0, 1}
    assert idx.eval_node(parser.parse("qu* - dog")) == {0}
    res = idx.search("qu*", k=5)
    assert [d for d, _ in res][0] == 0  # doc 0 matches two expanded terms


def test_reference_dont_crash_corpus_literal():
    """The reference's own adversarial corpus, verbatim
    (reference/data/tests/oscar-cmd/dont_crash_test.txt)."""
    import os
    path = "/root/reference/data/tests/oscar-cmd/dont_crash_test.txt"
    if not os.path.exists(path):
        pytest.skip("reference checkout not present")
    idx = OracleIndex([(0, "marabu nix"), (1, "neugereut marabu")])
    expected = {
        "((marabu (( nix))": {0},
        "+-(%marabu - %+neug)": set(),
        "()": set(),
        "marabu + () neugereut": {0, 1},
        "neugeruet () marabu": set(),  # typo'd term: AND with ∅
    }
    for q in open(path):
        q = q.rstrip("\n")
        assert idx.eval_node(parser.parse(q)) == expected[q]


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=0,
                max_size=400))
@settings(max_examples=100, deadline=None)
def test_pfor_roundtrip(vals):
    from oscar_spark.functions.codec import pfor_encode, pfor_decode
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(pfor_decode(pfor_encode(arr)), arr)


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
             max_size=300, unique=True),
    st.integers(min_value=1, max_value=1000),
)
@settings(max_examples=50, deadline=None)
def test_pfor_block_roundtrip(ids, seed):
    from oscar_spark.functions.codec import (pfor_decode_block,
                                             pfor_encode_block)
    ids = sorted(ids)
    rng = np.random.RandomState(seed)
    tfs = rng.randint(1, 50, size=len(ids))
    dls = rng.randint(1, 500, size=len(ids))
    base = min(ids) - (min(ids) % 8192)
    payload = pfor_encode_block(np.array(ids), tfs, dls, base)
    d_ids, d_tfs, d_dls = pfor_decode_block(payload, len(ids), base)
    assert list(d_ids) == ids
    assert np.array_equal(d_tfs, tfs)
    assert np.array_equal(d_dls, dls)


def test_store_decoder_rejects_other_formats():
    """The store's manifest meta picks the decoder; a store without a
    recorded payload_format, with another format, or with an unknown
    codec is refused with a clear error instead of guessed at."""
    from oscar_spark.functions.codec import (PAYLOAD_FORMAT, decode_block,
                                             pfor_decode_block,
                                             store_decoder)
    assert store_decoder({"codec": "varint",
                          "payload_format": PAYLOAD_FORMAT}) is decode_block
    assert store_decoder({"codec": "pfor", "payload_format":
                          PAYLOAD_FORMAT}) is pfor_decode_block
    for meta in ({"codec": "varint"},
                 {"codec": "varint", "payload_format": 1}):
        with pytest.raises(ValueError, match="payload format"):
            store_decoder(meta)
    with pytest.raises(ValueError, match="unknown posting codec"):
        store_decoder({"codec": "ef", "payload_format": PAYLOAD_FORMAT})
