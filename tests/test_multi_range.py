"""Serve over a store of several doc-id ranges.

The other serve suites run on stores of one range (fewer than
RANGE_SIZE pages), where the per-range kernel of the Spark routes never
has to decompose a query.  This 17,000-page positional, fielded store
spans 3 ranges, so every Spark route here answers each query as the
union of 3 per-range answers, and must still agree bit for bit with the
driver-local route and, at SCORE_ROUND, with the OracleIndex."""

from __future__ import annotations

from collections import Counter

import pytest

from oscar_spark.config import RANGE_SIZE, SCORE_ROUND
from oscar_spark.fixtures.queries import reference_queries
from oscar_spark.serve import parser
from oscar_spark.serve.executor import _tree_shape

N_PAGES = 17_000


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """(engine, oracle, doc id → lang) over the 3-range store."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages, pages_spark_df
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    d = str(tmp_path_factory.mktemp("multi_range"))
    build_index(spark, pages_spark_df(spark, N_PAGES), d,
                positions=True, fields=("lang",))
    pdf = generate_pages(N_PAGES)
    ds = {r["url"]: int(r["doc_id"])
          for r in IndexStore(d).read(spark, "doc_stats").collect()}
    ids = [ds[u] for u in pdf["url"]]
    doc_lang = dict(zip(ids, pdf["lang"]))
    oracle = OracleIndex(list(zip(ids, pdf["text"])),
                         fields={i: {"lang": lg} for i, lg in doc_lang.items()})
    assert {i // RANGE_SIZE for i in ids} == {0, 1, 2}
    return SearchEngine(spark, d), oracle, doc_lang


def _assert_oracle(got, want, q):
    assert [d for d, _ in got] == [d for d, _ in want], f"ids: {q!r}"
    for (_, gs), (_, ws) in zip(got, want):
        assert round(gs, SCORE_ROUND) == round(ws, SCORE_ROUND), \
            f"scores: {q!r}"


SHAPES = ["the", "city state", "city + state", "time - year",
          "house ^ music", "(war + history) - world", "the - (of + and)",
          '"to west"', '"to west" + city', 'city ^ "to west"']


def test_every_shape_agrees_across_routes(store):
    """single, AND, OR, NOT, XOR, nested, bare phrase and phrase in a
    combinator: brute, local and (single/AND/OR) pruned give the same
    rows bit for bit, and the oracle's at SCORE_ROUND.  k is deep enough
    that every query's answer spans more than one range."""
    eng, oracle, _ = store
    k = 200
    for q in SHAPES:
        local = eng.search(q, k=k, mode="local")
        assert len({d // RANGE_SIZE for d, _ in local}) > 1, q
        assert eng.search(q, k=k, mode="brute") == local, q
        if _tree_shape(parser.parse(q)) in ("single", "and", "or"):
            assert eng.search(q, k=k, mode="pruned") == local, q
        _assert_oracle(local, oracle.search(q, k=k), q)


def test_reference_query_set_rank_identity(store):
    """The 100-query reference set under auto, brute and pruned (its
    single/AND/OR queries, every 3rd: keep the suite under budget)."""
    eng, oracle, _ = store
    queries = reference_queries(oracle)
    assert len(queries) == 100
    eligible = [q for q in queries
                if _tree_shape(parser.parse(q)) in ("single", "and", "or")]
    for q in queries:
        want = oracle.search(q, k=10)
        _assert_oracle(eng.search(q, k=10), want, q)
        _assert_oracle(eng.search(q, k=10, mode="brute"), want, q)
    for q in eligible[::3]:
        _assert_oracle(eng.search(q, k=10, mode="pruned"),
                       oracle.search(q, k=10), q)


def test_facet_stats_match_oracle(store):
    eng, oracle, doc_lang = store
    for q in ["city + state", "the - war", "war history", '"to west"',
              "city ^ river", "wd00*"]:
        matched = oracle.eval_node(eng._rewrite_prefixes(parser.parse(q)))
        assert len({d // RANGE_SIZE for d in matched}) > 1, q
        want = Counter(doc_lang[d] for d in matched)
        got = {(r["key"], r["value"]): r["cnt"]
               for r in eng.facet_stats(q).collect()}
        assert got == {("lang", v): c for v, c in want.items()}, q


def test_pruned_phase_b_matches_oracle(store, monkeypatch):
    """With the seed and fetch floors at 1, a k=10 pruned query over the
    3 ranges scores one seed range first, cuts θ from its top-k, then
    scores the other ranges whose bound reaches θ (phase B, which a
    store needs PRUNE_FETCH_RANGES ranges to reach otherwise).  Single,
    AND and OR queries still equal the oracle at SCORE_ROUND."""
    from oscar_spark.serve import executor
    eng, oracle, _ = store
    monkeypatch.setattr(executor, "PRUNE_SEED_RANGES", 1)
    monkeypatch.setattr(executor, "PRUNE_FETCH_RANGES", 1)
    passes: list[int] = []
    real = eng._score_ranges
    monkeypatch.setattr(eng, "_score_ranges",
                        lambda *a, **kw: passes.append(1) or real(*a, **kw))
    for q in ("the", "city state", "city + state"):
        passes.clear()
        _assert_oracle(eng.search(q, k=10, mode="pruned"),
                       oracle.search(q, k=10), q)
        # the seed pass, then the rest: phase B ran
        assert len(passes) == 2, q
