"""Rank-identity over the full reference query set (FIXTURES.md §3.1):
100 stratified queries, engine vs pinned oracle, ids AND scores, on
the brute and the auto (driver-local) paths.  The pruned path is
additionally checked on its eligible subset."""

from __future__ import annotations

import pytest

from oscar_spark.config import SCORE_ROUND
from oscar_spark.fixtures.queries import reference_queries
from oscar_spark.serve.executor import SearchEngine, _tree_shape
from oscar_spark.serve import parser


@pytest.fixture(scope="module")
def engine(spark, built_index):
    d, _ = built_index
    return SearchEngine(spark, d)


@pytest.fixture(scope="module")
def corpus(oracle):
    qs = reference_queries(oracle)
    assert len(qs) == 100
    return qs


def _assert_identical(got, expected, q):
    assert [d for d, _ in got] == [d for d, _ in expected], f"ids differ: {q!r}"
    for (_, gs), (_, es) in zip(got, expected):
        assert round(gs, SCORE_ROUND) == round(es, SCORE_ROUND), \
            f"scores differ: {q!r}"


def test_reference_query_set_rank_identity(engine, oracle, corpus):
    for q in corpus:
        _assert_identical(engine.search(q, k=10, mode="brute"),
                          oracle.search(q, k=10), q)


def test_reference_query_set_auto_path(engine, oracle, corpus):
    """Every query shape of the set is served on the driver-local path
    under mode="auto" (the test corpus sits far below
    PRUNE_MIN_POSTINGS)."""
    for q in corpus:
        _assert_identical(engine.search(q, k=10), oracle.search(q, k=10), q)


def test_reference_query_set_pruned_path(engine, oracle, corpus):
    eligible = [q for q in corpus
                if _tree_shape(parser.parse(q)) in ("single", "and", "or")]
    assert len(eligible) >= 70  # singles + ANDs + ORs + quoted
    for q in eligible[::3]:  # every 3rd: keep suite under budget
        _assert_identical(engine.search(q, k=10, mode="pruned"),
                          oracle.search(q, k=10), q)
