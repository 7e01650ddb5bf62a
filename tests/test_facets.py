"""Facets: (key, value) counts and per-key entropy over a query's
matching docs — the engine's facets over its own results, checked
against the oracle, and the catalog operators' facets over a parsed
query, checked against DuckDB."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from oscar_spark.serve import parser


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


# ---- facets over a PARSED query's result set, catalog side with a
# DuckDB oracle (the entry contract's fts_facet_results pairing) ----

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
    '(data + "order scan") - qu* lang:en',   # the entry's FACET_QUERY
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
