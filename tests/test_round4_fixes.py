"""Round-4 catalog operators: fielded_topk value normalization, the
two-level IVF coarse quantizer, and the query_ids evaluator checked
against OracleIndex."""

from __future__ import annotations


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
