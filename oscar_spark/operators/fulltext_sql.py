"""Fulltext operators over the driver's `documents` table, expressed as
pure DataFrame ops (whole-stage codegen, zero UDFs) with exact DuckDB-SQL
oracle parity.

These mirror the indexed engine's semantics (same pinned tokenizer rule &
BM25 formula from oscar_spark.config / functions.bm25) but execute as
declarative plans over the raw corpus — the "decelled" strategy of the
reference (per-leaf sets flattened then combined,
reference/oscar-cmd/DecelledACOT.cpp:22-99), whereas the indexed engine
(build/indexer.py + serve/executor.py) is the GEOCELL strategy.  The
pytest suite asserts the two agree; the driver's DuckDB oracle checks
this module directly.

NOTE on tokenizer: this SQL-parity tokenizer is lower+split only (no NFKD
strip — not expressible identically in DuckDB); the documents fixture is
ASCII so the rule coincides with the pinned tokenizer there.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oscar_spark.config import MIN_TOKEN_LEN, SCORE_ROUND, TOKEN_SPLIT_RE
from oscar_spark.functions.bm25 import bm25_sql


def load_documents(spark: SparkSession, sf_dir: str,
                   heavy: bool = False) -> DataFrame:
    from oscar_spark.operators.scan import parallelize
    return parallelize(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                       heavy=heavy)


# regexp_extract_all form of the pinned tokenizer: maximal [a-z0-9]
# runs of length >= MIN_TOKEN_LEN — exactly split(TOKEN_SPLIT_RE) +
# length filter, but as ONE codegen'd regex pass instead of a split
# followed by an ArrayFilter higher-order function (HOFs execute
# interpreted per element in Spark, measured as a large share of every
# tokenizing stage — r06, guide §1.2 step 2).
_TOKEN_EXTRACT_RE = f"[a-z0-9]{{{MIN_TOKEN_LEN},}}"


def tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, term) one row per token occurrence — pure built-ins."""
    return docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(_TOKEN_EXTRACT_RE), 0))
        .alias("term"))


# The exact-same tokenization as a DuckDB CTE (used by every oracle):
TOK_CTE = (
    "WITH tok AS (SELECT d.doc_id, t.term FROM documents d, "
    "unnest(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(term) "
    f"WHERE length(t.term) >= {MIN_TOKEN_LEN})"
)

TF_CTE = (
    TOK_CTE + ", tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok "
    "GROUP BY doc_id, term)"
    ", dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id)"
    ", stats AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)"
    " AS n, (SELECT SUM(dl) FROM dl) / "
    "CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl)"
    ", dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)"
)


def term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → document frequency (the `terms` dictionary aggregation, A1)."""
    return (tokens(load_documents(spark, sf_dir))
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .orderBy(F.desc("df"), F.asc("term")))


TERM_DF_SQL = (TOK_CTE + " SELECT term, COUNT(DISTINCT doc_id) AS df "
               "FROM tok GROUP BY term ORDER BY df DESC, term")


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token stats incl. deterministic doc rank (O1 docID analog)."""
    from pyspark.sql import Window
    t = tokens(load_documents(spark, sf_dir))
    agg = t.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        F.countDistinct("term").alias("n_terms"))
    w = Window.orderBy(F.desc("dl"), F.asc("doc_id"))
    return (agg.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("doc_id", "dl", "n_terms", "rank"))


DOC_STATS_SQL = (
    TOK_CTE + " SELECT doc_id, COUNT(*) AS dl, "
    "COUNT(DISTINCT term) AS n_terms, "
    "CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, doc_id ASC) AS BIGINT)"
    " AS rank FROM tok GROUP BY doc_id")


_PROJ_CACHE: list[DataFrame] = []


def _release_proj_cache() -> None:
    """Unpersist the previous catalog query's persisted per-doc
    projection — at most one is live at a time (the same lifecycle the
    r05 tf cache had; Spark otherwise pins the RDD for the session)."""
    while _PROJ_CACHE:
        _PROJ_CACHE.pop().unpersist()


def _tok_arr():
    """The pinned tokenizer as an ARRAY expression over `text` (same
    rule as tokens(): lower + split + min-length filter, in the
    codegen'd regexp_extract_all form)."""
    return F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(_TOKEN_EXTRACT_RE), 0)


def _doc_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """Per-doc BM25 aggregate for a term list: one row per doc with at
    least one present term — (doc_id, score, n_match, dl, n, avgdl).

    r06 rewrite (guide §1.2 step 1 / §2.3-2.4): the previous shape
    materialized the FULL (doc_id, term, tf) table — a corpus-wide
    shuffle carrying every distinct term string, plus a .cache() — when
    BM25 over q query terms only needs per-doc token counts and the
    tf/df of those q terms.  Both are array expressions evaluated in
    the scan projection: tf_i = size(filter(arr, t = term_i)),
    dl = size(arr).  The only remaining exchanges are a 1-row stats
    aggregate (broadcast back) — the big tf Exchange, the dl Exchange
    and the cache are gone, and every per-row value is identical, so
    scores match the unchanged DuckDB oracle bit-for-bit (2-double
    addition is commutative; per-term bm25 operands are equal).
    """
    qts = list(dict.fromkeys(query_terms))
    arr = _tok_arr()

    def _tf(qt: str):
        # occurrence count via codegen'd array_remove (an ArrayFilter
        # lambda would run interpreted per token)
        return F.size(arr) - F.size(F.array_remove(arr, qt))

    proj = docs.select(
        "doc_id", F.size(arr).alias("dl"),
        *[_tf(qt).alias(f"tf{i}") for i, qt in enumerate(qts)])
    # the stats pass and the scoring pass both read proj; persisting
    # this slim (doc_id, dl, tf…) table tokenizes the corpus ONCE
    # (released on the next _doc_scores call — nothing persists across
    # bench/oracle invocations).  persist, not localCheckpoint: a block
    # lost with its executor is recomputed from the lineage
    _release_proj_cache()
    proj = proj.persist(StorageLevel.MEMORY_AND_DISK)
    _PROJ_CACHE.append(proj)
    stats = (proj.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("dl").cast("double").alias("_tdl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).cast("double")
          .alias(f"df{i}") for i in range(len(qts))])
        .select("n", (F.col("_tdl") / F.col("n")).alias("avgdl"),
                *[f"df{i}" for i in range(len(qts))]))
    n_match = sum(
        (F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
         for i in range(len(qts))), start=F.lit(0))
    # absent terms contribute an exact +0.0 (present-term scores are
    # strictly positive, so the sum equals the present-only sum)
    score = sum(
        (F.when(F.col(f"tf{i}") > 0, F.expr(bm25_sql(
            f"tf{i}", "dl", f"df{i}", "n", "avgdl")))
         .otherwise(F.lit(0.0)) for i in range(len(qts))),
        start=F.lit(0.0))
    return (proj.crossJoin(F.broadcast(stats))
            .withColumn("n_match", n_match.cast("long"))
            .filter(F.col("n_match") > 0)
            .withColumn("score", score)
            .select("doc_id", "score", "n_match", "dl", "n", "avgdl"))


def bm25_topk(spark: SparkSession, sf_dir: str, query_terms: list[str],
              k: int = 10, require_all: bool = True) -> DataFrame:
    """Top-k BM25 (AND or OR over terms) — the flagship serve query."""
    docs = load_documents(spark, sf_dir)
    agg = _doc_scores(docs, query_terms)
    if require_all:
        agg = agg.filter(F.col("n_match") == len(query_terms))
    return (agg.select("doc_id",
                       F.round("score", SCORE_ROUND).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def bm25_topk_sql(query_terms: list[str], k: int = 10,
                  require_all: bool = True) -> str:
    terms = ", ".join(f"'{t}'" for t in query_terms)
    having = f"HAVING COUNT(*) = {len(query_terms)}" if require_all else ""
    score = bm25_sql("tf.tf", "dl.dl", "dfs.df", "stats.n", "stats.avgdl")
    return (
        TF_CTE +
        f" SELECT tf.doc_id AS doc_id, ROUND(SUM({score}), {SCORE_ROUND})"
        " AS score FROM tf JOIN dl USING (doc_id) JOIN dfs USING (term)"
        f" CROSS JOIN stats WHERE tf.term IN ({terms})"
        f" GROUP BY tf.doc_id {having}"
        f" ORDER BY score DESC, doc_id ASC LIMIT {k}")


def tokens_pos(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, term) — position = index in the FILTERED token
    stream (the indexed token sequence; short tokens are dropped before
    numbering, so adjacency means 'adjacent among indexed tokens', the
    only notion a positional index can offer).  Pure built-ins."""
    arr = F.filter(
        F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE),
        lambda t: F.length(t) >= MIN_TOKEN_LEN,
    )
    return docs.select(
        "doc_id", F.posexplode(arr).alias("pos", "term"))


# the same filtered-stream positions in DuckDB: enumerate the raw split
# array (generate_series keeps original order), drop short tokens, then
# re-number with row_number so positions match Spark's posexplode of the
# filtered array
TOKP_CTE = (
    "WITH rawtok AS (SELECT doc_id, w[i] AS term, i FROM "
    "(SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS w"
    " FROM documents), unnest(generate_series(1, length(w))) AS g(i)"
    f" WHERE length(w[i]) >= {MIN_TOKEN_LEN}), "
    "tokp AS (SELECT doc_id, term, ROW_NUMBER() OVER "
    "(PARTITION BY doc_id ORDER BY i) - 1 AS pos FROM rawtok)"
)


def _phrase_match(toks: list[str]):
    """Boolean column: the doc's FILTERED token stream contains `toks`
    adjacently — identical semantics to the former tokens_pos self-join
    chain (pos = index in the filtered array), evaluated as ONE
    codegen'd substring search per doc instead of n-1 shuffling
    equi-joins (r06, guide §2.4): the token stream joined on a \\x01
    delimiter (which no [a-z0-9]+ token can contain) contains
    \\x01tok1\\x01tok2\\x01 iff the tokens are adjacent in the stream.
    A phrase token outside the token alphabet can never equal an
    indexed token, so those phrases match nothing — same as the join
    chain — and are answered constant-False without touching data."""
    import re as _re
    if not toks or any(
            _re.fullmatch("[a-z0-9]+", t) is None or len(t) < MIN_TOKEN_LEN
            for t in toks):
        return F.lit(False)
    sep = "\x01"
    needle = sep + sep.join(toks) + sep
    hay = F.concat(F.lit(sep), F.concat_ws(sep, _tok_arr()), F.lit(sep))
    return F.instr(hay, needle) > 0


def _phrase_hits(docs: DataFrame, toks: list[str]) -> DataFrame:
    """doc_ids whose filtered token stream contains the phrase."""
    return docs.filter(_phrase_match(toks)).select("doc_id")


def phrase_topk(spark: SparkSession, sf_dir: str, phrase: list[str],
                k: int = 10) -> DataFrame:
    """Top-k BM25 over docs containing the EXACT phrase (tokens adjacent
    in the indexed stream) — true QT_EXACT semantics (per-node query-type
    payloads, reference/oscar-create/CellTextCompleter.h:457-473), not
    the AND-of-tokens degeneration.  Scoring = Σ BM25 of the member
    terms (phrase constrains membership, not the scoring formula)."""
    docs = load_documents(spark, sf_dir)
    hits = _phrase_hits(docs, phrase)
    agg = (_doc_scores(docs, phrase).join(hits, "doc_id")
           .select("doc_id", F.round("score", SCORE_ROUND).alias("score")))
    return (agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def phrase_topk_sql(phrase: list[str], k: int = 10) -> str:
    joins = []
    for i, tok in enumerate(phrase[1:], start=1):
        joins.append(
            f" JOIN tokp t{i} ON t{i}.doc_id = t0.doc_id AND"
            f" t{i}.pos = t0.pos + {i} AND t{i}.term = '{tok}'")
    terms = ", ".join(f"'{t}'" for t in phrase)
    score = bm25_sql("tf.tf", "dl.dl", "dfs.df", "stats.n", "stats.avgdl")
    return (
        TOKP_CTE +
        ", hits AS (SELECT DISTINCT t0.doc_id FROM tokp t0" +
        "".join(joins) + f" WHERE t0.term = '{phrase[0]}')" +
        # re-derive the bm25 CTEs over the same corpus (TF_CTE body,
        # reusing rawtok's filtered tokens as `tok`)
        ", tok AS (SELECT doc_id, term FROM rawtok)"
        ", tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok"
        " GROUP BY doc_id, term)"
        ", dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id)"
        ", stats AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS"
        " DOUBLE) AS n, (SELECT SUM(dl) FROM dl) / CAST((SELECT COUNT(*)"
        " FROM documents) AS DOUBLE) AS avgdl)"
        ", dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)"
        f" SELECT tf.doc_id AS doc_id, ROUND(SUM({score}), {SCORE_ROUND})"
        " AS score FROM tf JOIN hits USING (doc_id) JOIN dl USING (doc_id)"
        f" JOIN dfs USING (term) CROSS JOIN stats"
        f" WHERE tf.term IN ({terms}) GROUP BY tf.doc_id"
        f" ORDER BY score DESC, doc_id ASC LIMIT {k}")


def fielded_topk(spark: SparkSession, sf_dir: str,
                 query_terms: list[str], field_key: str, field_val: str,
                 k: int = 10) -> DataFrame:
    """BM25 top-k over docs matching ALL text terms AND the fielded
    `key:value` token (TextSearchTraits.h:108 analog).  The fielded
    token scores as a tf=1 posting whose df is the value's doc count —
    the indexed engine's fielded SCORING, expressed declaratively so
    DuckDB can replicate it value-for-value.  Matching normalizes BOTH
    sides under the indexed engine's field rule (normalize_field_value:
    lower, non-alnum runs → '-', trimmed), so fielded_topk('lang',
    'en-US') agrees with the indexed engine's `lang:en-us` path —
    previously raw column equality silently diverged for any caller
    passing a non-normalized value.  (SQL-parity caveat as in the
    module docstring: the NFKD diacritic strip is lower-only here; the
    documents fixture is ASCII, where the rules coincide.)"""
    from oscar_spark.functions.tokenize import normalize_field_value
    field_val = normalize_field_value(field_val)
    docs = load_documents(spark, sf_dir)
    fnorm = _field_norm_expr(field_key)
    # r06: _doc_scores already carries (score=Σ present-term bm25,
    # n_match, dl, n, avgdl) per doc — the former groupBy + first()
    # re-aggregation is gone
    agg = (_doc_scores(docs, query_terms)
           .filter(F.col("n_match") == len(query_terms)))
    fdocs = docs.filter(fnorm == field_val).select("doc_id")
    fstat = docs.agg(
        F.sum(F.when(fnorm == field_val, 1).otherwise(0))
        .cast("double").alias("fdf"))
    return (agg.join(fdocs, "doc_id")
            .crossJoin(F.broadcast(fstat))
            .withColumn("score", F.round(
                F.col("score") + F.expr(bm25_sql(
                    "1.0", "dl", "fdf", "n", "avgdl")), SCORE_ROUND))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def _field_norm_expr(field_key: str):
    """Spark twin of the SQL normalization in fielded_topk_sql — the
    ASCII projection of normalize_field_value, shared so both engines
    and the DuckDB oracle stay value-identical on the fixture."""
    return F.expr(
        f"trim(BOTH '-' FROM regexp_replace(lower({field_key}),"
        " '[^a-z0-9]+', '-'))")


def fielded_topk_sql(query_terms: list[str], field_key: str,
                     field_val: str, k: int = 10) -> str:
    from oscar_spark.functions.tokenize import normalize_field_value
    field_val = normalize_field_value(field_val)
    terms = ", ".join(f"'{t}'" for t in query_terms)
    score = bm25_sql("tf.tf", "dl.dl", "dfs.df", "stats.n", "stats.avgdl")
    fscore = bm25_sql("1.0", "t.dl", "fstat.fdf", "stats.n",
                      "stats.avgdl")
    fnorm_sql = (f"trim(regexp_replace(lower({field_key}),"
                 " '[^a-z0-9]+', '-', 'g'), '-')")
    return (
        TF_CTE +
        f", fdocs AS (SELECT doc_id FROM documents"
        f" WHERE {fnorm_sql} = '{field_val}')"
        ", fstat AS (SELECT CAST(COUNT(*) AS DOUBLE) AS fdf FROM fdocs)"
        f", t AS (SELECT tf.doc_id AS doc_id, SUM({score}) AS ts,"
        " COUNT(*) AS nm, MAX(dl.dl) AS dl FROM tf JOIN dl USING (doc_id)"
        " JOIN dfs USING (term) CROSS JOIN stats"
        f" WHERE tf.term IN ({terms}) GROUP BY tf.doc_id"
        f" HAVING COUNT(*) = {len(query_terms)})"
        f" SELECT t.doc_id AS doc_id, ROUND(t.ts + {fscore},"
        f" {SCORE_ROUND}) AS score"
        " FROM t JOIN fdocs USING (doc_id) CROSS JOIN fstat"
        " CROSS JOIN stats"
        f" ORDER BY score DESC, doc_id ASC LIMIT {k}")


def set_op(spark: SparkSession, sf_dir: str, term_a: str, term_b: str,
           op: str) -> DataFrame:
    """Doc-id set algebra between two terms (§2.6: + / ' ' / - / ^).

    r06: per-doc membership is array_contains over the tokenized text —
    one corpus scan and a boolean filter replace two token explodes, a
    corpus-wide distinct and a join (a doc is in set A iff its token
    array contains term_a; the four set algebras are then boolean
    combinations of the two flags, guide §2.4)."""
    arr = _tok_arr()
    has_a = F.array_contains(arr, term_a)
    has_b = F.array_contains(arr, term_b)
    cond = {"and": has_a & has_b,
            "or": has_a | has_b,
            "not": has_a & ~has_b,
            "xor": has_a != has_b}.get(op)
    if cond is None:
        raise ValueError(op)
    return (load_documents(spark, sf_dir).filter(cond)
            .select("doc_id").orderBy("doc_id"))


def set_op_sql(term_a: str, term_b: str, op: str) -> str:
    a = f"SELECT DISTINCT doc_id FROM tok WHERE term = '{term_a}'"
    b = f"SELECT DISTINCT doc_id FROM tok WHERE term = '{term_b}'"
    comb = {"and": "INTERSECT", "or": "UNION",
            "not": "EXCEPT"}.get(op)
    if comb is not None:
        body = f"({a}) {comb} ({b})"
    else:  # xor = union except intersect
        body = (f"(({a}) UNION ({b})) EXCEPT (({a}) INTERSECT ({b}))")
    return TOK_CTE + f" SELECT doc_id FROM ({body}) ORDER BY doc_id"


def prefix_search(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """Prefix query = range scan on the sorted term dictionary (QT_PREFIX
    analog — trie subtree merge becomes a LIKE range scan, SURVEY §1.2)."""
    return (tokens(load_documents(spark, sf_dir))
            .filter(F.col("term").startswith(prefix))
            .groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
            .orderBy("term"))


def prefix_search_sql(prefix: str) -> str:
    return (TOK_CTE + " SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok"
            f" WHERE term LIKE '{prefix}%' GROUP BY term ORDER BY term")


def facet_stats(spark: SparkSession, sf_dir: str, term: str) -> DataFrame:
    """Facet counts over a query's result set — the KVStats analog
    (Worker::kvstats, reference/oscar-cmd/Workfunctions.cpp:134-168:
    for the docs matching a query, count per key / per (key,value) and
    rank).  Here the doc 'tags' are the lang and source columns; the
    result set is the docs containing `term`."""
    docs = load_documents(spark, sf_dir)
    # r06: membership via array_contains in one scan — no token
    # explode, no distinct, no self-join back onto documents
    matched = docs.filter(F.array_contains(_tok_arr(), term))
    return (_facet_kv(matched).groupBy("key", "value")
            .agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("key"), F.asc("value")))


def facet_stats_sql(term: str) -> str:
    return (
        TOK_CTE +
        f", hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{term}')"
        ", matched AS (SELECT d.* FROM documents d JOIN hits USING (doc_id))"
        ", kv AS (SELECT 'lang' AS key, lang AS value FROM matched"
        " UNION ALL SELECT 'source' AS key, source AS value FROM matched)"
        " SELECT key, value, CAST(COUNT(*) AS BIGINT) AS cnt FROM kv"
        " GROUP BY key, value ORDER BY cnt DESC, key, value")


def query_ids(docs: DataFrame, node) -> DataFrame:
    """Parsed-query AST → DataFrame[doc_id] (the result-set half of the
    reference's kvstats-over-a-completion: LiveCompleter.cpp:222-227
    produces the CQR the facet workers consume).  Shares the pinned
    parser AST (serve/parser.py) with the indexed engine and the
    OracleIndex — only the execution strategy differs: every leaf is a
    declarative filter over the token/doc tables and every combinator a
    join/union, so Catalyst sees one plan (no driver-side set algebra).

    Leaves: term (incl. `key:value` fielded → normalized column match),
    prefix/suffix/substr (dictionary LIKE range), phrase (n-1 positional
    self-equi-joins on (doc_id, pos+i) — shuffles by doc, never fans out
    beyond per-doc occurrences), empty.  Combinators: and/or/not/xor."""
    kind = node[0]
    if kind == "empty":
        return docs.select("doc_id").limit(0)
    if kind == "term":
        t = node[1]
        if ":" in t:  # fielded composite leaf — column match on documents
            k, _, v = t.partition(":")
            return (docs.filter(_field_norm_expr(k) == v)
                    .select("doc_id"))
        # r06: one-scan membership test (see set_op)
        return (docs.filter(F.array_contains(_tok_arr(), t))
                .select("doc_id"))
    if kind in ("prefix", "suffix", "substr"):
        stem = node[1]
        cond = {"prefix": lambda c: c.startswith(stem),
                "suffix": lambda c: c.endswith(stem),
                "substr": lambda c: c.contains(stem)}[kind]
        # r06: exists() over the token array — no explode, no distinct
        return (docs.filter(F.exists(_tok_arr(), lambda t: cond(t)))
                .select("doc_id"))
    if kind == "phrase":
        # r06: per-doc adjacency scan (see _phrase_match) replaces the
        # n-1 positional self-joins
        return _phrase_hits(docs, list(node[1]))
    l, r = query_ids(docs, node[1]), query_ids(docs, node[2])
    if kind == "and":
        return l.join(r, "doc_id", "left_semi")
    if kind == "or":
        return l.union(r).distinct()
    if kind == "not":
        return l.join(r, "doc_id", "left_anti")
    if kind == "xor":
        lt = l.withColumn("_l", F.lit(1))
        rt = r.withColumn("_r", F.lit(1))
        return (lt.join(rt, "doc_id", "full_outer")
                .filter(F.col("_l").isNull() | F.col("_r").isNull())
                .select("doc_id"))
    raise ValueError(f"unknown AST node {kind!r}")


def query_ids_sql(node) -> str:
    """The same AST compiled to a DuckDB doc-id set expression (assumes
    the tok / tokp / documents CTEs of facet_stats_query_sql are in
    scope).  XOR expands to (L∪R)−(L∩R), duplicating the subtrees —
    fine for an oracle, and exactly how set_op_sql spells it."""
    kind = node[0]
    if kind == "empty":
        return "SELECT doc_id FROM documents WHERE 1=0"
    if kind == "term":
        t = node[1]
        if ":" in t:
            k, _, v = t.partition(":")
            fnorm = (f"trim(regexp_replace(lower({k}),"
                     " '[^a-z0-9]+', '-', 'g'), '-')")
            return f"SELECT doc_id FROM documents WHERE {fnorm} = '{v}'"
        return f"SELECT DISTINCT doc_id FROM tok WHERE term = '{t}'"
    if kind in ("prefix", "suffix", "substr"):
        pat = {"prefix": f"{node[1]}%", "suffix": f"%{node[1]}",
               "substr": f"%{node[1]}%"}[kind]
        return ("SELECT DISTINCT doc_id FROM tok"
                f" WHERE term LIKE '{pat}'")
    if kind == "phrase":
        toks = list(node[1])
        joins = "".join(
            f" JOIN tokp t{i} ON t{i}.doc_id = t0.doc_id AND"
            f" t{i}.pos = t0.pos + {i} AND t{i}.term = '{tok}'"
            for i, tok in enumerate(toks[1:], start=1))
        return ("SELECT DISTINCT t0.doc_id FROM tokp t0" + joins +
                f" WHERE t0.term = '{toks[0]}'")
    l, r = query_ids_sql(node[1]), query_ids_sql(node[2])
    if kind == "and":
        return f"({l}) INTERSECT ({r})"
    if kind == "or":
        return f"({l}) UNION ({r})"
    if kind == "not":
        return f"({l}) EXCEPT ({r})"
    if kind == "xor":
        return (f"(({l}) UNION ({r})) EXCEPT"
                f" (({l}) INTERSECT ({r}))")
    raise ValueError(f"unknown AST node {kind!r}")


def _facet_kv(matched: DataFrame) -> DataFrame:
    """Doc rows → (key, value) facet pairs over the fixture's tag
    columns (lang, source) — shared by facet_stats and
    facet_stats_query."""
    return matched.select(
        F.lit("lang").alias("key"), F.col("lang").alias("value")).union(
        matched.select(F.lit("source").alias("key"),
                       F.col("source").alias("value")))


def facet_stats_query(spark: SparkSession, sf_dir: str,
                      query: str) -> DataFrame:
    """Facet counts over the result set of a PARSED query — the full
    kvstats analog (Worker::kvstats, reference/oscar-cmd/
    Workfunctions.cpp:134-168, fed by doClusteredComplete's CQR,
    LiveCompleter.cpp:222-227): the query may use the whole grammar
    (set ops, quotes→phrase, wildcards, fielded leaves), not just a
    single term.  Catalog twin of SearchEngine.facet_stats(query);
    pytest asserts the two agree on a built index."""
    from oscar_spark.serve import parser
    node = parser.parse(query)
    docs = load_documents(spark, sf_dir)
    hits = query_ids(docs, node)
    matched = docs.join(hits, "doc_id", "left_semi")
    return (_facet_kv(matched).groupBy("key", "value")
            .agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("key"), F.asc("value")))


def facet_stats_query_sql(query: str) -> str:
    from oscar_spark.serve import parser
    node = parser.parse(query)
    return (
        TOKP_CTE +
        ", tok AS (SELECT doc_id, term FROM rawtok)"
        f", ids AS ({query_ids_sql(node)})"
        ", matched AS (SELECT d.* FROM documents d"
        " WHERE d.doc_id IN (SELECT doc_id FROM ids))"
        ", kv AS (SELECT 'lang' AS key, lang AS value FROM matched"
        " UNION ALL SELECT 'source' AS key, source AS value FROM matched)"
        " SELECT key, value, CAST(COUNT(*) AS BIGINT) AS cnt FROM kv"
        " GROUP BY key, value ORDER BY cnt DESC, key, value")


def facet_entropy_query(spark: SparkSession, sf_dir: str, query: str,
                        exclude_keys: tuple[str, ...] = (),
                        exclude_values: tuple[str, ...] = ()) -> DataFrame:
    """Shannon-entropy facets over a PARSED query's result set — the
    shannonKvstats twin of facet_stats_query (Workfunctions.cpp:171-233
    applied to a completion's CQR, with the same exclusion-set
    semantics)."""
    return entropy_over_kv(facet_stats_query(spark, sf_dir, query),
                           exclude_keys, exclude_values)


def facet_entropy_query_sql(query: str,
                            exclude_keys: tuple[str, ...] = (),
                            exclude_values: tuple[str, ...] = ()) -> str:
    inner = facet_stats_query_sql(query).replace(
        " ORDER BY cnt DESC, key, value", "")
    conds = []
    if exclude_keys:
        ks = ", ".join(f"'{k}'" for k in exclude_keys)
        conds.append(f"key NOT IN ({ks})")
    if exclude_values:
        vs = ", ".join(f"'{v}'" for v in exclude_values)
        conds.append(f"(key || '=' || value) NOT IN ({vs})")
    where = (" WHERE " + " AND ".join(conds)) if conds else ""
    return (
        f"WITH fc AS (SELECT * FROM ({inner}){where}),"
        " tot AS (SELECT key, SUM(cnt) AS tot"
        " FROM fc GROUP BY key) SELECT fc.key AS key,"
        " ROUND(-SUM((cnt/tot) * ln(cnt/tot)), 6) AS entropy,"
        " CAST(COUNT(*) AS BIGINT) AS n_values"
        " FROM fc JOIN tot USING (key) GROUP BY fc.key"
        " ORDER BY entropy DESC, key")


def entropy_over_kv(kv: DataFrame,
                    exclude_keys: tuple[str, ...] = (),
                    exclude_values: tuple[str, ...] = ()) -> DataFrame:
    """(key, value, cnt) facet counts → per-key Shannon entropy.

    Shared kernel of the catalog facet_entropy below and the indexed
    engine's SearchEngine.facet_entropy: exclude_keys drops whole facet
    keys; exclude_values drops individual "key=value" pairs BEFORE
    probabilities are normalized — matching the reference, which
    filters its KeyExclusions / KeyValueExclusions while accumulating
    the stats, not afterwards (Worker::shannonKvstats,
    reference/oscar-cmd/Workfunctions.cpp:171-233).  Pure groupBy
    composition, no UDAF."""
    if exclude_keys:
        kv = kv.filter(~F.col("key").isin(list(exclude_keys)))
    if exclude_values:
        kv = kv.filter(~F.concat_ws("=", "key", "value")
                       .isin(list(exclude_values)))
    totals = kv.groupBy("key").agg(F.sum("cnt").alias("tot"))
    return (kv.join(totals, "key")
            .withColumn("p", F.col("cnt") / F.col("tot"))
            .groupBy("key")
            .agg(F.round(-F.sum(F.col("p") * F.log("p")), 6)
                 .alias("entropy"),
                 F.count("*").cast("long").alias("n_values"))
            .orderBy(F.desc("entropy"), F.asc("key")))


def facet_entropy(spark: SparkSession, sf_dir: str, term: str,
                  exclude_keys: tuple[str, ...] = (),
                  exclude_values: tuple[str, ...] = ()) -> DataFrame:
    """Shannon entropy per facet key over a query's result set — the
    shannonKvstats analog (Worker::shannonKvstats,
    reference/oscar-cmd/Workfunctions.cpp:171-233: entropy-scored
    key split suggestion, including its key / key:value exclusion
    sets)."""
    return entropy_over_kv(facet_stats(spark, sf_dir, term),
                           exclude_keys, exclude_values)


def facet_entropy_sql(term: str,
                      exclude_keys: tuple[str, ...] = (),
                      exclude_values: tuple[str, ...] = ()) -> str:
    inner = facet_stats_sql(term).replace(
        " ORDER BY cnt DESC, key, value", "")
    conds = []
    if exclude_keys:
        ks = ", ".join(f"'{k}'" for k in exclude_keys)
        conds.append(f"key NOT IN ({ks})")
    if exclude_values:
        vs = ", ".join(f"'{v}'" for v in exclude_values)
        conds.append(f"(key || '=' || value) NOT IN ({vs})")
    where = (" WHERE " + " AND ".join(conds)) if conds else ""
    return (
        f"WITH fc AS (SELECT * FROM ({inner}){where}),"
        " tot AS (SELECT key, SUM(cnt) AS tot"
        " FROM fc GROUP BY key) SELECT fc.key AS key,"
        " ROUND(-SUM((cnt/tot) * ln(cnt/tot)), 6) AS entropy,"
        " CAST(COUNT(*) AS BIGINT) AS n_values"
        " FROM fc JOIN tot USING (key) GROUP BY fc.key"
        " ORDER BY entropy DESC, key")
