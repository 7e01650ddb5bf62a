"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
connected components over the near-dup graph — all over the driver's
`documents` table.  Every hash used for cross-engine-checkable
entries is md5 (identical in Spark `F.md5` and DuckDB `md5`), so each
operator has an exact SQL oracle; SimHash needs bit arithmetic on hash
prefixes, expressed with conv/hex in both engines.

Scale notes: exact dedup is one shuffle on the digest; shingle self-joins
are bounded by LSH banding (join key = (band, band-signature), so only
near-duplicate candidates meet — the standard way this survives 10^12
docs, vs the quadratic naive join).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oscar_spark.functions.worker import worker_init
from oscar_spark.operators.fulltext_sql import load_documents

SHINGLE_N = 3
MINHASH_PERMS = 8
LSH_BANDS = 4  # rows per band = MINHASH_PERMS // LSH_BANDS = 2


def exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups of byte-identical texts (doc count per digest, >1 only)."""
    docs = load_documents(spark, sf_dir)
    return (docs.groupBy(F.md5(F.col("text")).alias("digest"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keeper"))
            .filter(F.col("n_docs") > 1)
            .orderBy("digest"))


EXACT_DUP_SQL = (
    "SELECT md5(text) AS digest, COUNT(*) AS n_docs, "
    "MIN(doc_id) AS keeper FROM documents GROUP BY md5(text) "
    "HAVING COUNT(*) > 1 ORDER BY digest")


def _shingle_batches(batches):
    """Arrow shingling kernel: (doc_id, text) record batches →
    (doc_id, shingle) word-3-gram rows.

    Replaces the `transform(sequence(...), i -> concat_ws(' ',
    slice(words, i+1, 3)))` expression chain: Spark executes
    higher-order-function lambdas INTERPRETED per element, measured at
    ~22µs per shingle — the dominant cost of every minhash-family query
    (r06 session 3, guide §1.2 step 2 / §4.2).  Here the flat word
    array stays in Arrow C++ memory: lower + literal-space split are
    compute kernels, the three shingle word slots are `take`s of the
    SAME flattened word buffer at offsets (i, i+1, i+2), and the join
    is one vectorized binary_join_element_wise — no per-row Python, no
    per-element lambda.  Split semantics match F.split(lower(text), " ")
    exactly (literal separator, empty strings kept), so the shingle
    multiset is identical — pinned by
    tests/test_round6_opt.py::test_shingle_kernel_equivalence.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    worker_init()
    for batch in batches:
        if batch.num_rows == 0:
            continue
        words = pc.split_pattern(pc.utf8_lower(batch.column("text")), " ")
        offs = words.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        nw = np.diff(offs)
        cnt = np.where(nw >= SHINGLE_N, nw - SHINGLE_N + 1, 0)
        total = int(cnt.sum())
        if total == 0:
            continue
        doc_rep = np.repeat(np.arange(len(cnt)), cnt)
        starts = (np.repeat(offs[:-1], cnt)
                  + np.arange(total)
                  - np.repeat(np.cumsum(cnt) - cnt, cnt))
        v = words.values
        sh = pc.binary_join_element_wise(
            v.take(pa.array(starts)), v.take(pa.array(starts + 1)),
            v.take(pa.array(starts + 2)), " ")
        ids = batch.column("doc_id").to_numpy()[doc_rep]
        yield pa.record_batch(
            [pa.array(ids, pa.int64()), sh], names=["doc_id", "shingle"])


def _shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) word-3-gram shingles, whitespace split.

    Split rule is plain single-space (matching DuckDB string_split) so
    the oracle is exact; documents fixture text is single-spaced.
    Shingling runs in the Arrow kernel above (docs with < SHINGLE_N
    words drop out inside it, exactly like the old `size(words) >= 3`
    filter).

    distinct=False skips the per-(doc, shingle) dedup Exchange for
    consumers whose aggregation is duplicate-insensitive (MinHash's
    min() — r06 optimization, guide §2.4: that distinct was a full
    shuffle of every shingle string feeding an agg whose result it
    could not change, and it blocked map-side partial aggregation).
    """
    out = (docs.select("doc_id", "text")
           .mapInArrow(_shingle_batches, "doc_id long, shingle string"))
    return out.distinct() if distinct else out


# same shingling in DuckDB
SHINGLE_CTE = (
    "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w "
    "FROM documents WHERE length(string_split(lower(text), ' ')) >= 3), "
    "sh AS (SELECT DISTINCT doc_id, "
    "concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle "
    "FROM words, unnest(generate_series(1, length(w) - 2)) AS g(i))"
)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.8) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ threshold (doc_a < doc_b).

    Exact Jaccard is computed ONLY over MinHash-LSH candidate pairs: a
    raw self-join on `shingle` emits M² rows for a shingle shared by M
    docs (a stopword 3-gram at 10^6 docs = 10^12 intermediate rows).
    LSH bounds candidates to docs sharing a band signature; the
    intersection join then fans out each candidate pair by one doc's
    shingle set only — bounded by |candidates| × doc_len, never by
    shingle document-frequency.  Recall for J ≥ 0.8 with (8 perms,
    4 bands) is 1-(1-J²)⁴ ≈ 0.98 — the standard MinHash-LSH tradeoff;
    the oracle runs the identical candidate pipeline so results match.
    """
    sh = _shingles(load_documents(spark, sf_dir, heavy=True))
    cand = _lsh_candidates(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (cand
             .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
             .join(sh.withColumnRenamed("doc_id", "doc_b"),
                   ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")))
    # threshold applied to the ROUNDED value on BOTH engines (a raw-vs-
    # rounded asymmetry flips pairs within 5e-7 of the threshold)
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("sz", "sz_a"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("sz", "sz_b"), "doc_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b")
                                  - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
            .orderBy("doc_a", "doc_b"))


def _bands_cte() -> str:
    """DuckDB CTE body computing the LSH band keys (mirrors
    minhash_lsh_pairs' band construction exactly)."""
    r = MINHASH_PERMS // LSH_BANDS
    band_rows = []
    for b in range(LSH_BANDS):
        sigs = " || ".join(
            f"MIN(md5(concat('{b * r + j}', shingle)))" for j in range(r))
        band_rows.append(
            f"SELECT doc_id, {b} AS band, {sigs} AS key "
            "FROM sh GROUP BY doc_id")
    return " UNION ALL ".join(band_rows)


def ngram_jaccard_sql(threshold: float = 0.8) -> str:
    return (SHINGLE_CTE + f", bands AS ({_bands_cte()}), "
            "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
            "FROM bands a JOIN bands b USING (band, key) "
            "WHERE a.doc_id < b.doc_id), "
            "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id), "
            "inter AS (SELECT doc_a, doc_b, COUNT(*) AS i "
            "FROM cand JOIN sh a ON a.doc_id = cand.doc_a "
            "JOIN sh b ON b.doc_id = cand.doc_b AND b.shingle = a.shingle "
            "GROUP BY doc_a, doc_b) "
            "SELECT doc_a, doc_b, ROUND(CAST(i AS DOUBLE) / "
            "(sa.sz + sb.sz - i), 6) AS jaccard "
            "FROM inter JOIN sizes sa ON sa.doc_id = doc_a "
            "JOIN sizes sb ON sb.doc_id = doc_b "
            f"WHERE ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) "
            f">= {threshold} "
            "ORDER BY doc_a, doc_b")


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted MinHash signatures (internal: LSH banding re-sorts).

    Built over the NON-distinct shingle stream: min(md5(p || shingle))
    over a multiset equals min over its support, so results are
    identical, while the groupBy's map-side partial agg collapses each
    partition to one row per doc — the shuffle then carries ~n_docs
    slim rows instead of every shingle string twice (once for the
    distinct, once for this agg).
    """
    sh = _shingles(load_documents(spark, sf_dir, heavy=True),
                   distinct=False)
    aggs = [F.min(F.md5(F.concat(F.lit(str(p)), F.col("shingle"))))
            .alias(f"sig{p}") for p in range(MINHASH_PERMS)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature per doc: sig_p = min(md5(p || shingle)).

    Seeded md5 makes the permutation family identical in both engines.
    """
    return _signatures(spark, sf_dir).orderBy("doc_id")


MINHASH_SQL = (
    SHINGLE_CTE + " SELECT doc_id, " +
    ", ".join(f"MIN(md5(concat('{p}', shingle))) AS sig{p}"
              for p in range(MINHASH_PERMS)) +
    " FROM sh GROUP BY doc_id ORDER BY doc_id")


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSORTED candidate near-dup pairs: docs sharing any LSH band
    signature.  band b key = concat(sig[b*r] .. sig[b*r+r-1]); self-join
    per band — at scale, the shuffle key is (band, key) so only
    colliding docs meet.

    Deliberately no orderBy: ngram_jaccard_pairs and dedup_components
    consume this as an intermediate, where a range-partition sort
    exchange is pure waste — only the driver-query boundary
    (minhash_lsh_pairs) sorts.
    """
    sig = _signatures(spark, sf_dir)
    r = MINHASH_PERMS // LSH_BANDS
    # ONE pass over the signatures: posexplode of the band-key array
    # (a per-band select + union re-shingles the corpus LSH_BANDS times)
    band_keys = F.array(*[
        F.concat(*[F.col(f"sig{b * r + j}") for j in range(r)])
        for b in range(LSH_BANDS)])
    all_bands = sig.select(
        "doc_id", F.posexplode(band_keys).alias("band", "key"))
    # r06: the self-join re-executed the ENTIRE shingle+signature
    # lineage on both sides (two full corpus scans + two agg chains in
    # the physical plan) and sort-merge-joined on the 64-char band key.
    # Grouping by (band, key) and expanding each bucket's sorted doc
    # list pairwise computes the identical pair set — docs a<b sharing
    # a band key — with the upstream computed ONCE and no join at all
    # (guide §2.4 "remove shuffles outright").  Bucket population =
    # docs sharing a MinHash band signature (near-dup clusters), the
    # same groups whose pairwise output the join also emitted; the
    # quadratic pair fan-out is inherent to LSH candidates either way.
    groups = (all_bands.groupBy("band", "key")
              .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
              .filter(F.size("ids") >= 2))
    pair = F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS doc_a, y AS doc_b))))")).alias("p")
    return (groups.select(pair)
            .select("p.doc_a", "p.doc_b")
            .distinct())


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs, sorted (the driver-query boundary)."""
    return _lsh_candidates(spark, sf_dir).orderBy("doc_a", "doc_b")


def minhash_lsh_sql() -> str:
    return (SHINGLE_CTE + f", bands AS ({_bands_cte()}) "
            "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
            "FROM bands a JOIN bands b USING (band, key) "
            "WHERE a.doc_id < b.doc_id ORDER BY doc_a, doc_b")


def dedup_components(spark: SparkSession, sf_dir: str,
                     max_iter: int = 20) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup graph:
    (doc_id, comp) where comp = min doc_id reachable through near-dup
    pairs — the canonical-representative assignment a dedup pipeline
    keeps one copy per component of.

    Execution is iterative min-label propagation (each round: one join
    edges⋈labels + per-node min, i.e. the simple form of the
    large-star/small-star map-reduce CC algorithm), which converges in
    O(component diameter) rounds — near-dup components are shallow
    (docs similar to a common template), so a handful of shuffles, each
    over |E| rows, at any corpus size.  Labels are persisted and
    materialized per round, and the superseded round released:
    iterative lineage otherwise re-executes the whole prefix every
    round.

    The loop ALWAYS runs to the fixpoint (min-label propagation is
    monotone-decreasing over a finite label set, so it terminates in
    ≤ diameter ≤ |V| rounds); max_iter is only a diagnostic threshold —
    a component deeper than it logs a warning but is still labeled
    correctly.  Stopping early would return split components that
    silently diverge from the transitive-closure oracle.
    """
    pairs = _lsh_candidates(spark, sf_dir)
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst"))))
    edges = _materialize(edges)
    labels = _materialize(edges.select(F.col("src").alias("doc_id"))
                          .distinct().withColumn("comp", F.col("doc_id")))
    rounds = 0
    while True:
        neigh = (edges.join(labels.withColumnRenamed("doc_id", "src"),
                            "src")
                 .groupBy(F.col("dst").alias("doc_id"))
                 .agg(F.min("comp").alias("ncomp")))
        new_labels = _materialize(
            labels.join(neigh, "doc_id", "left")
            .select("doc_id",
                    F.least(F.col("comp"),
                            F.coalesce(F.col("ncomp"), F.col("comp")))
                    .alias("comp")))
        changed = (new_labels.alias("n").join(labels.alias("o"), "doc_id")
                   .filter(F.col("n.comp") != F.col("o.comp")).count())
        labels.unpersist()
        labels = new_labels
        rounds += 1
        if changed == 0:
            break
        if rounds == max_iter:
            import warnings
            warnings.warn(
                f"dedup_components: not converged after {max_iter} "
                "rounds (unusually deep near-dup component); continuing "
                "to fixpoint", stacklevel=2)
    edges.unpersist()
    return labels.orderBy("doc_id")


def _materialize(df: DataFrame) -> DataFrame:
    """Persist `df` and fill its cache now.  persist, not
    localCheckpoint: lost blocks are recomputed from lineage instead of
    failing the job, and unpersist() really releases the cache (a
    checkpointed Dataset's unpersist is a no-op, so every round's labels
    stayed resident)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def dedup_components_sql() -> str:
    """DuckDB oracle: transitive closure by recursive label walk, then
    per-node min — semantically identical to the propagation fixpoint."""
    return (
        SHINGLE_CTE.replace("WITH ", "WITH RECURSIVE ", 1) +
        f", bands AS ({_bands_cte()}), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b USING (band, key) "
        "WHERE a.doc_id < b.doc_id), "
        "edges AS (SELECT doc_a AS s, doc_b AS d FROM cand "
        "UNION SELECT doc_b, doc_a FROM cand), "
        "walk(doc_id, lbl) AS ("
        "SELECT DISTINCT s, s FROM edges "
        "UNION "
        "SELECT e.d, w.lbl FROM walk w JOIN edges e ON e.s = w.doc_id) "
        "SELECT doc_id, MIN(lbl) AS comp FROM walk GROUP BY doc_id "
        "ORDER BY doc_id")


def simhash(spark: SparkSession, sf_dir: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash over token md5 prefixes (bits ≤ 16 for SQL parity).

    bit_j(doc) = 1 if Σ_tokens (bit_j(md5(token)) ? +tf : -tf) > 0.
    conv(hex,16,10) (Spark) / hex-cast (DuckDB) keep engines identical.
    """
    from oscar_spark.operators.fulltext_sql import tokens
    t = tokens(load_documents(spark, sf_dir))
    # r06: sum over per-occurrence ±1 instead of per-(doc, term) ±tf —
    # Σ_terms tf_t·sign_t ≡ Σ_occurrences sign, so the (doc_id, term)
    # pre-aggregation shuffle (which carried every distinct term string)
    # is dropped; the one remaining groupBy(doc_id) partial-aggregates
    # map-side to ~one row per doc (guide §2.3 "aggregate before you
    # shuffle" — with the shuffle itself removed).
    h = F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10).cast("long")
    withbits = t.withColumn("h", h)
    # r06b: Σ_occ ±1 per bit ≡ 2·Σ_occ bit_j − n_occ (exact integers),
    # so each per-row aggregate operand is a bare shift+mask instead of
    # a conditional branch (half the codegen'd expression work per
    # occurrence × bit), plus ONE shared count
    sums = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(1))
        .alias(f"s{j}") for j in range(bits)
    ] + [F.count("*").alias("n_occ")]
    agg = withbits.groupBy("doc_id").agg(*sums)
    sim = agg.select(
        "doc_id",
        sum((F.when(2 * F.col(f"s{j}") > F.col("n_occ"),
                    F.lit(1 << j)).otherwise(F.lit(0)))
            for j in range(bits)).cast("long").alias("simhash"))
    return sim.orderBy("doc_id")


def simhash_sql(bits: int = 16) -> str:
    from oscar_spark.operators.fulltext_sql import TOK_CTE
    bit_sums = ", ".join(
        "SUM(CASE WHEN (h // {p}) % 2 = 1 THEN tf ELSE -tf END) AS b{j}"
        .format(p=1 << j, j=j) for j in range(bits))
    recompose = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return (
        TOK_CTE + ", tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok "
        "GROUP BY doc_id, term), "
        "hb AS (SELECT doc_id, tf, "
        "CAST(('0x' || substr(md5(term), 1, 4)) AS BIGINT) AS h FROM tf), "
        f"agg AS (SELECT doc_id, {bit_sums} FROM hb GROUP BY doc_id) "
        f"SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM agg "
        "ORDER BY doc_id")


_SIM_CKPT_CACHE: list[DataFrame] = []


def _release_sim_ckpt_cache() -> None:
    """Unpersist the previous simhash64_pairs call's persisted
    fingerprints (same lifecycle pattern the serve path uses for its
    brute cache): at most one is live at a time, and every invocation
    recomputes from the parquet input — nothing persists across runs."""
    while _SIM_CKPT_CACHE:
        _SIM_CKPT_CACHE.pop().unpersist()


def _simhash64_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width SimHash: the full 64-bit fingerprint, carried as
    two 32-bit halves (sim_hi, sim_lo) so it stays exactly expressible
    in portable SQL (a packed uint64 overflows BIGINT).

    The 16-bit `simhash` entry remains the pinned driver-parity row;
    a real 100 TB dedup wants 64 bits — at 16 bits unrelated docs
    collide at ~2^-16 and hamming-distance banding has no headroom.
    bit_j = 1 iff Σ_tokens (bit_j(md5(token)) ? +tf : -tf) > 0, with
    bits 0–31 taken from md5 hex chars 9–16 (lo) and 32–63 from chars
    1–8 (hi)."""
    from oscar_spark.operators.fulltext_sql import tokens
    t = tokens(load_documents(spark, sf_dir))
    # r06: same per-occurrence ±1 identity as simhash() — the
    # (doc_id, term) tf pre-aggregation shuffle is gone; groupBy(doc_id)
    # partial-aggregates map-side to ~one 64-long row per doc.
    hhi = F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10) \
        .cast("long")
    hlo = F.conv(F.substring(F.md5(F.col("term")), 9, 8), 16, 10) \
        .cast("long")
    wb = t.withColumn("hhi", hhi).withColumn("hlo", hlo)
    # r06b: same 2·Σbit − n identity as simhash() — bare shift+mask
    # aggregate operands plus one shared count instead of 64
    # conditional ±1 branches per occurrence
    sums = (
        [F.sum(F.shiftright(F.col("hlo"), j).bitwiseAND(1))
         .alias(f"l{j}") for j in range(32)]
        + [F.sum(F.shiftright(F.col("hhi"), j).bitwiseAND(1))
           .alias(f"h{j}") for j in range(32)]
        + [F.count("*").alias("n_occ")])
    agg = wb.groupBy("doc_id").agg(*sums)
    pack = lambda pfx: sum(  # noqa: E731
        (F.when(2 * F.col(f"{pfx}{j}") > F.col("n_occ"),
                F.lit(1 << j)).otherwise(F.lit(0)))
        for j in range(32)).cast("long")
    return agg.select("doc_id", pack("h").alias("sim_hi"),
                      pack("l").alias("sim_lo"))


def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sorted driver-query boundary over _simhash64_fps."""
    return _simhash64_fps(spark, sf_dir).orderBy("doc_id")


def _simhash64_ctes() -> str:
    """Shared CTE chain ending in `sim(doc_id, sim_hi, sim_lo)` — the
    fingerprint query and the pairs query both build on it (a nested
    WITH inside a CTE is not portable SQL)."""
    from oscar_spark.operators.fulltext_sql import TOK_CTE
    bit_sums = ", ".join(
        ["SUM(CASE WHEN (hlo // {p}) % 2 = 1 THEN tf ELSE -tf END) AS l{j}"
         .format(p=1 << j, j=j) for j in range(32)]
        + ["SUM(CASE WHEN (hhi // {p}) % 2 = 1 THEN tf ELSE -tf END) AS h{j}"
           .format(p=1 << j, j=j) for j in range(32)])
    pack = lambda pfx: " + ".join(  # noqa: E731
        f"(CASE WHEN {pfx}{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(32))
    return (
        TOK_CTE + ", tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok "
        "GROUP BY doc_id, term), "
        "hb AS (SELECT doc_id, tf, "
        "CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS hhi, "
        "CAST(('0x' || substr(md5(term), 9, 8)) AS BIGINT) AS hlo FROM tf), "
        f"agg AS (SELECT doc_id, {bit_sums} FROM hb GROUP BY doc_id), "
        f"sim AS (SELECT doc_id, CAST({pack('h')} AS BIGINT) AS sim_hi, "
        f"CAST({pack('l')} AS BIGINT) AS sim_lo FROM agg)")


def simhash64_sql() -> str:
    return (_simhash64_ctes()
            + " SELECT doc_id, sim_hi, sim_lo FROM sim ORDER BY doc_id")


SIMHASH64_BANDS = 4   # 4 × 16-bit bands: pigeonhole-complete for ham ≤ 3
SIMHASH64_MAX_HAM = 3


def simhash64_pairs(spark: SparkSession, sf_dir: str,
                    max_hamming: int = SIMHASH64_MAX_HAM) -> DataFrame:
    """Near-duplicate pairs by 64-bit SimHash hamming distance.

    Banding makes this scale-safe: the 64-bit fingerprint splits into 4
    16-bit bands; two docs within hamming distance 3 differ in at most
    3 bands, so they MUST agree on at least one (pigeonhole) — the
    candidate join is per-(band, key) buckets on slim rows, never
    all-pairs (the same shape as minhash_lsh_pairs / the reference's
    cell-bucketed joins).  Exact hamming (bit_count of the XOR, both
    halves) then filters candidates — banding adds no false negatives
    for max_hamming ≤ 3 and false positives are verified away.

    10^12-doc caveat, stated honestly: a 16-bit band key has only 65k
    buckets, so at extreme corpus sizes popular bucket values make the
    within-bucket self-join quadratic-ish (same failure mode as any
    low-cardinality LSH band).  The standard scale-out is the
    Manku/Jain/Sarma construction: split into more, smaller bands and
    key each table on a COMBINATION of bands that must survive
    max_hamming errors (e.g. 8×8-bit bands, C(8,5)=56 tables keyed on
    40 bits) — same join shape, 56× explode, bucket cardinality 2^40.
    This implementation keeps the 4×16 single-band form (exact, SQL-
    oracled, right shape); flipping to the multi-table key is a local
    change to the `bands` projection."""
    # r06 (guide §2.4/§1.2): the naive self-join re-executed the whole
    # simhash lineage on both sides (two corpus scans + two 64-agg
    # chains).  Persisting the tiny fingerprint table (n_docs × 3
    # longs, MEMORY_AND_DISK: a lost block is recomputed from the
    # lineage) makes both join sides read one cached relation, so the
    # corpus is scanned once; the join itself stays a
    # codegen'd streaming join over slim int rows (an earlier
    # collect_list + pairwise-lambda shape evaluated the 14.2M sf1.0
    # bucket candidates in interpreted higher-order functions — slower
    # and skew-fragile).  The exact-hamming filter runs BEFORE the
    # distinct: hamming is a pure per-row function, so
    # distinct∘filter ≡ filter∘distinct, and the dedup Exchange sees
    # only the ≤max_hamming survivors (15 rows at sf1.0) instead of
    # every bucket candidate.
    _release_sim_ckpt_cache()
    sim = _simhash64_fps(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    _SIM_CKPT_CACHE.append(sim)
    bands = sim.select(
        "doc_id", "sim_hi", "sim_lo", F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     (F.shiftright(F.col("sim_lo" if b < 2 else "sim_hi"),
                                   16 * (b % 2))
                      .bitwiseAND(0xFFFF)).alias("key"))
            for b in range(SIMHASH64_BANDS)])).alias("bk")) \
        .select("doc_id", "sim_hi", "sim_lo", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    ham = (F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))
           + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo"))))
    return (a.join(b, ["band", "key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .filter(ham <= max_hamming)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    ham.cast("int").alias("hamming"))
            .distinct()
            .orderBy("doc_a", "doc_b"))


def simhash64_pairs_sql(max_hamming: int = SIMHASH64_MAX_HAM) -> str:
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, sim_hi, sim_lo, {b} AS band, "
        "(({col} // {shift}) % 65536) AS key FROM sim"
        .format(b=b, col="sim_lo" if b < 2 else "sim_hi",
                shift=1 << (16 * (b % 2)))
        for b in range(SIMHASH64_BANDS))
    return (
        _simhash64_ctes() + ", "
        f"bands AS ({band_rows}), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "a.sim_hi AS ah, a.sim_lo AS al, b.sim_hi AS bh, b.sim_lo AS bl "
        "FROM bands a JOIN bands b USING (band, key) "
        "WHERE a.doc_id < b.doc_id) "
        "SELECT doc_a, doc_b, "
        "CAST(bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) AS INT) "
        "AS hamming FROM cand "
        "WHERE bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) "
        f"<= {max_hamming} ORDER BY doc_a, doc_b")
