"""Index build pipeline — the Spark re-expression of oscar-create.

Reference pipeline being re-expressed (not ported):
`OsmKeyValueObjectStore::populate` → score-sort docID assignment
(reference/oscar-create/OsmKeyValueObjectStore.cpp:1190-1214,1339-1399)
→ CellTextCompleter 5-pass in-memory / OOM external-sort index build
(reference/oscar-create/CellTextCompleter.h:774-1113,
reference/oscar-create/readwritefuncs.cpp:340-394).

Spark plan (one declarative DAG; Catalyst handles what oscar hand-built):

    pages ──mapInPandas (tokenize+tf, map-side combine)──▶ tokens parquet
      │        (checkpointed ONCE; both stages below re-read it, and
      │         the build drops it once postings commit)
      └─▶ doc_stats: range-partitioned quality sort → doc_id (JVM)
                         ◀── broadcast hash-probe join(url) while small
                                                            │
    repartition(term, range_id) + sortWithinPartitions ──▶ encode
        range_id = doc_id // RANGE_SIZE  ◀── the salt: EVERY encode
        group is bounded by RANGE_SIZE docs, so head terms (df ≈ N) are
        split into N/RANGE_SIZE bounded groups instead of one giant
        reducer — the mandated two-phase skew strategy.  Phase 2 (merge
        partial runs into globally-numbered blocks + df + block-max) is
        one small repartition(bucket) over the ~rows/BLOCK_SIZE blocks
        stream, in the same job.
                                                            │
    write doc_stats / postings / terms (+ lineage, manifest commits)
        terms and both wildcard mirrors re-derive from the COMMITTED
        postings: one shuffle into the dictionary write, one aggregate
        for bucket stats + the mirrors' range sample, one shuffle per
        mirror.

One pipeline (_ingest) writes every segment.  A full build is the
first segment of an empty store (`base`, published in place of what the
store held); a file-growth append (`a<crc>`) and a streaming epoch
(`e<epoch>`) add a segment on top of the committed snapshot, and only
they run the steps that need one: the committed-url anti-join, the
doc-id offset, the block-numbering join and the dictionary merge.

Every Spark job is a fixed cost at small scale, so each stage spends
its jobs on data: a build runs 18 (tokens 1, doc_stats 5, postings 4,
terms 8), an append 21 (tokens 1, doc_stats 7, postings 5, terms 8).
No check, cache or schema-inference job of its own, and one sample per
range partitioning (doc ids; both mirrors share one).

Scale notes (100 TB / 10^12 docs):
- The only global ordering is docID assignment: per-partition contiguous
  ranges cut from one hashed sample (build/ranges.py) with base offsets
  from a collected partition manifest (docids.assign_doc_ids_ranged) —
  no single-partition stage at any scale, and no Python task.  There
  is no global term dictionary: terms shuffle as their (short) strings
  and are factorized to local codes inside the encoder, so nothing
  about the vocabulary size ever concentrates on one partition or the
  driver.
- tf aggregation happens INSIDE the tokenize UDF (pandas value_counts per
  doc), so the big shuffle moves (term, doc, tf) rows, not raw tokens —
  the map-side-combine analog of oscar's per-thread MatchDesc hash
  (reference/oscar-create/CellTextCompleter.h:167-199).
- encode groups are (term, range_id): bounded memory regardless of term
  skew; blocks within a group are ≤ BLOCK_SIZE docs.
- All UDFs are Arrow-vectorized (mapInPandas/mapInArrow); the BM25
  expression, docID assignment and every join/agg stay JVM-side.  The
  Python tasks (tokenize, encode) call functions.worker.worker_init
  first: a pooled worker pays its set-up (Arrow thread pins, the
  zip-archive re-read gate) once per process, not the ~0.2 s per task
  that re-reading Spark's archives cost.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from oscar_spark.build.docids import assign_doc_ids_ranged
from oscar_spark.build.ranges import (SAMPLE_PER_RANGE, partition_by_ranges,
                                      partition_key, range_bounds)
from oscar_spark.config import (BLOCK_SIZE, BROADCAST_DOCID_MAX,
                                NUM_TERM_BUCKETS, RANGE_SIZE)
from oscar_spark.functions.bm25 import bm25_sql
from oscar_spark.functions.codec import (PAYLOAD_FORMAT, block_decoder,
                                        encode_runs, store_decoder)
from oscar_spark.functions.extract import extract_series
from oscar_spark.functions.worker import worker_init
from oscar_spark.sources.tables import (TOKENS_POS_SCHEMA, TOKENS_SCHEMA,
                                       IndexStore, table_schema)

# the big shuffle carries the term STRING, not a dictionary id: web
# vocabulary terms are short (≈7 bytes, about an int64), so a global
# term→tid dictionary would trade a SECOND full scan of the token table
# (distinct), a global id-assignment pass, and two joins for ~zero
# shuffle-byte savings — and its id assignment was the build's one
# single-partition stage.  The heavy string (url, ~55 bytes) IS still
# dropped pre-shuffle via the doc_id join.  Inside the encoder the
# strings are factorized to local int codes per partition (a C hash
# pass), so group-boundary detection stays int64.
BLOCKS_SCHEMA = (
    "term string, range_id long, first_doc long, last_doc long, "
    "doc_count int, max_tf int, min_dl int, payload binary"
)
BLOCKS_POS_SCHEMA = BLOCKS_SCHEMA + ", pos_payload binary"


def _tokenize_batches(batches: Iterator[pd.DataFrame],
                      with_positions: bool = False,
                      field_cols: tuple[str, ...] = ()) -> Iterator[pd.DataFrame]:
    """(url, text[, fields…]) batches → (url, term, tf, dl[, pos]) with
    per-doc tf combine; with_positions adds each (doc, term)'s
    occurrence-position list (int32, strictly increasing); field_cols
    additionally emits one composite `key:value` token per doc per
    field (tf=1, position FIELD_POS_BASE+j) — the @key:value fielded
    terms of reference/oscar-create/TextSearchTraits.h:108, yielded as
    a separate small batch so the main path keeps its Arrow dictionary
    encoding.

    Arrow-native end to end: tokenize_flat keeps every token occurrence
    in Arrow C++ memory (dictionary codes), the per-(doc, term) tf
    groupby is a stable sort on a fused int64 key, and both output
    string columns leave as pandas Categoricals — Arrow serializes
    those as dictionary arrays, so at no point do the ~200 tokens/doc
    exist as Python objects.  (The previous shape flattened to a Python
    list + object-dtype factorize; it made tokenize the build's most
    allocation/bandwidth-hungry stage and capped its N→4N scaling.)
    """
    from oscar_spark.functions.tokenize import tokenize_flat
    worker_init()
    for pdf in batches:
        codes, uniq, doc_idx, counts = tokenize_flat(pdf["text"])
        n_uniq = max(len(uniq), 1)
        key = doc_idx * n_uniq + codes
        order = np.argsort(key, kind="stable")
        sk = key[order]
        starts = np.flatnonzero(
            np.concatenate(([True], sk[1:] != sk[:-1]))) \
            if len(sk) else np.empty(0, dtype=np.int64)
        tf_cnt = np.diff(np.append(starts, len(sk))).astype("int32")
        gi = sk[starts] // n_uniq
        gc = sk[starts] % n_uniq
        # r06: ONE NULL-term marker row (categorical code -1, tf=0) per
        # doc — not just per EMPTY doc as before — carrying the doc's
        # dl.  doc_stats then derives per-doc lengths with a cheap
        # `term IS NULL` filter over these ~1% extra rows instead of a
        # full re-aggregation pass over the whole token table (guide
        # §2.3/§2.4 — the groupBy(url) and its exchange are deleted).
        # Empty docs stay visible exactly as before: their marker is
        # their only row, so N/avgdl still count them.
        all_idx = np.arange(len(counts), dtype=np.int64)
        if len(all_idx):
            gi = np.concatenate([gi, all_idx])
            gc = np.concatenate([gc, np.full(len(all_idx), -1,
                                             dtype=gc.dtype)])
            tf_cnt = np.concatenate([tf_cnt, np.zeros(len(all_idx),
                                                      dtype="int32")])
        # factorize urls first: from_codes requires UNIQUE categories,
        # and one batch may legitimately carry the same url twice (e.g.
        # re-crawled rows — downstream groupBy("url")/left_anti treat
        # duplicates as expected input)
        ucodes, ucats = pd.factorize(pdf["url"])
        out = {
            "url": pd.Categorical.from_codes(ucodes[gi], categories=ucats),
            "term": pd.Categorical.from_codes(gc, categories=uniq),
            "tf": tf_cnt,
            "dl": counts[gi].astype("int32"),
        }
        if with_positions:
            # token position within its doc's filtered stream: tokens
            # arrive doc-grouped in order, so pos = global index − the
            # doc's start offset.  The stable sort above keeps each
            # (doc, term) group's occurrences in increasing-pos order,
            # so per-group lists are np.split at the group starts.
            dstarts = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=dstarts[1:])
            tok_pos = np.arange(len(doc_idx), dtype=np.int64) \
                - dstarts[doc_idx]
            pos_sorted = tok_pos[order]
            plists = [a.astype("int32") for a in
                      np.split(pos_sorted, starts[1:])] if len(sk) else []
            if len(all_idx):  # marker rows carry an empty position list
                plists += [np.empty(0, dtype="int32")] * len(all_idx)
            out["pos"] = plists
        yield pd.DataFrame(out)
        if field_cols and len(pdf):
            from oscar_spark.config import FIELD_POS_BASE
            from oscar_spark.functions.tokenize import (
                normalize_field_series, normalize_field_value)
            for j, fc in enumerate(field_cols):
                # the KEY goes through the same pinned normalization as
                # the parser and oracle apply (a raw column name with
                # '_' or uppercase could otherwise never be queried)
                kn = normalize_field_value(fc)
                if not kn:
                    continue
                vals = normalize_field_series(pdf[fc].astype("string"))
                keep = vals.fillna("").str.len() > 0  # null/empty: no token
                km = keep.to_numpy()
                frow = {
                    "url": pd.Categorical.from_codes(ucodes[km],
                                                     categories=ucats),
                    "term": (kn + ":" + vals[keep]).to_numpy(dtype=object),
                    "tf": np.ones(int(km.sum()), dtype="int32"),
                    "dl": counts[km].astype("int32"),
                }
                if with_positions:
                    fpos = np.array([FIELD_POS_BASE + j], dtype="int32")
                    frow["pos"] = [fpos] * int(km.sum())
                yield pd.DataFrame(frow)


def _tokenize(pages: DataFrame, positions: bool,
              fields: tuple[str, ...]) -> DataFrame:
    """pages (url, text, fields…) → the tokens table (_tokenize_batches),
    as the build and the append both write it."""
    return pages.select("url", "text", *fields).mapInPandas(
        lambda it, _p=positions, _f=fields: _tokenize_batches(it, _p, _f),
        TOKENS_POS_SCHEMA if positions else TOKENS_SCHEMA)


def _encode_partition_arrow(batches, codec: str = "varint",
                            with_positions: bool = False):
    """Partition encoder with cross-batch carry-over (mapInArrow).

    Input partitions are hash-partitioned on (term, range_id) and sorted
    by (term, range_id, doc_id) — the Spark shuffle IS the external sort
    (the OOMGEOCELL mapping, SURVEY §2.5 O5).  Arrow batching may split a
    group across batches, so the trailing (possibly incomplete) group of
    each unit is held back and prepended to the next; a group is at most
    RANGE_SIZE postings, so the carry buffer is bounded.

    Each unit is one codec.encode_runs pass: group detection, delta
    reset, varint bytes and per-block (max_tf, min_dl) metadata are ~15
    numpy passes total, per-block Python work is one bytes slice.  The
    shuffled term strings NEVER materialize as Python objects — the
    string column is dictionary-encoded in C++ (one hash pass), group
    detection runs on the int32 codes, and the output term column is a
    C++ dictionary gather (guide §4.2: hand whole batches to native
    code).  A positional build's per-posting position lists are read as
    ONE flat int array (the list column's child values), never as a
    Python list per posting.

    Mirrors the per-cell sort + strict-monotone invariant of
    reference/oscar-create/CellTextCompleter.cpp:139-155 (makeConsistent);
    emits (max_tf, min_dl); max_score = bm25(max_tf, min_dl, df) is
    derived later on the tiny blocks table — a valid block-max upper
    bound (BM25 ↑ in tf, ↓ in dl) that keeps the per-posting pipeline
    free of any df join or score column."""
    import pyarrow as pa
    worker_init()

    def _emit(tbl: pa.Table) -> pa.RecordBatch | None:
        if tbl.num_rows == 0:
            return None
        term_dict = tbl.column("term").combine_chunks().dictionary_encode()
        codes = term_dict.indices.to_numpy().astype(np.int64)
        ids = tbl.column("doc_id").combine_chunks().to_numpy()
        tfs = tbl.column("tf").combine_chunks().to_numpy()
        dls = tbl.column("dl").combine_chunks().to_numpy()
        pos = (tbl.column("pos").combine_chunks().flatten().to_numpy()
               if with_positions else None)
        res = encode_runs(codes, ids // RANGE_SIZE,
                          ids.astype(np.int64), tfs.astype(np.int64),
                          dls.astype(np.int64), BLOCK_SIZE, RANGE_SIZE,
                          codec=codec, positions=pos)
        out_codes = pa.array(np.asarray(res["term"], dtype=np.int64)
                             .astype(np.int32), pa.int32())
        cols = {
            "term": term_dict.dictionary.take(out_codes),
            "range_id": pa.array(np.asarray(res["range_id"], np.int64),
                                 pa.int64()),
            "first_doc": pa.array(np.asarray(res["first_doc"], np.int64),
                                  pa.int64()),
            "last_doc": pa.array(np.asarray(res["last_doc"], np.int64),
                                 pa.int64()),
            "doc_count": pa.array(np.asarray(res["doc_count"], np.int64)
                                  .astype(np.int32), pa.int32()),
            "max_tf": pa.array(np.asarray(res["max_tf"], np.int64)
                               .astype(np.int32), pa.int32()),
            "min_dl": pa.array(np.asarray(res["min_dl"], np.int64)
                               .astype(np.int32), pa.int32()),
            "payload": pa.array(res["payload"], pa.binary()),
        }
        if with_positions:
            cols["pos_payload"] = pa.array(res["pos_payload"], pa.binary())
        return pa.record_batch(cols)

    pending: pa.Table | None = None
    buf: list[pa.RecordBatch] = []
    buf_rows = 0
    for batch in batches:
        # accumulate Arrow batches (default ~10k rows) into ~256k-row
        # units: encode_runs is one vectorized pass whose fixed cost
        # amortizes over the unit size, while the buffer stays far below
        # executor memory
        buf.append(batch)
        buf_rows += batch.num_rows
        if buf_rows < 262144:
            continue
        tbl = pa.Table.from_batches(buf)
        buf, buf_rows = [], 0
        if pending is not None and pending.num_rows:
            tbl = pa.concat_tables([pending, tbl])
        tbl = tbl.combine_chunks()
        n = tbl.num_rows
        if n == 0:
            continue
        # range_id does not ride the shuffle — one numpy divide
        # recreates it (doc-id ranges are fixed-width)
        rngs = tbl.column("doc_id").to_numpy() // RANGE_SIZE
        codes = tbl.column("term").combine_chunks() \
            .dictionary_encode().indices.to_numpy()
        last_group = (codes == codes[-1]) & (rngs == rngs[-1])
        # sorted input ⇒ the trailing group is a suffix
        cut = n - int(last_group[::-1].cumprod().sum())
        pending = tbl.slice(cut)
        if cut:
            out = _emit(tbl.slice(0, cut))
            if out is not None:
                yield out
    tails = ([pending] if pending is not None and pending.num_rows else []) \
        + ([pa.Table.from_batches(buf)] if buf else [])
    if tails:
        out = _emit(pa.concat_tables(tails).combine_chunks())
        if out is not None:
            yield out


def _url_hash(url: Column) -> Column:
    """The doc-id probe's join key (a test swaps in a colliding one)."""
    return F.xxhash64(url)


def _final_blocks(spark: SparkSession, tokens: DataFrame,
                  doc_stats: DataFrame, n_ids: int, n_corpus: int,
                  avgdl: float, codec: str,
                  positions: bool = False) -> DataFrame:
    """tokens + doc ids → finalized posting-block DataFrame.

    Shared by the full build (n_ids == n_corpus) and the incremental
    append, which runs it over the NEW segment's tokens/doc ids only
    (n_ids = new docs, sizing the join; n_corpus/avgdl = whole corpus,
    feeding the stored max_score diagnostic).  Token urls without a doc
    (the append's already-indexed re-crawls) drop out of the inner
    join.
    """
    cols = ["term", "doc_id", "tf", "dl"] + \
        (["pos"] if positions else [])
    # url is join-only: drop it BEFORE the big shuffle (its ~55
    # string bytes per posting row would be over half the
    # shuffle/Arrow traffic).  The short term string stays — see
    # the BLOCKS_SCHEMA note for why no term dictionary.  A
    # positional build additionally carries each posting's position
    # list (~Σtf int32s — the inherent cost of a positional index).
    # r06: range_id is NOT carried as a shuffle column — it is
    # doc_id // RANGE_SIZE, so the partitioner hashes the derived
    # EXPRESSION (identical partition assignment) and the encoder
    # recomputes it per unit with one numpy divide; 8 bytes/row less
    # through the shuffle AND the Arrow boundary (guide §2.3
    # "shuffle fewer bytes").
    nn = tokens.filter(F.col("term").isNotNull())
    if n_ids <= BROADCAST_DOCID_MAX:
        # url→doc_id fits comfortably in a broadcast: the big token
        # table then shuffles ONCE (by term,range) instead of twice.
        # r06 session 3 (guide §2.3 "narrower types" applied to the
        # join key): probing a LONG-keyed map beats hashing + equality
        # on ~55-byte url strings per posting row (A/B at 100k pages:
        # join phase 0.83s → 0.24s wall).  The broadcast also carries
        # each doc's url (~55 B/doc on top of the 16 B of hash + id),
        # and a probe match keeps its doc_id only where the two urls
        # are equal: a hash collision's extra match drops out, so the
        # join is exact on any input, with no check job and no
        # reliance on collisions being rare.  The comparison is a
        # projection, not a join condition, so Catalyst does not make
        # the url a second (string) join key; it runs on probe matches
        # only.
        docs = F.broadcast(doc_stats.select(
            _url_hash(F.col("url")).alias("_uh"),
            F.col("doc_id").alias("_id"), F.col("url").alias("_du")))
        joined = (nn.withColumn("_uh", _url_hash(F.col("url")))
                  .join(docs, "_uh")
                  .withColumn("doc_id", F.when(
                      F.col("url") == F.col("_du"), F.col("_id")))
                  .filter(F.col("doc_id").isNotNull()))
    else:
        # plain shuffle join; at 10^12 docs the doc_id map is itself
        # big, and AQE picks the join strategy
        joined = nn.join(doc_stats.select("url", "doc_id"), "url")
    postings_raw = joined.select(*cols)
    range_expr = (F.col("doc_id") / F.lit(RANGE_SIZE)).cast("long")
    # the one big shuffle: hash-partition by (term, range_id), sort
    # within partitions — Spark's shuffle-with-spill is the external
    # sort (O5) — then encode whole partitions with a carry-over
    # mapInArrow (per-group applyInPandas overhead dominated this
    # stage: ~115-row groups x ~ms of pandas each)
    # 4 encode tasks per core: the (term, range_id) hash is mildly
    # skewed, and coarse tasks leave cores idle behind stragglers
    n_enc = max(spark.sparkContext.defaultParallelism * 4,
                int(spark.conf.get("spark.sql.shuffle.partitions")))
    # sorting by (term, doc_id) ≡ (term, range_id, doc_id): range_id is
    # monotone in doc_id within a term
    shuffled = (postings_raw
                .repartition(n_enc, F.col("term"), range_expr)
                .sortWithinPartitions("term", "doc_id"))
    # Arrow-native encode: term strings stay in C++ buffers end to end
    # (see _encode_partition_arrow)
    blocks = shuffled.mapInArrow(
        lambda it, _c=codec, _p=positions:
            _encode_partition_arrow(it, _c, _p),
        BLOCKS_POS_SCHEMA if positions else BLOCKS_SCHEMA)
    # phase 2 (the explicit two-phase merge) runs on the TINY blocks
    # stream (~rows/BLOCK_SIZE): per-term df, the block-max upper
    # bound, and global block numbering.  A term's blocks live wholly
    # inside its bucket, so the shuffle by bucket (_by_bucket) SATISFIES
    # the clustered distribution the windows below require — Catalyst
    # inserts NO further exchange, and the whole phase is pure
    # JVM: Tungsten-sorted windows + a codegen'd bm25 expression.
    # (An earlier shape ran this as a sorted-partition mapInPandas:
    # correct, but it dragged every payload byte through an Arrow
    # round-trip into Python just to annotate three metadata columns —
    # measured as the flat ~5s tail of the postings stage.)  blocks is
    # consumed exactly once, so the whole stage is ONE job with two
    # exchanges; shuffle retry covers executor loss.
    from pyspark.sql import Window
    wt = Window.partitionBy("bucket", "_p", "term")
    fcols = ["bucket", "term", "block_id", "range_id", "first_doc",
             "last_doc", "doc_count", "max_tf", "min_dl", "max_score",
             "payload"] + (["pos_payload"] if positions else [])
    return (
        _by_bucket(blocks.withColumn("bucket", F.pmod(
            F.hash("term"), F.lit(NUM_TERM_BUCKETS))))
        .withColumn("block_id",
                    (F.row_number().over(wt.orderBy("first_doc")) - 1)
                    .cast("int"))
        .withColumn("_df", F.sum("doc_count").over(wt))
        .withColumn("max_score", F.expr(bm25_sql(
            "max_tf", "min_dl", "_df",
            repr(float(n_corpus)), repr(float(avgdl)))))
        .select(*fcols)
    )


def _concurrently(*fns) -> None:
    """Run independent driver actions (each submits its own Spark jobs)
    in threads, wait for ALL of them — also when one raises, so no job
    keeps running into error teardown — then raise the first error."""
    import threading
    errs: list[BaseException] = []

    def _run(fn) -> None:
        try:
            fn()
        except BaseException as e:  # surfaced after join
            errs.append(e)

    ts = [threading.Thread(target=_run, args=(fn,)) for fn in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errs:
        raise errs[0]


def _block_terms(postings: DataFrame) -> DataFrame:
    """One (bucket, term, df, n_blocks, first) row per posting block;
    `first` marks each term's first block, so counting it counts
    terms."""
    return postings.select("bucket", "term",
                           F.col("doc_count").cast("long").alias("df"),
                           F.lit(1).cast("long").alias("n_blocks"),
                           (F.col("block_id") == 0).alias("first"))


def _by_bucket(df: DataFrame) -> DataFrame:
    """df plus `_p`, shuffled into n = min(write width, NUM_TERM_BUCKETS)
    partitions, bucket b to partition b mod n: each write task writes
    the same number of bucket files (one file per bucket), and the
    explicit count keeps adaptive execution from coalescing the write
    into one task.  `_p` is a function of bucket, so grouping or
    windowing by (bucket, _p, …) changes no group, and the hash
    partitioning on `_p` already clusters every such group: no second
    exchange.  Keeping bucket first in those keys keeps the rows sorted
    by bucket, as the partitioned write needs, without another sort."""
    n = min(_write_width(df.sparkSession), NUM_TERM_BUCKETS)
    return df.withColumn("_p", partition_key(f"pmod(bucket, {n})", n)) \
        .repartition(n, "_p")


def _sum_terms(rows: DataFrame) -> DataFrame:
    """Per-term totals of (bucket, term, df, n_blocks) rows, in one
    shuffle (_by_bucket)."""
    return (_by_bucket(rows)
            .groupBy("bucket", "_p", "term")
            .agg(F.sum("df").alias("df"),
                 # every term has a block: stored as a required column
                 F.coalesce(F.sum("n_blocks"), F.lit(0).cast("long"))
                 .alias("n_blocks"))
            .drop("_p"))


def _write_width(spark: SparkSession) -> int:
    """Tasks per table write: one per core.  A parquet write task's
    fixed cost (30–90 ms per task just to deserialize it, Hadoop
    configuration included, on a 4-core host in Spark 4.1 local mode)
    outweighs its data at small scale, so the build writes doc_stats
    ranges, mirror ranges and (up to NUM_TERM_BUCKETS) bucket files
    with this many tasks."""
    return spark.sparkContext.defaultParallelism


def _dictionary_stats(rows: DataFrame,
                      n_ranges: int) -> tuple[list[dict], list[str]]:
    """Per-bucket stats — lineage rows AND global counts — plus a term
    sample for the mirrors' range bounds, from ONE aggregate over
    (bucket, term, df, n_blocks, first) rows: one row per posting block
    (_block_terms) or per term (first = true).

    The groups are (bucket, xxhash64(term) mod k), k sized so that the
    groups' smallest-hash terms — one per group, a deterministic
    uniform sample — number about SAMPLE_PER_RANGE × n_ranges; the
    driver sums the groups back into buckets."""
    k = -(-SAMPLE_PER_RANGE * n_ranges // NUM_TERM_BUCKETS)
    h = F.xxhash64("term")
    groups = rows.groupBy("bucket", F.pmod(h, F.lit(k))).agg(
        F.sum("df").alias("rows_in"),
        F.count_if("first").alias("terms_out"),
        F.sum("n_blocks").alias("blocks_out"),
        F.min_by("term", h).alias("sample")).collect()
    stats: dict[int, dict] = {}
    for g in groups:
        b = stats.setdefault(g["bucket"], {"bucket": g["bucket"],
                                           "rows_in": 0, "terms_out": 0,
                                           "blocks_out": 0})
        for c in ("rows_in", "terms_out", "blocks_out"):
            b[c] += g[c]
    return [stats[b] for b in sorted(stats)], [g["sample"] for g in groups]


def _grams(term: str) -> set[str]:
    return ({term[i:i + 3] for i in range(len(term) - 2)}
            | {term[i:i + 2] for i in range(len(term) - 1)})


def _write_mirrors(store: IndexStore, rows: DataFrame, sample: list[str],
                   seg: str) -> None:
    """Wildcard mirrors of the term dictionary.

    terms_rev: (rev=reverse(term), term, df), range-partitioned and
    sorted by rev — a suffix wildcard `*tok` becomes a PREFIX scan on
    rev with parquet row-group pruning, the build-time analog of
    oscar's optional suffix enumeration (reference/oscar-create/
    CellTextCompleter.h:602-637) at O(n_terms) extra storage instead
    of O(total suffix count).

    terms_ngram: one row per (gram of term, term) for grams of length 3
    AND length 2 — `*tok*` becomes intersect-the-gram-lists +
    contains-verify over candidates instead of a full dictionary scan
    (3-gram intersection for stems ≥ 3 chars; the single 2-gram list
    for 2-char stems, which previously fell through to a linear scan of
    the whole dictionary).  O(Σ len(term)) rows per gram length (~2×
    the 3-gram-only mirror), range-partitioned by gram so the per-query
    read touches only matching row groups; 2- and 3-char grams are
    disjoint string sets so one column serves both.

    Both derive from dictionary rows (_write_dictionary), not from the
    written dictionary, so they need not wait for it.  Their range
    bounds come from ONE term sample (_dictionary_stats): a sampled term
    gives its reversal to the rev bounds and its grams to the gram
    bounds.  Each mirror is then one shuffle and one write, and file i
    holds exactly range i: the files cover disjoint, sorted key
    ranges.  terms_rev sums df per term right after its shuffle (rows
    of one term share a range, so no second exchange); terms_ngram
    explodes the grams of each term's `first` row."""
    n = _write_width(rows.sparkSession)
    rev_order = [("rev", True)]
    rev = (partition_by_ranges(
        rows.select(F.reverse("term").alias("rev"), "term", "df"),
        rev_order, range_bounds([(t[::-1],) for t in sample], n, rev_order))
        .groupBy("_p", "rev", "term").agg(F.sum("df").alias("df"))
        .drop("_p").sortWithinPartitions("rev"))
    # one explode of each term's distinct 2- and 3-grams;
    # sequence(1, length-g+1) must not count DOWN (junk rows), hence the
    # length guards; MIN_TOKEN_LEN=2 means every term has a 2-gram
    g2 = F.expr("transform(sequence(1, length(term) - 1),"
                " i -> substring(term, i, 2))")
    g3 = F.when(F.length("term") >= 3, F.expr(
        "transform(sequence(1, length(term) - 2),"
        " i -> substring(term, i, 3))")).otherwise(
        F.array().cast("array<string>"))
    gram_order = [("gram", True)]
    grams = (partition_by_ranges(
        rows.filter(F.col("first") & (F.length("term") >= 2)).select(
            F.explode(F.array_distinct(F.concat(g3, g2))).alias("gram"),
            "term"),
        gram_order,
        range_bounds([(g,) for t in sample for g in _grams(t)], n,
                     gram_order))
        .drop("_p").sortWithinPartitions("gram", "term"))

    _concurrently(lambda: store.write_segment(rev, "terms_rev", seg),
                  lambda: store.write_segment(grams, "terms_ngram", seg))


def _write_dictionary(store: IndexStore, rows: DataFrame,
                      seg: str) -> list[dict]:
    """Write the term dictionary and both wildcard mirrors from
    (bucket, term, df, n_blocks, first) rows — one row per posting
    block (_block_terms) and/or per committed term (first = true) — and
    return the per-bucket stats.  Eight jobs, four deep: the dictionary
    write (one shuffle) runs alongside the stats/sample aggregate, which
    the two mirror writes (one shuffle each) follow."""
    n = _write_width(rows.sparkSession)
    stats: list = []

    def _mirrors() -> None:
        bucket_stats, sample = _dictionary_stats(rows, n)
        stats.extend(bucket_stats)
        _write_mirrors(store, rows, sample, seg)

    # the dictionary is term-sorted within each bucket (so parquet
    # row-group min/max prunes dictionary range scans): one file per bucket
    _concurrently(lambda: store.write_segment(
        _sum_terms(rows).sortWithinPartitions("bucket", "term"), "terms",
        seg, partition_by=["bucket"]), _mirrors)
    return stats


def _write_lineage(store: IndexStore, bucket_stats, fp: str,
                   dps: float) -> None:
    """Per-bucket lineage rows (BASELINE.json per-partition lineage).
    bucket_stats is already collected (≤ NUM_TERM_BUCKETS rows), so the
    table is written driver-side with pyarrow — launching a Spark job to
    write 64 rows cost ~1-2s of pure scheduling per build."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    sid = store.snapshot_id("postings") or 0
    now_us = int(time.time() * 1_000_000)
    ldir = store.path("lineage")
    shutil.rmtree(ldir, ignore_errors=True)
    os.makedirs(ldir, exist_ok=True)
    srt = sorted(bucket_stats, key=lambda r: r["bucket"])
    pq.write_table(pa.table({
        "partition_id": pa.array([int(r["bucket"]) for r in srt], pa.int32()),
        "input_fingerprint": pa.array([fp] * len(srt), pa.string()),
        "rows_in": pa.array([int(r["rows_in"]) for r in srt], pa.int64()),
        "terms_out": pa.array([int(r["terms_out"]) for r in srt], pa.int64()),
        "docs_per_sec": pa.array([float(dps)] * len(srt), pa.float64()),
        "snapshot_id": pa.array([int(sid)] * len(srt), pa.int64()),
        "ts": pa.array([now_us] * len(srt), pa.timestamp("us", tz="UTC")),
    }), os.path.join(ldir, "part-00000.parquet"))


@dataclass
class BuildResult:
    n_docs: int
    avgdl: float
    n_terms: int
    n_blocks: int
    docs_per_sec: float
    elapsed_sec: float
    resumed_stages: list[str]
    stage_secs: dict | None = None


@contextmanager
def _input_scan(spark: SparkSession, sigs: dict[str, str] | None):
    """While the input pages are scanned, size
    spark.sql.files.maxPartitionBytes so the scan yields ~4 tasks per
    core; restored on every exit (a leaked 4 MB setting would explode
    task counts for every later scan in the session).  Only the input
    scan: under it the build's own small tables split one task per
    file (16 per postings scan at 3000 pages).

    Rationale: the default 128 MB packing gave a 480k-page bench input
    NINE scan partitions — at 8 cores that is two task waves with the
    second wave 1/8 occupied, ~40% idle time on the tokenize stage's
    critical path, and the idle fraction GROWS with core count (a
    direct N→4N efficiency tax).  At real scale (input bytes ≫ cores ×
    512 MB) the computed target exceeds the 128 MB default and the cap
    keeps Spark's normal behavior."""
    if not sigs:
        yield
        return
    total = sum(max(int(s.split("|")[0]), 0) for s in sigs.values())
    par = spark.sparkContext.defaultParallelism * 4
    tgt = min(max(total // max(par, 1), 4 << 20), 128 << 20)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(tgt))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def prewarm_workers(spark: SparkSession) -> None:
    """Pay each Python UDF worker's one-time costs OUTSIDE any timed or
    latency-sensitive region: the interpreter spawn, the pandas/numpy/
    pyarrow/oscar_spark imports the build kernels use (~1.5 s), and the
    one re-read of Spark's zip archives that `worker_init` leaves to a
    fresh worker.  Once warm, a task's fixed set-up is a few ms instead
    of the ~0.2 s archive re-read every task paid before `worker_init`.
    A standing cluster's executors keep warm workers; a fresh local JVM
    does not."""
    cores = spark.sparkContext.defaultParallelism

    def _warm(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import importlib

        import pyarrow.compute  # noqa: F401
        from oscar_spark.build import indexer  # noqa: F401
        worker_init()
        # the fresh worker's one archive re-read, paid here
        importlib.invalidate_caches()
        # also pre-import and first-run the fixture generator: its module
        # import + vocabulary/zipf setup is a per-worker first-task cost
        # that otherwise lands inside the first timed pages_gen job
        from oscar_spark.fixtures.pages import generate_pages
        generate_pages(2)
        yield from it

    (spark.range(cores * 4, numPartitions=cores * 4)
     .mapInPandas(_warm, "id long").count())


def extract_pages(pages: DataFrame) -> DataFrame:
    """html → text via the pinned extractor (vectorized); byte-identity
    with an existing `text` column is a test invariant, not assumed."""
    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_init()
        for pdf in batches:
            out = pdf[["url", "warc_ts", "html", "lang"]].copy()
            out["text"] = extract_series(pdf["html"])
            yield out
    return pages.mapInPandas(
        _extract, "url string, warc_ts timestamp, html binary, lang string, text string")


def input_files_sig(pages: DataFrame) -> dict[str, str] | None:
    """File-backed input → {file URI: "size|mtime"} (driver-side listing,
    no data scan); None for in-memory input."""
    from urllib.parse import unquote, urlparse
    files = sorted(pages.inputFiles())
    if not files:
        return None
    out = {}
    for f in files:
        # urlparse handles every file:-URI form (file:///p, file:/p);
        # a fixed 7-char slice mangled file:/p paths so size stat
        # always failed and the fingerprint degraded to names-only
        p = unquote(urlparse(f).path) if "://" in f or \
            f.startswith("file:") else f
        try:
            st = os.stat(p)
            size, mtime = st.st_size, int(st.st_mtime_ns)
        except OSError:
            size, mtime = -1, -1
        out[f] = f"{size}|{mtime}"
    return out


def input_fingerprint(pages: DataFrame,
                      sigs: dict[str, str] | None) -> str:
    """Cheap deterministic fingerprint of the input table (resume gate).

    File-backed input (sigs, its input_files_sig): hash of the sorted
    (path, size, mtime) manifest — a driver-side listing, no data scan
    (the Iceberg-snapshot-id analog; at 10^12 docs a content scan just
    to decide "did the input change" is not acceptable).  In-memory
    input (tests): content-based scan.
    """
    import zlib
    if sigs is not None:
        h = 0
        for f, s in sorted(sigs.items()):
            size, mtime = s.split("|")
            h = zlib.crc32(f"{f}|{size}|{mtime};".encode(), h)
        return f"m{len(sigs)}-{h:08x}"
    row = pages.select(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.col("url"))).alias("u"),
        F.sum(F.length(F.col("text"))).alias("t"),
    ).collect()[0]
    return f"n{row['n']}-u{row['u']}-t{row['t']}"


def _modes(codec: str, positions: bool, fields) -> dict:
    """The store modes a segment is written under, as the manifest
    records them.  Fails fast on an unknown codec, and on field columns
    whose keys normalize to nothing or to the same key (e.g. 'Lang' and
    'lang'): those would emit duplicate (url, term) postings and crash
    the block encoder later with a misleading duplicate-url error."""
    from oscar_spark.functions.tokenize import normalize_field_value
    block_decoder(codec)
    fields = list(fields or ())
    keys = [normalize_field_value(f) for f in fields]
    if not all(keys) or len(set(keys)) < len(keys):
        raise ValueError(
            f"field columns {fields} normalize to the keys {keys}: each "
            "needs an alphanumeric and its own key, or the composite "
            "key:value tokens would be ambiguous")
    return {"codec": codec, "payload_format": PAYLOAD_FORMAT,
            "positions": bool(positions), "fields": fields}


def _stage_fingerprints(fp: str, modes: dict) -> dict[str, str]:
    """Each stage's resume fingerprint: the input fingerprint plus the
    modes its output depends on, so a resume under another mode redoes
    the stage instead of keeping output of the old one.

    - tokens: positions and fields; `|m2` is tokens-table format 2
      (per-doc NULL-term marker rows), so a store whose tokens were
      committed WITHOUT markers re-tokenizes on resume, or the
      marker-filter doc lengths would see only empty docs.
    - postings: codec too, so a resume under another codec rebuilds
      instead of keeping the old payloads under the new codec label.
    - terms: df depends on the fielded-token set (not on codec or
      positions), so a fields flip rebuilds the dictionary too."""
    f = ",".join(modes["fields"])
    pos = int(modes["positions"])
    return {"tokens": f"{fp}|pos={pos}|f={f}|m2",
            "doc_stats": fp,
            "postings": f"{fp}|codec={modes['codec']}|pos={pos}|f={f}",
            "terms": f"{fp}|f={f}"}


class _Clock:
    """BuildResult.stage_secs: each mark is the time since the last."""

    def __init__(self) -> None:
        self.t0 = self._last = time.time()
        self.secs: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.time()
        self.secs[name] = round(now - self._last, 2)
        self._last = now


def build_index(spark: SparkSession, pages: DataFrame, index_dir: str,
                resume: bool = False,
                codec: str | None = None,
                positions: bool | None = None,
                fields: tuple[str, ...] | None = None) -> BuildResult:
    """Build the full index (doc_stats, terms, postings, lineage): the
    ingest pipeline (_ingest) over an empty base, as segment `base`.

    Input contract: url is the document key — ONE page row per url.
    Duplicate urls within one build fail fast in the posting encoder
    (clear error); re-crawled urls arriving in LATER drops are handled
    by the append path's committed-url anti-join.

    codec: posting payload codec ("varint" | "pfor"); defaults to
    config.POSTINGS_CODEC.  Recorded in the store manifest; serve
    dispatches on it.  (Analog of the reference's per-build codec
    configs, reference/data/configs/oscar-create/index_*.json;
    comparison table in BENCH/CODECS.md.)
    positions: store per-posting occurrence positions in a pos_payload
    side column (QT_EXACT support: quoted queries become TRUE phrase
    queries in serve instead of AND-of-tokens).  Costs ~Σtf extra
    varints through the shuffle and on disk — the inherent positional-
    index tax; recorded in the manifest, appends inherit it.
    fields: page columns to index as `key:value` composite tokens
    (tf=1 per doc; the @key:value fielded terms of
    reference/oscar-create/TextSearchTraits.h:108) — `lang:en` then
    works as a query leaf; recorded in the manifest, appends inherit.

    All three mode knobs default to None = "unspecified": a resume
    INHERITS the modes of the killed build it resumes (recorded with its
    first stage commit), else those of the committed store, so `cli.py
    build --resume` (which passes no mode flags) finishes or appends to
    a positional/fielded/pfor store instead of silently rebuilding it as
    a plain varint store.  An explicit value still overrides — a real
    mode FLIP rebuilds, as the append gate requires.

    Without resume the build starts a new store: its publish replaces
    every segment and all metadata (modes, input files) of an earlier
    store in index_dir.  A killed build resumes as a build, never as an
    append onto the store it was replacing."""
    from oscar_spark.config import POSTINGS_CODEC
    store = IndexStore(index_dir)
    m = store.manifest()
    meta = m.get("meta", {})
    rec = {**meta, **m.get("pending", {}).get("meta", {})} if resume else {}
    modes = _modes(
        codec or rec.get("codec") or POSTINGS_CODEC,
        rec.get("positions", False) if positions is None else positions,
        rec.get("fields") if fields is None else fields)
    clock = _Clock()
    # input_hint shape is (url, warc_ts, html, text, lang); a table
    # carrying only the raw html gets the pinned extractor applied
    # (byte-identity with pre-extracted text is a test invariant) — for
    # an append only AFTER its per-file filter, whose input_file_name()
    # does not survive a mapInPandas
    text_pages = pages if "text" in pages.columns else extract_pages(pages)
    sigs = input_files_sig(pages)  # the one listing of the input
    fp = input_fingerprint(text_pages, sigs)
    clock.mark("fingerprint")

    # ---- incremental append (store→store re-import analog,
    # reference/oscar-create/oscarcreate.cpp:86-116): if the input grew
    # by whole files while every previously-ingested file is unchanged,
    # ingest ONLY the new files, as a segment on the committed store — a
    # daily crawl drop costs O(new data), not a rebuild ----
    recorded = meta.get("input_files")
    if (resume and recorded and sigs and len(sigs) > len(recorded)
            # a killed build resumes as the build
            and m.get("pending", {}).get("segment") != "base"
            and not store.committed(
                "postings", _stage_fingerprints(fp, modes)["postings"])
            # a codec/positional/fielded flip means a rebuild
            and all(meta.get(k) == modes[k]
                    for k in ("codec", "positions", "fields"))
            and all(sigs.get(f) == s for f, s in recorded.items())):
        return _append_index(spark, pages, store, fp, modes, sigs,
                             sorted(set(sigs) - set(recorded)), clock)
    return _ingest(spark, text_pages, store, "base", fp, modes,
                   replace=True, resume=resume, sigs=sigs, clock=clock)


# every table a segment has once published → the stage that writes it
_TABLES = {"doc_stats": "doc_stats", "postings": "postings",
           "terms": "terms", "terms_rev": "terms", "terms_ngram": "terms"}


def _ingest(spark: SparkSession, pages: DataFrame, store: IndexStore,
            seg: str, fp: str, modes: dict, *, replace: bool,
            resume: bool = False, sigs: dict[str, str] | None = None,
            clock: _Clock | None = None,
            check_tokens=lambda: None) -> BuildResult:
    """The one ingest pipeline: `pages` become segment `seg` of every
    table on top of a base snapshot, and one publish makes it visible.
    A build (`replace`) has an empty base; its publish replaces every
    table's segments and the store's metadata.  An append or a streaming
    epoch builds on the committed snapshot; its publish adds the segment
    beside the committed ones and swaps in the merged dictionary.
    Scores stay exact: serve derives BM25 at query time from tf/dl
    payloads and the merged df, n_docs and avgdl.

    Each stage records a stage commit of the pending segment under its
    fingerprint, with the modes and counts it ran under; with resume, a
    stage whose commit matches is not run again, and a build also keeps
    a committed table whose snapshot matches.  `check_tokens` runs right
    after the tokens write: an input check raising there commits
    nothing."""
    clock = clock or _Clock()
    suffix = "" if replace else "_append"  # the stage_secs keys
    if "text" not in pages.columns:  # html-only input (see build_index)
        pages = extract_pages(pages)
    m = store.manifest()
    old = {} if replace else m.get("meta", {})  # the base's meta
    if old:
        # a store in another payload format or layout must not gain a
        # segment in the current one: the publish stamps it store-wide
        store_decoder(old)
    n_old = int(old.get("n_docs", 0))
    fps = _stage_fingerprints(fp, modes)
    pending = m.get("pending") or {}
    if pending.get("segment") != seg:
        pending = {"stages": {}}
    # a resumed build keeps each committed table whose stage fingerprint
    # matches and that its pending segment does not hold
    kept = {s for s, f in fps.items() if resume and replace
            and pending["stages"].get(s) != f
            and (m["snapshots"].get(s) or {}).get("fingerprint") == f}
    if replace and any(seg in store.segments(t, m)
                       for t, s in _TABLES.items() if s not in kept):
        # the build rewrites listed directories in place: publish the
        # snapshot without the tables it rewrites and their snapshots
        # first, and with no store meta but a kept doc_stats' counts.  A
        # killed rebuild then leaves a store that refuses to open (no
        # payload format) and resumes as a build, never one that pairs
        # new tables with old ones
        store.commit_append(
            replace={t: [] for t, s in _TABLES.items() if s not in kept},
            meta={k: m["meta"][k] for k in ("n_docs", "avgdl")
                  if "doc_stats" in kept},
            stage_fingerprints=dict.fromkeys(set(_TABLES.values()) - kept))

    def done(stage: str) -> dict | None:
        """The meta `stage` was committed with — by the pending segment,
        or by the committed store whose table a build keeps — or None:
        run the stage."""
        if resume and pending["stages"].get(stage) == fps[stage]:
            return pending["meta"]
        return m.get("meta", {}) if stage in kept else None

    def commit(stage: str, **counts) -> None:
        store.commit_stage(seg, stage, fps[stage], {**modes, **counts})

    def read(table: str) -> DataFrame:
        schema = table_schema(table, modes)
        if table in kept:
            return store.read(spark, table, schema, manifest=m)
        return store.read_segment(spark, table, seg, schema)

    resumed: list[str] = []

    # ---- stage 0: tokens checkpoint ----
    # Tokenize EXACTLY once to parquet; doc_stats and postings re-read it
    # as columnar scans.  (A .cache() here was evicted once the token
    # table outgrew storage memory, and then SILENTLY RE-TOKENIZED
    # inside the postings shuffle — more often at higher core counts,
    # which inverted N→4N scaling.)  It is the resume snapshot until
    # postings, its last reader, commit (store→store re-import,
    # reference/oscar-create/oscarcreate.cpp:86-116), and is dropped
    # then: once both readers committed, tokens is done without a read.
    readers_done = (done("doc_stats") is not None
                    and done("postings") is not None)
    if readers_done or done("tokens") is not None:
        resumed.append("tokens")
    else:
        with _input_scan(spark, sigs):
            store.write_segment(_tokenize(pages, modes["positions"],
                                          tuple(modes["fields"])),
                                "tokens", seg)
        check_tokens()
        commit("tokens")
    clock.mark("tokens" + suffix)
    tokens = None if readers_done else read("tokens")

    # ---- stage 1: doc_stats (docID = rank by static quality; analog of
    # applySort score ordering, OsmKeyValueObjectStore.cpp:1339-1399) ----
    counts = done("doc_stats")
    if counts is not None:
        resumed.append("doc_stats")
    else:
        # per-doc lengths come from the tokenizer's NULL-term marker
        # rows (exactly one per doc, tf=0, dl attached) — a column-
        # pruned filter scan instead of a full groupBy(url) pass +
        # exchange over the whole token table (r06); quality := doc_len
        # (pinned static score for the fixture corpus)
        doc_lens = (tokens.filter(F.col("term").isNull())
                    .select("url", F.col("dl").alias("doc_len"))
                    .withColumn("quality", F.col("doc_len").cast("double")))
        if old:
            # url is the document key: a re-crawled url that is ALREADY
            # indexed is dropped, and its token rows never meet a doc
            # id.  The id assignment reads doc_lens three times: persist
            # so the anti-join runs once
            doc_lens = doc_lens.join(
                store.read(spark, "doc_stats", manifest=m).select("url"),
                "url", "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
        # three column-pruned scans of the tokens (sample, per-range
        # counts, the id write); a build caches nothing, as a cache
        # would cost its own materialization job.  Corpus stats (n_docs,
        # Σdl) ride along on the per-range count — no separate
        # aggregation job — and persist in the manifest so later
        # stages, resumes, and serve startup never pay one either
        assigned, stats = assign_doc_ids_ranged(
            doc_lens, num_partitions=_write_width(spark),
            stats_col="doc_len")
        if old:  # past the committed id space
            assigned = assigned.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(n_old)).cast("long"))
        store.write_segment(
            assigned.select("doc_id", "url", "doc_len", "quality"),
            "doc_stats", seg)
        doc_lens.unpersist()
        n = n_old + int(stats["n"])
        counts = {"n_docs": n, "avgdl": (
            (float(old.get("avgdl", 0.0)) * n_old + stats["sum"]) / n
            if n else 0.0)}
        commit("doc_stats", **counts)
    clock.mark("doc_stats" + suffix)
    n_docs, avgdl = int(counts["n_docs"]), float(counts["avgdl"])

    # ---- stage 2: postings ----
    if done("postings") is not None:
        resumed.append("postings")
    else:
        blocks = _final_blocks(spark, tokens, read("doc_stats"),
                               n_docs - n_old, n_docs, avgdl,
                               modes["codec"], modes["positions"])
        if old:  # continue each term's numbering past its committed blocks
            blocks = (blocks.join(
                store.read(spark, "terms", manifest=m)
                .select("term", F.col("n_blocks").alias("_ob")),
                "term", "left")
                .withColumn("block_id", (F.col("block_id") + F.coalesce(
                    F.col("_ob"), F.lit(0))).cast("int"))
                .select(*blocks.columns))
        store.write_segment(blocks, "postings", seg, partition_by=["bucket"])
        commit("postings")
    store.drop("tokens")  # nothing after the postings commit reads it
    clock.mark("postings" + suffix)

    # ---- stage 3: terms (the dictionary and both wildcard mirrors
    # derive from the COMMITTED postings, so the stored df provably
    # equals the posting contents — FIXTURES.md inv 2) ----
    if done("terms") is not None:
        resumed.append("terms")
        bucket_stats, _ = _dictionary_stats(
            read("terms").withColumn("first", F.lit(True)), 1)
    else:
        rows = _block_terms(read("postings"))
        if old:
            # merged with the committed dictionary: a new block of a
            # committed term has block_id > 0, so `first` still marks
            # one row per term
            rows = (store.read(spark, "terms", manifest=m)
                    .withColumn("first", F.lit(True)).unionByName(rows))
        bucket_stats = _write_dictionary(store, rows, seg)
        commit("terms")
    clock.mark("terms" + suffix)

    # ---- publish: ONE atomic manifest commit.  The per-file input
    # manifest is the append-detection baseline for the next build over
    # a grown input; tokens, dropped above, leaves no fingerprint ----
    grown = () if replace else ("doc_stats", "postings")
    store.commit_append(
        add={t: [seg] for t in grown},
        replace={t: [seg] for t, stage in _TABLES.items()
                 if t not in grown and stage not in kept},
        meta={**old, **modes, "n_docs": n_docs, "avgdl": avgdl,
              **({"input_files": sigs} if sigs else {})},
        stage_fingerprints={s: f for s, f in fps.items() if s != "tokens"})

    elapsed = time.time() - clock.t0
    dps = (n_docs - n_old) / elapsed if elapsed > 0 else 0.0  # new docs
    _write_lineage(store, bucket_stats, fp, dps)
    clock.mark("lineage_and_counts")
    return BuildResult(
        n_docs=n_docs, avgdl=avgdl,
        n_terms=sum(r["terms_out"] for r in bucket_stats),
        n_blocks=int(sum(r["blocks_out"] for r in bucket_stats)),
        docs_per_sec=dps, elapsed_sec=elapsed, resumed_stages=resumed,
        stage_secs=clock.secs)


def ingest_segment(spark: SparkSession, pages: DataFrame, store: IndexStore,
                   seg: str, codec: str, fp: str) -> BuildResult:
    """Add `pages` to the store as one new segment `seg` (a Structured
    Streaming epoch, streaming/jobs.py): the ingest pipeline over the
    committed snapshot, whose recorded modes it keeps; an empty store's
    first segment is written under `codec`.  `fp` is the segment's
    stage fingerprint."""
    if seg in store.segments("postings"):
        # re-ingesting a committed segment would anti-join every url
        # away and overwrite it with EMPTY files while n_docs/df still
        # count it (the at-least-once replay hazard — callers skip
        # committed epochs, this guard makes the contract explicit)
        raise ValueError(
            f"segment {seg!r} is already committed in this store; "
            "replay/skip it instead of re-ingesting")
    meta = store.manifest().get("meta", {})
    return _ingest(spark, pages, store, seg, fp,
                   _modes(meta.get("codec", codec),
                          meta.get("positions", False), meta.get("fields")),
                   replace=False)


def _uri_variants(f: str) -> set[str]:
    """Every plausible rendering of one file URI/path: raw, plain path,
    percent-encoded and not, file: with 1/2/3 slashes, with and without
    the authority.  Used to match DataFrame.inputFiles() entries against
    input_file_name() values without transforming either side."""
    from urllib.parse import quote, unquote, urlparse
    out = {f}
    if "://" in f or f.startswith("file:"):
        u = urlparse(f)
        paths = {unquote(u.path)}
        paths.add(quote(unquote(u.path)))
        netloc = u.netloc
        scheme = u.scheme
    else:
        paths = {f, quote(f)}
        netloc, scheme = "", "file"
    for p in paths:
        out.add(p)
        out.add(f"{scheme}:{p}")
        out.add(f"{scheme}://{netloc}{p}")
        if not netloc:
            out.add(f"{scheme}://{p}")
    return out


def _append_index(spark: SparkSession, pages: DataFrame, store: IndexStore,
                  fp: str, modes: dict, sigs: dict[str, str],
                  new_files: list[str], clock: _Clock) -> BuildResult:
    """File-growth append: filter the input to its NEW files and ingest
    just those rows as one segment on top of the committed store.  A
    killed append is detected as an append again and resumes from its
    stage commits."""
    import dataclasses
    import zlib
    seg = "a%08x" % zlib.crc32(";".join(new_files).encode())

    # input_file_name() and DataFrame.inputFiles() render file URIs
    # differently across sources (file:/p vs file:///p, percent-encoded
    # or not, with or without an authority) — and a TRANSFORMED compare
    # (strip scheme on one side, unquote on the other) silently matches
    # nothing for encoded paths or object-store URIs, committing an
    # EMPTY segment while recording the files as ingested.  So: no
    # transformation of the scan side; instead every new file expands
    # to all of its plausible URI renderings and the raw
    # input_file_name() is matched against that closed set.  A zero-row
    # match is a hard error below, never a silent empty append.
    targets = sorted(set().union(*(_uri_variants(f) for f in new_files)))
    # the file names and row count are observed on the filtered scan
    # that feeds the tokens write, so the match check costs no scan of
    # its own (input_file_name() is projected first: observing it
    # directly fails with "InputFileName should be initialized before
    # eval")
    seen = Observation("append_files")
    new_pages = (pages.withColumn("_file", F.input_file_name())
                 .filter(F.col("_file").isin(targets))
                 .observe(seen, F.collect_set("_file").alias("files"),
                          F.count("_file").alias("rows")))

    def _check_files() -> None:
        # EVERY new file must match (a partial match would silently
        # drop the unmatched files' docs while recording them as
        # ingested — distinct scan-side names are each one real file,
        # so a count comparison detects any miss)
        matched = set(seen.get["files"])
        if len(matched) >= len(new_files):
            return
        # a legitimately EMPTY parquet drop (0 rows) has no rows whose
        # input_file_name() could match — indistinguishable from a URI
        # rendering mismatch by row counts alone.  Read just the
        # unmatched files directly: genuinely empty ones are fine to
        # record as ingested; only non-empty unmatched files mean a
        # rendering mismatch that would silently drop docs.
        unmatched = [f for f in new_files
                     if not (_uri_variants(f) & matched)]
        dropped = [f for f in unmatched
                   if spark.read.parquet(f).limit(1).count() > 0]
        if dropped:
            raise RuntimeError(
                f"append: {len(dropped)} non-empty new input file(s) "
                f"matched zero rows ({seen.get['rows']} rows matched "
                "from the others; URI rendering mismatch between "
                "inputFiles() and input_file_name()); refusing to "
                "commit a partial segment. First affected: "
                f"{dropped[0]!r}")

    res = _ingest(spark, new_pages, store, seg, fp, modes, replace=False,
                  resume=True, sigs=sigs, clock=clock,
                  check_tokens=_check_files)
    return dataclasses.replace(res, resumed_stages=[f"append:{seg}"])


def maybe_compact(spark: SparkSession, index_dir: str,
                  max_segments: int) -> dict:
    """Compaction POLICY for append pipelines: merge only once the
    committed postings segment count exceeds max_segments, so a daily
    drop pays O(new data) most days and the full-merge cost is
    amortized over max_segments appends (the same amortization rule as
    LSM/Iceberg maintenance; the reference's periodic store→store
    re-import, reference/oscar-create/oscarcreate.cpp:86-116).
    Callers wire it after build_index(resume=True) — e.g.
    `cli.py build --compact-after N`."""
    store = IndexStore(index_dir)
    n = len(store.segments("postings"))
    if n <= max_segments:
        return {"compacted": False, "segments_before": n}
    return compact_index(spark, index_dir)


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Merge every committed segment back into ONE fresh segment — the
    store→store re-import analog (reference/oscar-create/
    oscarcreate.cpp:86-116).  Without it a daily-append store's
    per-query segment/file count grows without bound (terms is
    swap-replaced on append, but postings/doc_stats segments
    accumulate).  Tokens are not copied: nothing reads them once
    postings commit, and a store that still lists tokens segments has
    them dropped here.

    Search results are invariant: doc ids, payload bytes, df and
    n_docs/avgdl are all preserved.  Only block_id is renumbered per
    (bucket, term) — ordering by first_doc is globally consistent
    because appended docs always take ids past the committed space, so
    the per-term strictly-increasing block invariant holds in the
    compacted store.  A store in a layout the decoder rejects is
    rejected here too, before anything is written.

    Scale shape: ONE shuffle of the postings table (the renumbering
    window on (bucket, term)), linear unions for the rest.  One atomic
    manifest swap at the end (commit_append replace=…): a crash
    mid-compaction leaves the old snapshot fully intact; the publish
    removes the superseded segment directories AFTER it.
    """
    import zlib

    from pyspark.sql import Window

    store = IndexStore(index_dir)
    store_decoder(store.manifest().get("meta", {}))
    pre = {t: store.segments(t) for t in _TABLES}
    if all(len(pre[t]) <= 1 for t in ("doc_stats", "postings")):
        return {"compacted": False,
                "segments_before": max(len(v) for v in pre.values())}
    t0 = time.time()
    seg = "c%08x" % zlib.crc32(
        ";".join(sorted({s for v in pre.values() for s in v})).encode())

    posting_cols = store.read(spark, "postings").columns
    w = Window.partitionBy("bucket", "term").orderBy("first_doc")
    p2 = (store.read(spark, "postings")
          .withColumn("block_id",
                      (F.row_number().over(w) - 1).cast("int"))
          .select(*posting_cols))
    store.write_segment(p2, "postings", seg, partition_by=["bucket"])

    # terms re-derived from the compacted postings so the stored df
    # provably equals the posting contents (FIXTURES.md invariant 2)
    _write_dictionary(store, _block_terms(
        store.read_segment(spark, "postings", seg)), seg)

    store.write_segment(store.read(spark, "doc_stats"), "doc_stats", seg)

    store.commit_append(replace={t: [seg] for t in _TABLES})
    store.drop("tokens")
    return {"compacted": True, "segment": seg,
            "segments_before": max(len(v) for v in pre.values()),
            "elapsed_sec": round(time.time() - t0, 2)}
