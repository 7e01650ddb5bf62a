"""Deterministic synthetic `pages` corpus (FIXTURES.md §1).

Schema (exactly the BASELINE.json input_hint shape):
    url:string  warc_ts:timestamp  html:binary  text:string  lang:string

- Zipf-distributed vocabulary (p ∝ 1/(i+1), VOCAB_SIZE words) so head
  terms appear in nearly every doc — exercising the salted two-phase
  merge path the way city/country names do in oscar.
- 1% of pages carry invalid UTF-8 bytes and unclosed tags (extractor
  robustness; cf. UTF-8 validation at
  reference/oscar-cmd/ConsistencyCheckers.cpp:259).
- `text` is ground truth: extract_text(html) applied at generation time,
  so the byte-identity invariant is testable end-to-end.

Analogous in role to oscar's randomized workload generation
(reference/oscar-cmd/CompletionStringCreators.cpp:17-46): deterministic,
seeded, derived from the indexed content itself.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from oscar_spark.config import FIXTURE_SEED, VOCAB_SIZE
from oscar_spark.functions.extract import extract_text
from oscar_spark.functions.worker import worker_init

# head of the vocabulary: real common words so queries read naturally;
# tail: generated slugs.  Fixed list — part of the fixture contract.
_COMMON = (
    "the of and to in is was for on as with by at from that his it an were "
    "are which this also be had or has its not but first one their after "
    "who she all time two may been when year more over city state world war "
    "house music area north south west east river county home history"
).split()


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    vocab = list(_COMMON)
    i = 0
    while len(vocab) < size:
        vocab.append(f"wd{i:04d}")
        i += 1
    return vocab[:size]


def _zipf_probs(size: int) -> np.ndarray:
    p = 1.0 / (np.arange(size) + 1.0)
    return p / p.sum()


_EPOCH = dt.datetime(2025, 1, 1, 0, 0, 0)


def generate_pages(n_rows: int, seed: int = FIXTURE_SEED,
                   n_sites: int = 50, start_index: int = 0,
                   row_range: tuple[int, int] | None = None) -> pd.DataFrame:
    """Deterministic pages table as a pandas DataFrame.

    start_index offsets urls/timestamps so large corpora can be generated
    in chunks (chunk i uses seed+i) with globally-unique urls.

    row_range=(lo, hi) emits only rows lo..hi-1 of the n_rows chunk,
    BYTE-IDENTICAL to the corresponding slice of the full chunk: every
    random draw is still made for the whole chunk (the cheap part —
    bulk numpy draws), only the expensive per-row string assembly is
    restricted to the slice.  This lets pages_spark_df_dist sub-split
    a chunk across tasks without changing a single emitted byte.
    """
    rng = np.random.RandomState(seed)
    vocab = np.array(vocabulary())
    probs = _zipf_probs(len(vocab))

    title_lens = rng.randint(2, 5, size=n_rows)
    n_paras = rng.randint(1, 4, size=n_rows)
    sites = rng.randint(0, n_sites, size=n_rows)
    langs = rng.choice(["en", "de", "fr"], size=n_rows, p=[0.80, 0.15, 0.05])
    corrupt = rng.rand(n_rows) < 0.01
    # per-paragraph lengths and ONE bulk Zipf draw for all words (a
    # per-row rng.choice redoes the 5000-entry cumsum every call — ~50×
    # slower at corpus scale)
    para_lens = rng.randint(20, 81, size=(n_rows, 3))
    words_per_row = title_lens + np.where(
        np.arange(3)[None, :] < n_paras[:, None], para_lens, 0).sum(axis=1)
    all_words = vocab[rng.choice(len(vocab), size=int(words_per_row.sum()),
                                 p=probs)]
    offsets = np.concatenate([[0], np.cumsum(words_per_row)])

    lo, hi = row_range if row_range is not None else (0, n_rows)
    # --- vectorized row assembly (r06 session 3, guide §4.2) ---
    # The per-row loop (str.join per title/para + 3 regex passes of
    # extract_text per page) was ~75% of generation compute.  The word
    # joins now run as pyarrow C++ kernels over ONE flat word array, and
    # `text` is constructed directly: for this generator's pinned HTML
    # shape, extract_text provably reduces to
    # "title title para1 .. paraK[ tail text]" (title appears in <title>
    # and <h1>; script/style dropped; every tag → space; words are
    # [a-z0-9]+ so no entities; single-spaced) — byte-identity with
    # extract_text is pinned by
    # tests/test_round6_opt.py::test_generate_pages_text_matches_extract
    # and the emitted frame by the existing slice/dist protocol tests.
    import pyarrow as pa
    import pyarrow.compute as pc
    n_out = hi - lo
    if n_out <= 0:
        return pd.DataFrame(
            columns=["url", "warc_ts", "html", "text", "lang"])
    tl = title_lens[lo:hi].astype(np.int64)
    np_sl = n_paras[lo:hi].astype(np.int64)
    pl = para_lens[lo:hi].astype(np.int64)
    pl_act = np.where(np.arange(3)[None, :] < np_sl[:, None], pl, 0)
    row_start = offsets[lo:hi].astype(np.int64)

    def _offsets32(lens: np.ndarray) -> np.ndarray:
        """List lengths → int32 Arrow list offsets; an oversize slice
        fails here instead of wrapping around silently."""
        offs = np.concatenate(([0], np.cumsum(lens)))
        if offs[-1] >= 2**31:
            raise ValueError(
                f"row slice too large for int32 list offsets ({offs[-1]} "
                "values); generate it in smaller row ranges")
        return offs.astype(np.int32)

    def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
        tot = int(lens.sum())
        rep = np.repeat(np.arange(len(lens)), lens)
        return (np.repeat(starts, lens) + np.arange(tot)
                - np.repeat(np.cumsum(lens) - lens, lens)), rep, tot

    words_pa = pa.array(all_words)
    # titles: words[row_start .. row_start+tl)
    t_idx, _, _ = _ranges(row_start, tl)
    titles = pc.binary_join(
        pa.ListArray.from_arrays(
            _offsets32(tl),
            words_pa.take(pa.array(t_idx))), " ")
    # paragraphs: flat (row, para) lens with their word-range starts
    p_starts = (row_start[:, None] + tl[:, None]
                + np.concatenate([np.zeros((n_out, 1), np.int64),
                                  np.cumsum(pl_act, axis=1)[:, :2]], axis=1))
    keep = pl_act > 0
    pflat_lens = pl_act[keep]
    pflat_starts = p_starts[keep]
    pw_idx, _, _ = _ranges(pflat_starts, pflat_lens)
    para_txt = pc.binary_join(
        pa.ListArray.from_arrays(
            _offsets32(pflat_lens),
            words_pa.take(pa.array(pw_idx))), " ")
    wrapped = pc.binary_join_element_wise("<p>", para_txt, "</p>", "")
    para_list_off = _offsets32(np_sl)
    body = pc.binary_join(
        pa.ListArray.from_arrays(para_list_off, wrapped), "")
    body_txt = pc.binary_join(
        pa.ListArray.from_arrays(para_list_off, para_txt), " ")
    html_str = pc.binary_join_element_wise(
        "<html><head><title>", titles,
        "</title><style>body {margin: 0}</style></head><body><h1>",
        titles, "</h1>", body,
        "<script>var x = 1 &amp;&amp; 2;</script></body></html>", "")
    text_str = pc.binary_join_element_wise(
        titles, titles, body_txt, " ")
    htmls = html_str.cast(pa.binary()).to_pandas().to_numpy(object)
    texts = text_str.to_pandas().to_numpy(object)
    # 1% corruption: invalid UTF-8 + unclosed tag, per FIXTURES.md §1
    for i in np.flatnonzero(corrupt[lo:hi]):
        htmls[i] = htmls[i].replace(
            b"</body></html>", b"<div class=\xff\xfe>tail text")
        texts[i] = texts[i] + " tail text"
    gis = start_index + np.arange(lo, hi, dtype=np.int64)
    urls = [f"https://site{s:04d}.example/p{g:08d}"
            for s, g in zip(sites[lo:hi], gis)]
    ts = pd.Series(
        np.datetime64(_EPOCH) + gis * np.timedelta64(137, "s"),
        dtype="datetime64[ns]")
    return pd.DataFrame({
        "url": urls,
        "warc_ts": ts,
        "html": htmls,
        "text": texts,
        "lang": langs[lo:hi].astype(object),
    })


def pages_schema():
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType, TimestampType,
    )
    return StructType([
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ])


def pages_spark_df(spark, n_rows: int, seed: int = FIXTURE_SEED,
                   start_index: int = 0):
    """pages fixture as a Spark DataFrame with the pinned schema."""
    pdf = generate_pages(n_rows, seed=seed, start_index=start_index)
    return spark.createDataFrame(pdf, schema=pages_schema())


def pages_spark_df_dist(spark, n_rows: int, base_seed: int = 42,
                        chunk: int = 40000):
    """Distributed fixture generation: chunk i = generate_pages(seed=
    base_seed+i, start_index=i*chunk), produced on executors in parallel.

    Byte-identical to the chunked driver-side protocol the benches used
    (chunk ci uses seed 42+ci), but generation scales with cores instead
    of serializing on the driver (~4.5 min for 240k pages driver-side).

    r06 (guide §2.5/§2.6): chunks are additionally SUB-SPLIT into row
    slices via generate_pages(row_range=...) so the task count tracks
    the core count instead of the chunk count (100k bench pages = 10
    chunks = 10 tasks on 32 cores before, with hash-collision stragglers
    stacking 2-3 chunks on one task), and specs are distributed ONE PER
    PARTITION with sc.parallelize instead of repartition(n, "seed") —
    hash partitioning on ~n keys into n partitions leaves ~1/e of
    partitions empty (the guide's synthetic-key collision warning).
    Each slice re-makes the chunk's bulk numpy draws (~0.1s) and builds
    only its rows; emitted bytes are identical to the unsplit protocol.
    """
    cores = spark.sparkContext.defaultParallelism
    n_chunks = max(1, -(-n_rows // chunk))
    # ~3 tasks per core across the whole job, but never slice a chunk
    # below ~2000 rows (the per-slice redraw of the chunk's bulk
    # randomness would start to dominate)
    splits = max(1, min(-(-3 * cores // n_chunks), chunk // 2000))
    specs = []
    for ci, start in enumerate(range(0, n_rows, chunk)):
        n = min(chunk, n_rows - start)
        per = -(-n // splits)
        for lo in range(0, n, per):
            specs.append((base_seed + ci, start, n, lo, min(lo + per, n)))
    rdd = spark.sparkContext.parallelize(specs, len(specs))
    sdf = spark.createDataFrame(
        rdd, "seed int, start long, n int, lo int, hi int")

    def gen(batches):
        worker_init()
        for pdf in batches:
            for _, r in pdf.iterrows():
                yield generate_pages(int(r["n"]), seed=int(r["seed"]),
                                     start_index=int(r["start"]),
                                     row_range=(int(r["lo"]), int(r["hi"])))

    return sdf.mapInPandas(gen, pages_schema())
