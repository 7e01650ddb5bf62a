"""Round-5 fixes, pinned by tests.

1. Driver-contract key-set self-check (round-4 verdict #2): the r04
   driver sweep silently dropped rel_sessionize (50 rows for 51
   registered queries) and nothing in-repo noticed.  These tests make
   the contract shape itself loudly checkable without Spark.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402


class TestDriverContractKeys:
    def test_every_oracle_has_a_query(self):
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        orphans = set(oracles) - set(qs)
        assert not orphans, (
            f"oracle_sql() keys with no queries() entry: {sorted(orphans)}"
        )

    def test_every_query_is_callable_and_every_oracle_nonempty(self):
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        assert all(callable(f) for f in qs.values())
        bad = [k for k, v in oracles.items()
               if not isinstance(v, str) or not v.strip()]
        assert not bad, f"empty/non-string oracle SQL for: {bad}"

    def test_rows_only_queries_are_the_known_set(self):
        """Queries WITHOUT a value oracle get only the driver's weaker
        rows-only check; that set must stay deliberate, not drift.
        (Currently every registered query is value-oracled.)"""
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        rows_only = sorted(set(qs) - set(oracles))
        assert rows_only == [], (
            f"queries missing a value oracle: {rows_only} — add an "
            "oracle_sql() entry or extend this pinned allowlist "
            "with a comment explaining why SQL can't express it"
        )

    def test_newest_correctness_rows_map_to_registered_queries(self):
        """Every row in the newest driver CORRECTNESS file must name a
        currently-registered query (stale rows mean a query was renamed
        or dropped without cleanup).  The inverse direction — registered
        queries absent from the file — is reported by
        scripts/verify_driver_contract.py as a NOTE because new queries
        legitimately have no row until the next driver round."""
        import glob
        import json
        files = sorted(glob.glob("/root/repo/CORRECTNESS_r*.json"))
        if not files:
            return
        with open(files[-1]) as f:
            rows = json.load(f)
        qs = entrymod.queries()
        stale = sorted(set(rows) - set(qs))
        assert not stale, (
            f"CORRECTNESS rows for unregistered queries: {stale}"
        )


# ---- substring expansion under the driver-side preload: gram-list
# intersection, not a linear `stem in t` scan over the dictionary
# (round-4 verdict #3, mirroring the suffix bisect fix of round 4) ----

class _CountingList(list):
    def __init__(self, it):
        super().__init__(it)
        self.accesses = 0

    def __getitem__(self, i):
        self.accesses += 1
        return super().__getitem__(i)


def test_substr_preload_grams_identical(spark, built_index):
    from oscar_spark.config import MAX_PREFIX_EXPAND
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    assert eng._term_sorted is not None, "preload expected at test scale"
    for stem in ("or", "ry", "he", "42", "ord", "ist", "zzzz", "a",
                 "wd00", "tor"):
        brute = sorted(t for t in eng._term_sorted
                       if stem in t)[:MAX_PREFIX_EXPAND]
        assert eng.expand_wild("substr", stem) == brute, stem


def test_substr_preload_no_full_scan(spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    assert eng._term_sorted is not None
    # force a fresh gram build against an instrumented dictionary: the
    # gram build iterates (no __getitem__); the query itself must only
    # index the candidate entries, nowhere near the dictionary size
    eng._term_sorted = _CountingList(eng._term_sorted)
    eng._term_grams = None
    got = eng.expand_wild("substr", "ord")
    n_terms = len(eng._term_sorted)
    # every candidate term is read twice (verify + yield); allow slack
    assert eng._term_sorted.accesses <= 4 * max(len(got), 1) + 8
    assert eng._term_sorted.accesses < n_terms // 4
    # absent gram short-circuits without touching the dictionary
    eng._term_sorted.accesses = 0
    assert eng.expand_wild("substr", "q#z") == []
    assert eng._term_sorted.accesses == 0


# ---- engine cold-start cache: the ≤2M-row terms preload is paid once
# per store snapshot, not once per SearchEngine instance (round-4
# verdict #6) ----

def test_engine_preload_cached_across_instances(spark, built_index):
    from oscar_spark.serve import executor as ex
    d, _ = built_index
    e1 = ex.SearchEngine(spark, d)
    e2 = ex.SearchEngine(spark, d)
    # same dict objects, not equal copies — the collect ran once
    assert e1._term_df is e2._term_df
    assert e1._term_sorted is e2._term_sorted
    # lazy mirrors built by one instance are visible to the next
    e1.expand_wild("suffix", "ory")
    e1.expand_wild("substr", "ord")
    e3 = ex.SearchEngine(spark, d)
    assert e3._term_sorted_rev is e1._term_sorted_rev
    assert e3._term_grams is e1._term_grams
    # results stay identical through the cache
    assert e3.search("the", k=5) == e1.search("the", k=5)


def test_engine_preload_cache_invalidated_by_commit(spark, tmp_path):
    """A new commit to the same path must NOT serve the old preload."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import pages_spark_df
    from oscar_spark.serve.executor import SearchEngine
    d = str(tmp_path / "idx")
    build_index(spark, pages_spark_df(spark, 60), d)
    e1 = SearchEngine(spark, d)
    n1 = len(e1._term_df)
    build_index(spark, pages_spark_df(spark, 120), d)
    e2 = SearchEngine(spark, d)
    assert e2._term_df is not e1._term_df
    assert len(e2._term_df) >= n1


# ---- 64-bit simhash (production default; round-4 verdict #4): two
# 32-bit halves keep it BIGINT/SQL-exact; banding must be pigeonhole-
# complete for the registered hamming threshold ----

SF1 = "/root/testdata/sf0.001"


def test_simhash64_matches_duckdb_oracle(spark):
    import duckdb
    from oscar_spark.operators import dedup
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF1}/documents.parquet'")
    s = dedup.simhash64(spark, SF1).toPandas()
    o = con.sql(dedup.simhash64_sql()).df()
    m = s.merge(o, on="doc_id", suffixes=("_s", "_o"))
    assert len(m) == len(s) == len(o)
    assert (m.sim_hi_s == m.sim_hi_o).all()
    assert (m.sim_lo_s == m.sim_lo_o).all()
    # halves are 32-bit non-negative (BIGINT-safe by construction)
    assert (s.sim_hi >= 0).all() and (s.sim_hi < (1 << 32)).all()
    assert (s.sim_lo >= 0).all() and (s.sim_lo < (1 << 32)).all()


def test_simhash64_band_pairs_complete_and_exact(spark):
    """The banded candidate join must find EXACTLY the pairs a brute
    all-pairs hamming scan finds at the registered threshold (banding
    is pigeonhole-complete for ham ≤ 3 with 4 bands; the exact-hamming
    verify removes band false positives)."""
    from oscar_spark.operators import dedup
    sim = dedup.simhash64(spark, SF1).toPandas()
    got = dedup.simhash64_pairs(spark, SF1).toPandas()
    rows = list(sim.itertuples(index=False))
    brute = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            h = (bin((a.sim_hi ^ b.sim_hi)).count("1")
                 + bin((a.sim_lo ^ b.sim_lo)).count("1"))
            if h <= dedup.SIMHASH64_MAX_HAM:
                lo, hi = sorted((a.doc_id, b.doc_id))
                brute.append((lo, hi, h))
    assert sorted(map(tuple, got.itertuples(index=False))) == \
        sorted(brute)
    assert len(brute) > 0, "fixture corpus should contain near-dups"


# ---- real media decode behind the FAKE_DECODE seam (round-4 verdict
# #5): the built-in PPM/WAV decoders run IN THIS CONTAINER and are
# value-checked; the fake fallback and driver rows stay pinned ----

def _ppm_bytes(arr):
    import numpy as np
    h, w, _ = arr.shape
    return b"P6\n# test comment\n%d %d\n255\n" % (w, h) \
        + arr.astype(np.uint8).tobytes()


def _wav_bytes(samples, rate=8000):
    import io
    import struct
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"".join(struct.pack("<h", int(s)) for s in samples))
    return buf.getvalue()


def test_real_decoders_roundtrip():
    import numpy as np
    from oscar_spark.operators import multimodal as mm
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    got = mm.decode_image(_ppm_bytes(img))
    assert got is not None and (got == img).all()
    samples = [0, 1000, -1000, 16384, -16384, 32767, -32768]
    s = mm.decode_audio(_wav_bytes(samples))
    assert s is not None
    assert np.allclose(s * 32768.0, samples)
    # junk payloads decode to None, never raise
    assert mm.decode_image(b"\x00\x01notanimage") is None
    assert mm.decode_audio(b"\x00\x01notaudio") is None


def test_extract_features_real_branch_through_spark(spark):
    import numpy as np
    from oscar_spark.operators import multimodal as mm
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(6, 8, 3), dtype=np.uint8)
    wav = _wav_bytes([0, 8192, -8192, 32767])
    junk = b"undecodable payload"
    rows = [(0, "image", bytearray(_ppm_bytes(img)), 8, 6, 0),
            (1, "audio", bytearray(wav), 0, 0, 500),
            (2, "image", bytearray(junk), 0, 0, 0)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in
           mm.extract_features(media, fake=False).collect()}
    # image row: real pixel statistics
    f = out[0]["feat"]
    assert f[0] == 6.0 and f[1] == 8.0
    exp_rgb = img.reshape(-1, 3).mean(axis=0) / 255.0
    assert np.allclose(f[2:5], exp_rgb)
    # audio row: real sample statistics (count, rms)
    s = np.array([0, 8192, -8192, 32767]) / 32768.0
    fa = out[1]["feat"]
    assert fa[0] == 4.0
    assert abs(fa[4] - float(np.sqrt(np.mean(s ** 2)))) < 1e-9
    # junk row: per-row fake fallback, same value the fake path gives
    fake = {r["media_id"]: r for r in
            mm.extract_features(media, fake=True).collect()}
    assert out[2]["feat"] == fake[2]["feat"]
    # digests/sizes identical across modes (decode never changes them)
    for k in (0, 1, 2):
        assert out[k]["digest"] == fake[k]["digest"]
        assert out[k]["n_bytes"] == fake[k]["n_bytes"]


def test_media_thumbnails_real_resize(spark):
    import numpy as np
    from oscar_spark.operators import multimodal as mm
    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, size=(32, 24, 3), dtype=np.uint8)
    rows = [(0, "image", bytearray(_ppm_bytes(img)), 24, 32, 0),
            (1, "image", bytearray(b"junk"), 0, 0, 0),
            (2, "audio", bytearray(b"RIFFxxxx"), 0, 0, 100)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.media_thumbnails(media, tw=8, th=8).collect()
    assert [r["media_id"] for r in out] == [0]  # undecodable dropped
    t = mm.decode_image(bytes(out[0]["thumb"]))
    assert t.shape == (8, 8, 3)
    assert (t == mm.resize_nn(img, 8, 8)).all()


# ---- batch serve (round-4 verdict #8): search_many must equal
# per-query search() exactly while sharing one fetch job for the
# driver-local-eligible queries ----

def test_search_many_matches_sequential(spark, built_index):
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    queries = ["the", "of and", "city + state", "time - year",
               "house ^ music", "war history world", '"north south"',
               "wd0042", "nosuchterm", "((", "ci* + history"]
    batch = eng.search_many(queries, k=10)
    seq = [eng.search(q, k=10) for q in queries]
    assert batch == seq


def test_search_many_single_fetch_job(spark, built_index):
    """All eligible queries share ONE block-fetch collect: count the
    Spark jobs a pure-eligible batch triggers via a job group."""
    from oscar_spark.serve.executor import SearchEngine
    d, _ = built_index
    eng = SearchEngine(spark, d)
    queries = ["the", "of and", "city state", "war history"]
    eng.search_many(queries, k=5)  # warm any lazy init + block cache
    sc = spark.sparkContext
    # r06: a fully warm batch is CACHE-resident — zero fetch jobs
    sc.setJobGroup("batchjob", "search_many job count")
    batch = eng.search_many(queries, k=5)
    sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("batchjob")
    assert len(jobs) == 0, f"expected 0 jobs on warm batch, got {jobs}"
    # cold block cache: every eligible query still shares ONE fetch job
    eng._block_cache.clear()
    eng._block_cache_bytes = 0
    sc.setJobGroup("batchjob2", "search_many cold job count")
    batch2 = eng.search_many(queries, k=5)
    sc.setJobGroup(None, None)
    jobs2 = sc.statusTracker().getJobIdsForGroup("batchjob2")
    assert len(jobs2) == 1, f"expected 1 shared fetch job, got {jobs2}"
    assert batch == batch2 == [eng.search(q, k=5) for q in queries]
