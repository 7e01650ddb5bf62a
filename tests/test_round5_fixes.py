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
