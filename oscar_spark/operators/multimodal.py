"""Multimodal columns: opaque binary payloads + typed metadata, with a
REAL decode path and a deterministic fake behind one seam.

Decode tiers (decode_image / decode_audio, no media libs required):
Pillow when importable → built-in binary-PPM (P6) parser (numpy) for
images and stdlib-`wave` WAV for audio → per-row deterministic fake
fallback.  The PPM/WAV decoders RUN AND ARE VALUE-TESTED in this
container (tests/test_round5_fixes.py); the driver-contract rows pin
`fake=True` because their synthetic payloads are hash bytes and the
fake keeps every feature reconstructible in the DuckDB oracle.  The
Spark side is the same either way: binary columns ride Parquet
untouched, mapInPandas decodes per Arrow batch (memory bounded by
spark.sql.files.maxPartitionBytes), thumbnails re-encode to binary.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oscar_spark.functions.worker import worker_init

FAKE_DECODE = True  # default for the DRIVER rows: the synthetic media
# table's payloads are hash bytes, not decodable media, and the fake
# keeps the features reconstructible in pure SQL.  extract_features(
# media, fake=False) takes the REAL decode path: Pillow when
# importable, else the built-in decoders below (P6 PPM via numpy, WAV
# via stdlib wave) — both run and are value-tested in this container —
# with the deterministic fake as the per-row fallback for payloads no
# decoder accepts.

MEDIA_SCHEMA = ("media_id long, kind string, payload binary, "
                "width int, height int, duration_ms int")
FEATURE_SCHEMA = ("media_id long, kind string, n_bytes long, "
                  "digest string, feat array<double>")


# ---- real decoders (no external media libs required) ----

def decode_image(b: bytes) -> np.ndarray | None:
    """bytes → HxWx3 uint8, or None if no decoder accepts the payload.

    Pillow first (any format it knows); else a built-in binary-PPM (P6)
    parser — header is ASCII width/height/maxval with #-comments, pixel
    data is raw RGB, so numpy decodes it without any media library."""
    try:  # pragma: no cover - exercised only where Pillow is installed
        import io
        from PIL import Image
        return np.asarray(Image.open(io.BytesIO(b)).convert("RGB"),
                          dtype=np.uint8)
    except ImportError:
        pass
    except Exception:
        return None
    if b[:2] != b"P6":
        return None
    try:
        toks: list[int] = []
        i = 2
        while len(toks) < 3:
            while i < len(b) and b[i:i + 1].isspace():
                i += 1
            if b[i:i + 1] == b"#":
                while i < len(b) and b[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < len(b) and not b[j:j + 1].isspace():
                j += 1
            toks.append(int(b[i:j]))
            i = j
        i += 1  # exactly one whitespace byte after maxval
        w, h, maxval = toks
        if maxval != 255 or w <= 0 or h <= 0:
            return None
        return np.frombuffer(b, dtype=np.uint8, count=w * h * 3,
                             offset=i).reshape(h, w, 3).copy()
    except Exception:
        return None


def decode_audio(b: bytes) -> np.ndarray | None:
    """WAV bytes → mono float64 samples in [-1, 1], or None."""
    if b[:4] != b"RIFF":
        return None
    import io
    import wave
    try:
        with wave.open(io.BytesIO(b)) as w:
            ch = w.getnchannels()
            sw = w.getsampwidth()
            raw = w.readframes(w.getnframes())
        dt = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sw)
        if dt is None:
            return None
        arr = np.frombuffer(raw, dtype=dt).astype(np.float64)
        if sw == 1:
            arr -= 128.0
        return (arr / float(1 << (8 * sw - 1))).reshape(-1, ch) \
            .mean(axis=1)
    except Exception:
        return None


def resize_nn(arr: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Nearest-neighbor resize of an HxWxC uint8 array (numpy index
    gather — the vectorized per-batch kernel a thumbnail pipeline
    runs inside mapInPandas)."""
    h, w = arr.shape[:2]
    yi = np.minimum((np.arange(th) * h) // th, h - 1)
    xi = np.minimum((np.arange(tw) * w) // tw, w - 1)
    return arr[yi][:, xi]


def real_feature(kind: str, b: bytes) -> list[float] | None:
    """8-dim feature vector from REAL decoded content; None when no
    decoder accepts the payload (caller falls back to the fake)."""
    if kind == "image":
        arr = decode_image(b)
        if arr is None:
            return None
        h, w, _ = arr.shape
        rgb = arr.reshape(-1, 3).mean(axis=0) / 255.0
        gray = arr.mean(axis=2)
        return [float(h), float(w), float(rgb[0]), float(rgb[1]),
                float(rgb[2]), float(gray.mean() / 255.0),
                float(gray.std() / 255.0),
                float((arr[..., 0] > 127).mean())]
    if kind == "audio":
        s = decode_audio(b)
        if s is None or not len(s):
            return None
        zc = float(np.mean(np.signbit(s[1:]) != np.signbit(s[:-1]))) \
            if len(s) > 1 else 0.0
        return [float(len(s)), float(s.mean()), float(s.std()),
                float(np.abs(s).max()),
                float(np.sqrt(np.mean(s ** 2))), zc,
                float(s.min()), float(s.max())]
    return None


def synth_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake media table (binary payload + typed metadata)."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = hashlib.sha256(f"media{i}".encode()).digest() * (1 + i % 4)
        rows.append((i, kind, bytearray(payload),
                     64 + i % 128, 64 + (i * 7) % 128, 1000 * (1 + i % 30)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _decode_features(pdf: pd.DataFrame,
                     fake: bool | None = None) -> pd.DataFrame:
    """Per-batch decode + feature extraction.

    fake=True (the driver-row default via FAKE_DECODE) derives the
    8-dim feature deterministically from payload bytes, keeping the
    whole pipeline reconstructible in SQL.  fake=False runs the REAL
    decoders (Pillow / built-in PPM / stdlib WAV) and falls back to
    the fake feature per row when no decoder accepts the payload —
    the production behavior for mixed-quality web media.
    """
    if fake is None:
        fake = FAKE_DECODE
    feats, digests, sizes = [], [], []
    for kind, payload in zip(pdf["kind"], pdf["payload"]):
        b = bytes(payload)
        hx = b.hex()  # canonical text encoding: SQL oracles can hash it
        digests.append(hashlib.md5(hx.encode()).hexdigest())
        sizes.append(len(b))
        f = None if fake else real_feature(kind, b)
        if f is None:
            arr = np.frombuffer(
                hashlib.sha256(hx.encode()).digest()[:8], dtype=np.uint8
            ).astype(np.float64)
            f = (arr / 255.0).tolist()
        feats.append(f)
    return pd.DataFrame({
        "media_id": pdf["media_id"], "kind": pdf["kind"],
        "n_bytes": pd.array(sizes, dtype="int64"),
        "digest": digests, "feat": feats})


def extract_features(media: DataFrame,
                     fake: bool | None = None) -> DataFrame:
    """mapInPandas decode/feature pipeline over the binary column.
    fake=None → module default FAKE_DECODE (the SQL-oracled driver
    path); fake=False → real decode with per-row fake fallback."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_init()
        for pdf in batches:
            yield _decode_features(pdf, fake)
    return media.mapInPandas(gen, FEATURE_SCHEMA)


THUMB_SCHEMA = "media_id long, thumb_w int, thumb_h int, thumb binary"


def media_thumbnails(media: DataFrame, tw: int = 16,
                     th: int = 16) -> DataFrame:
    """Thumbnail pipeline over decodable images: decode → nearest-
    neighbor resize → re-encode as binary P6 PPM.  Rows whose payload
    no decoder accepts are dropped (a curation pipeline quarantines
    them instead of inventing pixels).  Same mapInPandas shape as
    extract_features — binary in, binary out, bounded per-batch
    memory."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_init()
        for pdf in batches:
            ids, blobs = [], []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                if kind != "image":
                    continue
                arr = decode_image(bytes(payload))
                if arr is None:
                    continue
                t = resize_nn(arr, tw, th)
                blobs.append(b"P6\n%d %d\n255\n" % (tw, th)
                             + t.astype(np.uint8).tobytes())
                ids.append(int(mid))
            yield pd.DataFrame({
                "media_id": pd.array(ids, dtype="int64"),
                "thumb_w": pd.array([tw] * len(ids), dtype="int32"),
                "thumb_h": pd.array([th] * len(ids), dtype="int32"),
                "thumb": blobs})
    return media.mapInPandas(gen, THUMB_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 5000) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled timestamp
    (pure built-ins — sequence/explode; the decode of each frame would
    plug into extract_features)."""
    vids = media.filter(F.col("kind") == "video")
    ts = F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
    return (vids.select("media_id", F.explode(ts).alias("frame_ms"))
            .orderBy("media_id", "frame_ms"))


# ---- driver-contract wrappers (full DuckDB value oracles: the fake
# media table and the fake decode are both reconstructible in pure SQL,
# so even the stubbed decode path gets a value-checked oracle rather
# than a rows-only check) ----

N_MEDIA_Q = 64


def media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_features over the deterministic media table, feat array
    flattened to scalar columns so the oracle hash compares values."""
    out = extract_features(synth_media(spark, N_MEDIA_Q))
    cols = [F.col("feat")[j].alias(f"f{j}") for j in range(8)]
    return out.select("media_id", "kind", "n_bytes", "digest", *cols)


def frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample(synth_media(spark, N_MEDIA_Q), every_ms=5000)


_MEDIA_CTE = (
    "WITH m AS (SELECT i AS media_id, "
    "CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
    " AS kind, lower(repeat(sha256('media'||i), 1 + i % 4)) AS hx, "
    "1000 * (1 + i % 30) AS duration_ms "
    f"FROM range({N_MEDIA_Q}) t(i))"
)

_FEAT_COLS_SQL = ", ".join(
    f"CAST(('0x'||substr(sha256(hx), {1 + 2 * j}, 2)) AS INT)/255.0 AS f{j}"
    for j in range(8))

MEDIA_FEATURES_SQL = (
    _MEDIA_CTE + " SELECT media_id, kind, CAST(length(hx)/2 AS BIGINT) AS"
    " n_bytes, md5(hx) AS digest, " + _FEAT_COLS_SQL + " FROM m")

FRAME_SAMPLE_SQL = (
    _MEDIA_CTE + " SELECT media_id, CAST(f.frame_ms AS INT) AS frame_ms"
    " FROM m, unnest(generate_series(0, duration_ms, 5000)) AS f(frame_ms)"
    " WHERE kind = 'video'")
