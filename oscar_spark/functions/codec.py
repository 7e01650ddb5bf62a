"""Vectorized varint / delta posting-block codec (numpy, no per-row Python).

The in-payload codec is ours by mandate (BASELINE.json: "docID-delta +
varint/PForDelta block compression"); Parquet only stores the opaque
binary column.  Mirrors the role of oscar's ItemIndex codecs
(rlede/varint: reference/oscar-create/sampleConfig.json:12-16, RLEStream &
zig-zag varint payload writers at
reference/oscar-create/CellTextCompleter.cpp:227-243) without copying any
of their layouts.

Payload layout of a posting block (see build/indexer.py):
    1 flag byte, then a varint (or pfor) value stream:
      flag 0 (explicit ids), 3*n values:
        [0]        first doc-id delta (first_doc - range_base)
        [1:n+1)    term frequencies (tf)
        [n+1:2n+1) document lengths (dl, in tokens)
        [2n+1:3n)  remaining doc-id deltas (ids[1:] - ids[:-1])
      flag 1 (DENSE ids — the block's ids are consecutive), 2*n+1 values:
        [0]        first doc-id delta
        [1:n+1)    tf
        [n+1:2n+1) dl
        doc ids reconstruct as range_base + delta0 + arange(n).
n (doc_count) lives in the block's metadata columns, not the payload.

The dense form is the analog of oscar's fully-matched-cell elision
(reference/oscar-create/CellTextCompleter.cpp:66-69, payload split
CellTextCompleter.h:457-473): a head term matching every doc of a
docID range (stopwords over quality-sorted ids do this constantly)
stores no per-posting id information at all — at web scale that is the
difference between ~10^12 explicit deltas and a flag per range.  tf/dl
still encode (BM25 needs them), unlike the reference's boolean cells.

Both encode and decode are O(max_bytes_per_value) numpy passes — at most
10 vector ops over the whole stream, never a Python loop over values.
"""

from __future__ import annotations

import numpy as np

_SEVEN = np.uint64(7)
_MASK7 = np.uint64(0x7F)
_MAX_VARINT_BYTES = 10  # 64 bits / 7


def varint_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a 1-D array; also return the per-value byte OFFSETS
    (length n+1, offsets[i]:offsets[i+1] is value i's byte span) so a
    caller that packed many blocks into one stream can slice them back
    out without re-encoding per block."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    n = arr.shape[0]
    if n == 0:
        return b"", np.zeros(1, dtype=np.int64)
    # byte length of each value: 1 + floor(bitlen/7) for bitlen > 0
    nbytes = np.ones(n, dtype=np.int64)
    shifted = arr >> _SEVEN
    while shifted.any():
        nbytes += shifted > 0
        shifted = shifted >> _SEVEN
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for j in range(_MAX_VARINT_BYTES):
        mask = nbytes > j
        if not mask.any():
            break
        vals = (arr[mask] >> np.uint64(7 * j)) & _MASK7
        cont = ((nbytes[mask] > j + 1).astype(np.uint8)) << 7
        out[offsets[:-1][mask] + j] = vals.astype(np.uint8) | cont
    return out.tobytes(), offsets


def varint_encode(values: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative ints as a LEB128 varint stream."""
    return varint_encode_with_offsets(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 varint stream into a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.shape[0], dtype=np.uint64)
    for j in range(int(lengths.max())):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j] & _MASK7).astype(np.uint64) << np.uint64(7 * j)
    return vals


FLAG_EXPLICIT = 0
FLAG_DENSE = 1


def _block_stream(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  range_base: int) -> tuple[int, np.ndarray]:
    """→ (flag, value stream) for one block in payload order."""
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    n = len(doc_ids)
    deltas = np.empty_like(doc_ids)
    deltas[0] = doc_ids[0] - range_base
    np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    if (deltas[1:] <= 0).any():
        raise ValueError("doc_ids must be strictly increasing within a block")
    head = [deltas[:1].astype(np.uint64),
            np.ascontiguousarray(tfs, dtype=np.uint64),
            np.ascontiguousarray(dls, dtype=np.uint64)]
    if doc_ids[-1] - doc_ids[0] + 1 == n:  # consecutive ids: elide deltas
        return FLAG_DENSE, np.concatenate(head)
    return FLAG_EXPLICIT, np.concatenate(head + [deltas[1:].astype(np.uint64)])


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                 range_base: int) -> bytes:
    """Delta-encode sorted doc_ids and pack (delta0, tfs, dls[, deltas])
    as one flag-prefixed stream (dense form when ids are consecutive)."""
    flag, stream = _block_stream(doc_ids, tfs, dls, range_base)
    return bytes([flag]) + varint_encode(stream)


def encode_runs(terms: np.ndarray, rngs: np.ndarray, ids: np.ndarray,
                tfs: np.ndarray, dls: np.ndarray,
                block_size: int, range_size: int,
                codec: str = "varint", positions=None) -> dict:
    """Encode a (term, range_id, doc_id)-sorted run of postings into
    blocks in ONE vectorized pass over the whole run.

    Byte-identical to calling encode_block per block (varint is
    per-value independent, so one big encoded stream sliced at block
    boundaries equals per-block encodes) but ~50× fewer numpy/Python
    call dispatches: per-block work is reduced to a bytes slice.
    Block metadata (max_tf, min_dl) comes from ufunc.reduceat.

    positions: optional flat array of every posting's occurrence
    positions (see encode_position_runs) → adds a pos_payload column.

    Returns a dict of column arrays (term, range_id, first_doc,
    last_doc, doc_count, max_tf, min_dl, payload[, pos_payload]).
    """
    n = len(ids)
    if n == 0:
        out = {"term": [], "range_id": [], "first_doc": [],
               "last_doc": [], "doc_count": [], "max_tf": [],
               "min_dl": [], "payload": []}
        if positions is not None:
            out["pos_payload"] = []
        return out
    ids = np.ascontiguousarray(ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    rngs = np.ascontiguousarray(rngs, dtype=np.int64)
    # (term, range) group boundaries
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(terms[1:], terms[:-1], out=change[1:])
    change[1:] |= rngs[1:] != rngs[:-1]
    gstarts = np.flatnonzero(change)
    glens = np.diff(np.append(gstarts, n))
    # block boundaries: every block_size rows within a group
    goff = np.arange(n, dtype=np.int64) - np.repeat(gstarts, glens)
    bmask = (goff % block_size) == 0
    bstarts = np.flatnonzero(bmask)
    bends = np.append(bstarts[1:], n)
    counts = (bends - bstarts).astype(np.int64)
    # doc-id deltas, reset to range_base at each block start
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = 1  # placeholder, overwritten below (bmask[0] is True)
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    if ((deltas <= 0) & ~bmask).any():
        raise ValueError(
            "doc_ids must be strictly increasing within a block — equal "
            "ids usually mean the SAME url appeared on multiple input "
            "rows of one build (url is the document key: a full build "
            "requires one row per url; re-crawls belong in separate "
            "append drops, where the committed-url anti-join dedups them)")
    deltas[bstarts] = ids[bstarts] - rngs[bstarts] * range_size
    # permute values into per-block [delta0 | tfs | dls | deltas[1:]]
    # stream order — tf/dl first so a DENSE block (consecutive ids, the
    # head-term/stopword case) is a contiguous PREFIX of its section and
    # the trailing deltas are simply not sliced into the payload
    boff = np.arange(n, dtype=np.int64) - np.repeat(bstarts, counts)
    base3 = np.repeat(3 * bstarts, counts)
    cnt_r = np.repeat(counts, counts)
    stream = np.empty(3 * n, dtype=np.uint64)
    stream[np.where(boff == 0, base3, base3 + 2 * cnt_r + boff)] = \
        deltas.astype(np.uint64)
    stream[base3 + 1 + boff] = tfs.astype(np.uint64)
    stream[base3 + 1 + cnt_r + boff] = dls.astype(np.uint64)
    dense = (ids[bends - 1] - ids[bstarts] + 1) == counts
    # values per block: 2c+1 when dense (deltas elided), 3c otherwise
    v_end = 3 * bstarts + np.where(dense, 2 * counts + 1, 3 * counts)
    flags = np.where(dense, FLAG_DENSE, FLAG_EXPLICIT).astype(np.uint8)
    if codec == "pfor":
        # flagged variant: per-block patched frame-of-reference over the
        # same permuted stream (smaller payloads, slower encode)
        payloads = [bytes([f]) + pfor_encode(stream[3 * s:e])
                    for f, s, e in zip(flags.tolist(), bstarts.tolist(),
                                       v_end.tolist())]
    else:
        raw, offs = varint_encode_with_offsets(stream)
        bs = offs[3 * bstarts].tolist()
        be = offs[v_end].tolist()
        payloads = [bytes([f]) + raw[s:e]
                    for f, s, e in zip(flags.tolist(), bs, be)]
    out = {
        "term": terms[bstarts],
        "range_id": rngs[bstarts],
        "first_doc": ids[bstarts],
        "last_doc": ids[bends - 1],
        "doc_count": counts.astype(np.int32),
        "max_tf": np.maximum.reduceat(tfs, bstarts).astype(np.int32),
        "min_dl": np.minimum.reduceat(dls, bstarts).astype(np.int32),
        "payload": payloads,
    }
    if positions is not None:
        out["pos_payload"] = encode_position_runs(
            positions, tfs, bstarts, bends)
    return out


def encode_position_runs(positions: np.ndarray, tfs: np.ndarray,
                         bstarts: np.ndarray,
                         bends: np.ndarray) -> list[bytes]:
    """Flat position array (every posting's positions, in posting order;
    posting i owns tfs[i] of them) → per-block varint payloads for the
    positional SIDE stream (pos_payload column; the main payload format
    is untouched, so positional and plain indexes share one decoder).

    Layout per block: positions of its postings in posting order, each
    posting's list gap-encoded (first position absolute, then deltas);
    per-posting value counts are the tfs from the main payload, so no
    lengths are stored.  One varint_encode pass over the whole run,
    sliced at block boundaries — the same single-pass shape as
    encode_runs."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    flat = np.ascontiguousarray(positions, dtype=np.int64)
    if flat.shape[0] != int(tfs.sum()):
        raise ValueError("positions/tf length mismatch")
    pstarts = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=pstarts[1:])
    gaps = np.empty_like(flat)
    if len(flat):
        gaps[0] = flat[0]
        np.subtract(flat[1:], flat[:-1], out=gaps[1:])
        starts_idx = pstarts[:-1][tfs > 0]
        gaps[starts_idx] = flat[starts_idx]
    raw, offs = varint_encode_with_offsets(gaps.astype(np.uint64))
    bs = offs[pstarts[bstarts]].tolist()
    be = offs[pstarts[bends]].tolist()
    return [raw[s:e] for s, e in zip(bs, be)]


def decode_position_block(buf: bytes, tfs: np.ndarray):
    """Inverse of one encode_position_runs slice → (flat positions
    int64, offsets int64[len(tfs)+1]); posting i's positions are
    flat[offsets[i]:offsets[i+1]] (strictly increasing)."""
    gaps = varint_decode(buf).astype(np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    offs = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=offs[1:])
    if gaps.shape[0] != offs[-1]:
        raise ValueError(
            f"corrupt position block: {gaps.shape[0]} values for "
            f"sum(tf)={offs[-1]}")
    c = np.cumsum(gaps)
    # segmented cumsum: subtract, for every value, the running sum
    # accumulated BEFORE its posting's first value
    base = c[offs[:-1]] - gaps[offs[:-1]] if len(gaps) else c
    flat = c - np.repeat(base, tfs)
    return flat, offs


def _stream_to_block(stream: np.ndarray, flag: int, doc_count: int,
                     range_base: int):
    """Shared flag-dispatch: value stream → (doc_ids, tfs, dls)."""
    n = doc_count
    if flag == FLAG_DENSE:
        if stream.shape[0] != 2 * n + 1:
            raise ValueError(
                f"corrupt dense block: {stream.shape[0]} values for "
                f"doc_count={n}")
        first = int(stream[0]) + range_base
        doc_ids = np.arange(first, first + n, dtype=np.int64)
    elif flag == FLAG_EXPLICIT:
        if stream.shape[0] != 3 * n:
            raise ValueError(
                f"corrupt block: {stream.shape[0]} values for doc_count={n}")
        deltas = np.empty(n, dtype=np.int64)
        deltas[0] = stream[0]
        deltas[1:] = stream[2 * n + 1:].astype(np.int64)
        doc_ids = np.cumsum(deltas) + range_base
    else:
        raise ValueError(f"unknown block flag {flag}")
    tfs = stream[1:n + 1].astype(np.int64)
    dls = stream[n + 1:2 * n + 1].astype(np.int64)
    return doc_ids, tfs, dls


def decode_block(payload: bytes, doc_count: int, range_base: int):
    """Inverse of encode_block → (doc_ids:int64, tfs:int64, dls:int64)."""
    return _stream_to_block(varint_decode(payload[1:]), payload[0],
                            doc_count, range_base)


# ---- PForDelta codec variant ----
# The reference ships pluggable posting codecs selected per build
# (rlede / eliasfano / wah / native, reference/data/configs/oscar-create/
# index_*.json); our analog is varint (default) vs PForDelta, selected
# per build (build_index(codec=...)) and recorded in the store manifest.
#
# PFor layout per block payload:
#   [1B bit width b][varint n_total][varint n_exceptions]
#   [bit-packed low b bits of all values, little-endian within value]
#   [varint exception positions (delta-coded)][varint exception high bits]
# Values with high bits beyond b are "exceptions": their low b bits stay
# in the packed array, the remainder (value >> b) goes to the exception
# stream — the classic patched frame-of-reference.

def _pack_bits(vals: np.ndarray, b: int) -> bytes:
    if b == 0:
        return b""
    bits = ((vals[:, None] >> np.arange(b, dtype=np.uint64)) &
            np.uint64(1)).astype(np.uint8)
    return np.packbits(bits, bitorder="little").tobytes()


def _unpack_bits(buf: bytes, n: int, b: int) -> np.ndarray:
    if b == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8),
                         count=n * b, bitorder="little")
    w = (np.uint64(1) << np.arange(b, dtype=np.uint64))
    return (bits.reshape(n, b).astype(np.uint64) * w).sum(
        axis=1, dtype=np.uint64)


def pfor_encode(values: np.ndarray) -> bytes:
    """Patched frame-of-reference encode of a value stream (uint64)."""
    vals = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return bytes([0]) + varint_encode(np.array([0, 0], dtype=np.uint64))
    widths = np.zeros(n, dtype=np.int64)
    nz = vals > 0
    widths[nz] = np.floor(np.log2(vals[nz].astype(np.float64))).astype(
        np.int64) + 1
    # b at the 90th percentile width: ≤10% exceptions
    b = int(np.percentile(widths, 90))
    b = max(b, 1)
    exc_mask = widths > b
    exc_pos = np.flatnonzero(exc_mask).astype(np.uint64)
    exc_high = vals[exc_mask] >> np.uint64(b)
    low = vals & ((np.uint64(1) << np.uint64(b)) - np.uint64(1))
    pos_delta = np.diff(exc_pos, prepend=np.uint64(0)) if len(exc_pos) \
        else exc_pos
    head = varint_encode(np.array([n, len(exc_pos)], dtype=np.uint64))
    return (bytes([b]) + head + _pack_bits(low, b) +
            varint_encode(pos_delta) + varint_encode(exc_high))


def pfor_decode(buf: bytes) -> np.ndarray:
    b = buf[0]
    # read the two header varints byte-by-byte
    i = 1
    n = 0
    shift = 0
    while True:
        c = buf[i]; i += 1
        n |= (c & 0x7F) << shift
        shift += 7
        if not c & 0x80:
            break
    n_exc = 0
    shift = 0
    while True:
        c = buf[i]; i += 1
        n_exc |= (c & 0x7F) << shift
        shift += 7
        if not c & 0x80:
            break
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    packed_len = (n * b + 7) // 8
    vals = _unpack_bits(buf[i:i + packed_len], n, b)
    i += packed_len
    if n_exc:
        tail = varint_decode(buf[i:])
        pos = np.cumsum(tail[:n_exc])
        high = tail[n_exc:n_exc + n_exc]
        vals[pos.astype(np.int64)] |= high << np.uint64(b)
    return vals


def pfor_encode_block(doc_ids: np.ndarray, tfs: np.ndarray,
                      dls: np.ndarray, range_base: int) -> bytes:
    """PForDelta twin of encode_block (same value stream layout)."""
    flag, stream = _block_stream(doc_ids, tfs, dls, range_base)
    return bytes([flag]) + pfor_encode(stream)


def pfor_decode_block(payload: bytes, doc_count: int, range_base: int):
    return _stream_to_block(pfor_decode(payload[1:]), payload[0],
                            doc_count, range_base)


# current payload format (the flag-byte layout documented above).
# Recorded in the store manifest at build time; store_decoder() refuses
# a store whose recorded format differs, so a payload layout change can
# never be decoded with the wrong decoder.
PAYLOAD_FORMAT = 2

BLOCK_DECODERS = {"varint": decode_block, "pfor": pfor_decode_block}


def block_decoder(codec: str):
    if codec not in BLOCK_DECODERS:
        raise ValueError(f"unknown posting codec {codec!r}; expected one "
                         f"of {sorted(BLOCK_DECODERS)}")
    return BLOCK_DECODERS[codec]


def store_decoder(meta: dict):
    """Store manifest meta → the block decoder for its payloads.  Every
    build, append, compaction and stream ingest records codec and
    payload_format; a store without them (or with another format) is
    rejected rather than guessed at.  So is a store in the retired
    payload-dedup layout, whose postings hold an md5 ref where the
    payload bytes belong."""
    if meta.get("payload_dedup"):
        raise ValueError(
            "store uses the payload-dedup layout (payloads in a side "
            "table), which is no longer read; rebuild the index")
    fmt = meta.get("payload_format")
    if fmt != PAYLOAD_FORMAT:
        raise ValueError(
            f"store payload format {fmt!r} is not the current format "
            f"{PAYLOAD_FORMAT}; rebuild the index")
    return block_decoder(meta.get("codec"))
