"""Python mirror of Spark's `hash()` (Murmur3 x86-32, seed 42) for strings
and ints.

Needed so the serve path can compute a term's bucket partition
(pmod(hash(term), NUM_TERM_BUCKETS)) driver-side without launching a
Spark job per query term, and so the build can pick int keys that
`repartition(n, key)` (hash partitioning, the same pmod(hash, n)) sends
to chosen partitions.  Murmur3 is a public-domain algorithm; the
tail handling here matches Spark's hashUnsafeBytes (whole little-endian
int words, then each remaining byte mixed individually as a signed int),
which differs from reference murmur3 tails.  Parity with `F.hash()` is
asserted in tests.
"""

from __future__ import annotations

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = _rotl(k1, 15)
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def spark_hash_string(s: str, seed: int = 42) -> int:
    """= Spark SQL hash(s) for a StringType column (signed int32)."""
    data = s.encode("utf-8")
    n = len(data)
    h1 = seed & _M32
    n_words = n // 4
    for i in range(n_words):
        k1 = int.from_bytes(data[4 * i:4 * i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(k1))
    for i in range(4 * n_words, n):
        b = data[i]
        if b >= 128:  # signed byte, sign-extended to int32
            b -= 256
        h1 = _mix_h1(h1, _mix_k1(b & _M32))
    out = _fmix(h1, n)
    return out - (1 << 32) if out >= (1 << 31) else out


def term_bucket(term: str, n_buckets: int) -> int:
    """= pmod(hash(term), n_buckets) in Spark SQL."""
    return spark_hash_string(term) % n_buckets


def spark_hash_int(v: int, seed: int = 42) -> int:
    """= Spark SQL hash(v) for an IntegerType value (signed int32)."""
    out = _fmix(_mix_h1(seed & _M32, _mix_k1(v & _M32)), 4)
    return out - (1 << 32) if out >= (1 << 31) else out


def partition_keys(n: int) -> list[int]:
    """keys[i] = the smallest int k ≥ 0 with pmod(hash(k), n) == i, so
    `repartition(n, <int column holding keys[i]>)` puts the row in
    shuffle partition i."""
    keys: list[int | None] = [None] * n
    left, k = n, 0
    while left:
        p = spark_hash_int(k) % n
        if keys[p] is None:
            keys[p] = k
            left -= 1
        k += 1
    return keys
