"""Vectorized bit-exact XXH64 (Spark ``xxhash64`` parity) in numpy.

Spark's ``xxhash64(col, ...)`` evaluates the standard XXH64 algorithm
(Yann Collet; public spec at https://github.com/Cyan4973/xxHash) over
each input in sequence, threading the running hash as the next seed and
starting from seed 42:

* string input → ``hashBytes(utf8, seed)`` — the full byte algorithm;
* long input   → ``hashLong(value, seed)`` — the fixed 8-byte path.

The dedup operators call ``xxhash64(token_or_shingle, lit(seed))``, i.e.
one string hash with seed 42 chained into one long hash. Evaluating that
chain per element through Catalyst's *interpreted* higher-order lambdas
measured ~0.3-0.5 µs of expression overhead per call — ×(shingles ×
permutations) per document it dominates the MinHash/SimHash maps. Here
the same bits come out of numpy, and the strings are never Python
objects: ``xxh64_spans`` hashes byte spans ``(start, length)`` of one
UTF-8 buffer (a batch's tokens or k-grams), bucketed by length so each
bucket is a dense ``[m, L]`` uint8 gather processed with fixed control
flow (stripes / 8-byte / 4-byte / tail reads at static offsets).
``xxh64_strings`` is the same body behind an encode-and-join of a
string list. The int chain is pure uint64 vector arithmetic;
``xxh64_int_chain`` runs it in place for one seed vector and many
values (the MinHash permutations).

Bit-parity with Spark is pinned by tests/test_xxh64.py over lengths
0..100, unicode, and the chained form.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SPARK_SEED = np.uint64(42)
_MASK64 = (1 << 64) - 1


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    h = h ^ (h >> np.uint64(32))
    return h


def _round(acc, k1):
    acc = acc + k1 * _P2
    acc = _rotl(acc, 31)
    return acc * _P1


def _merge_round(h, v):
    h = h ^ _round(np.uint64(0), v)
    return h * _P1 + _P4


def _read_u64(M: np.ndarray, off: int) -> np.ndarray:
    return np.ascontiguousarray(M[:, off:off + 8]).view("<u8").ravel()


def _read_u32(M: np.ndarray, off: int) -> np.ndarray:
    return (np.ascontiguousarray(M[:, off:off + 4]).view("<u4").ravel()
            .astype(np.uint64))


def xxh64_fixed(M: np.ndarray, seed) -> np.ndarray:
    """XXH64 of each row of a dense ``[m, L]`` uint8 matrix.

    ``seed`` is a scalar or an ``[m]`` uint64 vector (the chained case).
    """
    m, L = M.shape
    with np.errstate(over="ignore"):  # uint64 wrap IS the algorithm
        seed = np.asarray(seed, dtype=np.uint64)
        if seed.ndim == 0:
            seed = np.full(m, seed, dtype=np.uint64)
        pos = 0
        if L >= 32:
            v1 = seed + _P1 + _P2
            v2 = seed + _P2
            v3 = seed.copy()
            v4 = seed - _P1
            while pos + 32 <= L:
                v1 = _round(v1, _read_u64(M, pos))
                v2 = _round(v2, _read_u64(M, pos + 8))
                v3 = _round(v3, _read_u64(M, pos + 16))
                v4 = _round(v4, _read_u64(M, pos + 24))
                pos += 32
            h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18))
            h = _merge_round(h, v1)
            h = _merge_round(h, v2)
            h = _merge_round(h, v3)
            h = _merge_round(h, v4)
        else:
            h = seed + _P5
        h = h + np.uint64(L)
        while pos + 8 <= L:
            h = h ^ _round(np.uint64(0), _read_u64(M, pos))
            h = _rotl(h, 27) * _P1 + _P4
            pos += 8
        if pos + 4 <= L:
            h = h ^ (_read_u32(M, pos) * _P1)
            h = _rotl(h, 23) * _P2 + _P3
            pos += 4
        while pos < L:
            h = h ^ (M[:, pos].astype(np.uint64) * _P5)
            h = _rotl(h, 11) * _P1
            pos += 1
        return _fmix(h)


def xxh64_long(value, seed) -> np.ndarray:
    """XXH64 of one 8-byte little-endian long per row (Spark hashLong).

    ``value`` and/or ``seed`` may be scalars or vectors (broadcast).
    """
    with np.errstate(over="ignore"):
        value = np.asarray(value, dtype=np.uint64)
        seed = np.asarray(seed, dtype=np.uint64)
        h = seed + _P5 + np.uint64(8)
        h = h ^ _round(np.uint64(0), value)
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h)


def xxh64_int(value, seed) -> np.ndarray:
    """XXH64 of one 4-byte little-endian int per row (Spark hashInt —
    what ``F.xxhash64(col, F.lit(python_int))`` chains through, since a
    small python literal becomes an IntegerType input)."""
    with np.errstate(over="ignore"):
        value = np.asarray(value, dtype=np.uint64) & np.uint64(0xFFFFFFFF)
        seed = np.asarray(seed, dtype=np.uint64)
        h = seed + _P5 + np.uint64(4)
        h = h ^ (value * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h)


def xxh64_int_chain(seed):
    """``value -> xxh64_int(value, seed)`` for one fixed ``[m]`` uint64
    ``seed`` vector and a scalar int ``value`` per call (one MinHash
    permutation each).

    The value-free term ``seed + P5 + 4`` is computed once; every call
    then runs in place in two reused ``[m]`` buffers, so the returned
    array is overwritten by the next call.
    """
    with np.errstate(over="ignore"):
        base = np.asarray(seed, dtype=np.uint64) + _P5 + np.uint64(4)
    h = np.empty_like(base)
    t = np.empty_like(base)

    def at(value) -> np.ndarray:
        v = np.uint64(((int(value) & 0xFFFFFFFF) * int(_P1)) & _MASK64)
        np.bitwise_xor(base, v, out=h)
        np.left_shift(h, np.uint64(23), out=t)            # rotl 23
        np.right_shift(h, np.uint64(41), out=h)
        np.bitwise_or(h, t, out=h)
        np.multiply(h, _P2, out=h)
        np.add(h, _P3, out=h)
        for shift, prime in ((33, _P2), (29, _P3), (32, None)):  # fmix
            np.right_shift(h, np.uint64(shift), out=t)
            np.bitwise_xor(h, t, out=h)
            if prime is not None:
                np.multiply(h, prime, out=h)
        return h

    return at


def xxh64_spans(buf: bytes, starts, lens, seed=_SPARK_SEED) -> np.ndarray:
    """XXH64 of each byte span ``buf[starts[i]:starts[i] + lens[i]]``.

    Buckets the spans by length and gathers each bucket into a dense
    ``[m, L]`` matrix for the fixed-length vectorized kernel; returns
    ``[n]`` uint64 in span order.
    """
    data = np.frombuffer(buf, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    n = len(lens)
    out = np.zeros(n, dtype=np.uint64)
    order = np.argsort(lens, kind="stable")
    sorted_lens = lens[order]
    start = 0
    while start < n:
        L = sorted_lens[start]
        stop = int(np.searchsorted(sorted_lens, L, side="right"))
        idx = order[start:stop]
        if L == 0:
            out[idx] = xxh64_fixed(np.zeros((len(idx), 0), dtype=np.uint8),
                                   seed)
        else:
            M = np.lib.stride_tricks.sliding_window_view(data, int(L))
            out[idx] = xxh64_fixed(M[starts[idx]], seed)
        start = stop
    return out


def xxh64_strings(strs: list, seed=_SPARK_SEED) -> np.ndarray:
    """XXH64 of each python string's UTF-8 bytes (Spark string path):
    ``xxh64_spans`` over the strings' encodings joined into one buffer.
    """
    bs = [s.encode("utf-8") for s in strs]
    lens = np.fromiter(map(len, bs), dtype=np.int64, count=len(bs))
    return xxh64_spans(b"".join(bs), np.cumsum(lens) - lens, lens, seed)


def spark_xxhash64_str(strs: list, extra_int_seed: int | None = None
                       ) -> np.ndarray:
    """Parity with ``F.xxhash64(str_col)`` / ``F.xxhash64(str_col,
    F.lit(extra_int_seed))``: string hash from seed 42, optionally
    chained into a hashInt of the (IntegerType) literal."""
    h = xxh64_strings(strs, _SPARK_SEED)
    if extra_int_seed is not None:
        h = xxh64_int(extra_int_seed, h)
    return h
