"""Vectorized XXH64 in numpy, bit-compatible with Spark's ``xxhash64``.

The oracle needs the node ids the engine assigns to urls
(``web.extract.url_id`` = ``xxhash64(url)``) and the order-free partition
fingerprint ``sum(xxhash64(node, comp))`` without asking Spark to compute
either, so it hashes with this independent implementation of the published
XXH64 algorithm (seed 42, Spark's default). All arithmetic is uint64 and
wraps, as the reference algorithm requires.
"""

from __future__ import annotations

import numpy as np

_U = np.uint64
P1 = _U(11400714785074694791)
P2 = _U(14029467366897019727)
P3 = _U(1609587929392839161)
P4 = _U(9650029242287828579)
P5 = _U(2870177450012600261)
SPARK_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * P2, 31) * P1


def _avalanche(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U(33))
    h = h * P2
    h = h ^ (h >> _U(29))
    h = h * P3
    return h ^ (h >> _U(32))


def _tail_word(h: np.ndarray, word: np.ndarray) -> np.ndarray:
    return _rotl(h ^ _round(np.zeros_like(word), word), 27) * P1 + P4


def hash_longs(values: np.ndarray, seed) -> np.ndarray:
    """XXH64 of each int64 value's 8 little-endian bytes (Spark hashLong);
    ``seed`` is a scalar or a per-value uint64 array."""
    with np.errstate(over="ignore"):
        v = np.ascontiguousarray(values, dtype=np.int64).view(_U)
        h = np.asarray(seed, dtype=_U) + P5 + _U(8)
        return _avalanche(_tail_word(h, v))


def hash_pair(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Spark ``xxhash64(a, b)`` for two long columns, as int64."""
    return hash_longs(b, hash_longs(a, SPARK_SEED)).view(np.int64)


def _hash_fixed(mat: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each row of an (n, L) uint8 matrix (all inputs length L)."""
    n, length = mat.shape
    s = _U(seed)
    pos = 0
    if length >= 32:
        acc = [
            np.full(n, s + P1 + P2, dtype=_U), np.full(n, s + P2, dtype=_U),
            np.full(n, s, dtype=_U), np.full(n, s - P1, dtype=_U),
        ]
        while pos + 32 <= length:
            lanes = np.ascontiguousarray(mat[:, pos:pos + 32]).view("<u8")
            for k in range(4):
                acc[k] = _round(acc[k], lanes[:, k])
            pos += 32
        h = _rotl(acc[0], 1) + _rotl(acc[1], 7) + _rotl(acc[2], 12) + _rotl(acc[3], 18)
        for k in range(4):
            h = (h ^ _round(np.zeros(n, dtype=_U), acc[k])) * P1 + P4
    else:
        h = np.full(n, s + P5, dtype=_U)
    h = h + _U(length)
    while pos + 8 <= length:
        word = np.ascontiguousarray(mat[:, pos:pos + 8]).view("<u8")[:, 0]
        h = _tail_word(h, word)
        pos += 8
    if pos + 4 <= length:
        word = np.ascontiguousarray(mat[:, pos:pos + 4]).view("<u4")[:, 0]
        h = _rotl(h ^ (word.astype(_U) * P1), 23) * P2 + P3
        pos += 4
    while pos < length:
        h = _rotl(h ^ (mat[:, pos].astype(_U) * P5), 11) * P1
        pos += 1
    return _avalanche(h)


def hash_strings(strings: list[str], seed: int = SPARK_SEED) -> np.ndarray:
    """Spark ``xxhash64(string_col)`` of each string (UTF-8), as int64."""
    data = [s.encode("utf-8") for s in strings]
    lengths = np.fromiter((len(b) for b in data), dtype=np.int64, count=len(data))
    out = np.empty(len(data), dtype=_U)
    with np.errstate(over="ignore"):
        for length in np.unique(lengths):
            idx = np.flatnonzero(lengths == length)
            buf = b"".join(data[i] for i in idx)
            mat = np.frombuffer(buf, dtype=np.uint8).reshape(len(idx), int(length))
            out[idx] = _hash_fixed(mat, seed)
    return out.view(np.int64)
