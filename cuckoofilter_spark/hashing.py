"""Vectorized 64-bit hashing.

The reference hashes uint32 keys with a Dietzfelbinger 128-bit
multiply-add-shift (``Utils/hash_function.cpp:6-15,75-77``) and strings with
CityHash64 (``Utils/hash_function.cpp:64-68``).  Per SURVEY.md §2.4 the
filter's error bound depends only on hash *uniformity*, not on identity with
CityHash, so we use a fixed-constant splitmix64 finalizer over the key mixed
with two Dietzfelbinger-style multiply-add constants — fully vectorizable in
NumPy uint64 (the 128-bit C++ arithmetic does not vectorize in NumPy), and
deterministic across executors / parallelism levels (north_rule).

All functions operate on whole NumPy arrays; no per-element Python.
"""

from __future__ import annotations

import numpy as np

# Dietzfelbinger-style odd multiply/add constants (fixed: determinism across
# executors replaces the reference's srand(1)-seeded constants,
# ``Utils/hash_function.cpp:6-15``).
_MULT = np.uint64(0x9E3779B97F4A7C15)  # 2^64 / golden ratio, odd
_ADD = np.uint64(0x2545F4914F6CDD1D)

_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)

U64 = np.uint64


def hash64(keys: np.ndarray, seed: int = 0) -> np.ndarray:
    """Vectorized 64-bit hash of integer keys (splitmix64 finalizer over a
    multiply-add premix).  Input any integer dtype; output uint64."""
    x = keys.astype(np.uint64, copy=False)
    with np.errstate(over="ignore"):
        z = x * _MULT + (_ADD + np.uint64(seed) * np.uint64(0x9E3779B9))
        z = (z ^ (z >> np.uint64(30))) * _C1
        z = (z ^ (z >> np.uint64(27))) * _C2
        z = z ^ (z >> np.uint64(31))
    return z


_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _fmix32(h: int) -> int:
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


def murmur3_x86_128(data: bytes, seed: int = 0) -> bytes:
    """MurmurHash3 x86_128 (Austin Appleby's public-domain algorithm),
    byte-exact: 16 little-endian output bytes.  This is the string-hash
    backend the reference keeps wired but commented out
    (``Utils/hash_function.cpp:37-39,53-57,65-66`` calls
    ``MurmurHash3_x86_128(buff, len, seed, out)`` and takes ``out[0]`` —
    the LOW 8 bytes — as the 64-bit key hash; the live path is CityHash64).
    Implemented from the published algorithm, verified by SMHasher's
    official verification constant (0xB3ECE62A) in pytest.  Parity
    backend only — never on the Spark hot path (per-key Python)."""
    h1 = h2 = h3 = h4 = seed & _M32
    c1, c2, c3, c4 = 0x239B961B, 0xAB0E9789, 0x38B34AE5, 0xA1E38B93
    n = len(data)
    nblocks = n // 16
    for i in range(nblocks):
        k1, k2, k3, k4 = (
            int.from_bytes(data[16 * i + 4 * j:16 * i + 4 * j + 4], "little")
            for j in range(4))
        k1 = (_rotl32((k1 * c1) & _M32, 15) * c2) & _M32
        h1 = ((_rotl32(h1 ^ k1, 19) + h2) * 5 + 0x561CCD1B) & _M32
        k2 = (_rotl32((k2 * c2) & _M32, 16) * c3) & _M32
        h2 = ((_rotl32(h2 ^ k2, 17) + h3) * 5 + 0x0BCAA747) & _M32
        k3 = (_rotl32((k3 * c3) & _M32, 17) * c4) & _M32
        h3 = ((_rotl32(h3 ^ k3, 15) + h4) * 5 + 0x96CD1C35) & _M32
        k4 = (_rotl32((k4 * c4) & _M32, 18) * c1) & _M32
        h4 = ((_rotl32(h4 ^ k4, 13) + h1) * 5 + 0x32AC3B17) & _M32
    tail = data[nblocks * 16:]
    k1 = k2 = k3 = k4 = 0
    t = len(tail)
    if t >= 13:
        k4 = int.from_bytes(tail[12:t].ljust(4, b"\0")[:t - 12], "little")
        k4 = (_rotl32((k4 * c4) & _M32, 18) * c1) & _M32
        h4 ^= k4
    if t >= 9:
        k3 = int.from_bytes(tail[8:min(t, 12)], "little")
        k3 = (_rotl32((k3 * c3) & _M32, 17) * c4) & _M32
        h3 ^= k3
    if t >= 5:
        k2 = int.from_bytes(tail[4:min(t, 8)], "little")
        k2 = (_rotl32((k2 * c2) & _M32, 16) * c3) & _M32
        h2 ^= k2
    if t >= 1:
        k1 = int.from_bytes(tail[0:min(t, 4)], "little")
        k1 = (_rotl32((k1 * c1) & _M32, 15) * c2) & _M32
        h1 ^= k1
    h1 ^= n; h2 ^= n; h3 ^= n; h4 ^= n
    h1 = (h1 + h2 + h3 + h4) & _M32
    h2 = (h2 + h1) & _M32; h3 = (h3 + h1) & _M32; h4 = (h4 + h1) & _M32
    h1 = _fmix32(h1); h2 = _fmix32(h2); h3 = _fmix32(h3); h4 = _fmix32(h4)
    h1 = (h1 + h2 + h3 + h4) & _M32
    h2 = (h2 + h1) & _M32; h3 = (h3 + h1) & _M32; h4 = (h4 + h1) & _M32
    return b"".join(h.to_bytes(4, "little") for h in (h1, h2, h3, h4))


# ---------------------------------------------------------------------------
# CityHash64 parity backend (the reference's LIVE string-hash path,
# ``Utils/hash_function.cpp:64-68`` → ``Utils/city_hash.cpp:365-401``).
# Independent Python expression of Google's published CityHash v1.1
# algorithm (Pike & Alakuijala, MIT license); bit-parity is gated in pytest
# against vectors produced by compiling the vendored public source.  Parity
# backend only — never on the Spark hot path (per-key Python); the live
# engine path stays the vectorizable xxhash64/splitmix64 family (uniformity,
# not identity, is what the FPR bound needs — SURVEY §2.4 #25).
# ---------------------------------------------------------------------------

_M64 = 0xFFFFFFFFFFFFFFFF
_CITY_K0 = 0xC3A5C85C97CB3127
_CITY_K1 = 0xB492B66FBE98F273
_CITY_K2 = 0x9AE16A3B2F90404F
_CITY_KMUL = 0x9DDFEA08EB382D69


def _rot64(v: int, s: int) -> int:
    return v if s == 0 else ((v >> s) | (v << (64 - s))) & _M64


def _bswap64(v: int) -> int:
    return int.from_bytes(v.to_bytes(8, "little"), "big")


def _city_h16(u: int, v: int, mul: int = _CITY_KMUL) -> int:
    a = ((u ^ v) * mul) & _M64
    a ^= a >> 47
    b = ((v ^ a) * mul) & _M64
    b ^= b >> 47
    return (b * mul) & _M64


def _city_weak32(w, x, y, z, a, b):
    a = (a + w) & _M64
    b = _rot64((b + a + z) & _M64, 21)
    c = a
    a = (a + x + y) & _M64
    b = (b + _rot64(a, 44)) & _M64
    return (a + z) & _M64, (b + c) & _M64


def cityhash64(data: bytes) -> int:
    """Bit-exact CityHash64 (v1.1) of a byte string → uint64 as int."""
    def f64(i):
        return int.from_bytes(data[i:i + 8], "little")

    def f32(i):
        return int.from_bytes(data[i:i + 4], "little")

    n = len(data)
    if n <= 16:
        if n >= 8:
            mul = (_CITY_K2 + n * 2) & _M64
            a = (f64(0) + _CITY_K2) & _M64
            b = f64(n - 8)
            c = (_rot64(b, 37) * mul + a) & _M64
            d = ((_rot64(a, 25) + b) * mul) & _M64
            return _city_h16(c, d, mul)
        if n >= 4:
            mul = (_CITY_K2 + n * 2) & _M64
            return _city_h16((n + (f32(0) << 3)) & _M64, f32(n - 4), mul)
        if n > 0:
            y = data[0] + (data[n >> 1] << 8)
            z = n + (data[n - 1] << 2)
            h = ((y * _CITY_K2) ^ (z * _CITY_K0)) & _M64
            return ((h ^ (h >> 47)) * _CITY_K2) & _M64
        return _CITY_K2
    if n <= 32:
        mul = (_CITY_K2 + n * 2) & _M64
        a = (f64(0) * _CITY_K1) & _M64
        b = f64(8)
        c = (f64(n - 8) * mul) & _M64
        d = (f64(n - 16) * _CITY_K2) & _M64
        return _city_h16(
            (_rot64((a + b) & _M64, 43) + _rot64(c, 30) + d) & _M64,
            (a + _rot64((b + _CITY_K2) & _M64, 18) + c) & _M64, mul)
    if n <= 64:
        mul = (_CITY_K2 + n * 2) & _M64
        a = (f64(0) * _CITY_K2) & _M64
        b = f64(8)
        c = f64(n - 24)
        d = f64(n - 32)
        e = (f64(16) * _CITY_K2) & _M64
        f = (f64(24) * 9) & _M64
        g = f64(n - 8)
        h = (f64(n - 16) * mul) & _M64
        u = (_rot64((a + g) & _M64, 43)
             + ((_rot64(b, 30) + c) & _M64) * 9) & _M64
        v = (((a + g) & _M64) ^ d) + f + 1 & _M64
        w = (_bswap64(((u + v) & _M64) * mul & _M64) + h) & _M64
        x = (_rot64((e + f) & _M64, 42) + c) & _M64
        y = ((_bswap64(((v + w) & _M64) * mul & _M64) + g) * mul) & _M64
        z = (e + f + c) & _M64
        a = (_bswap64((((x + z) & _M64) * mul + y) & _M64) + b) & _M64
        b = ((((z + a) & _M64) * mul + d + h) & _M64)
        b = ((b ^ (b >> 47)) * mul) & _M64
        return (b + x) & _M64
    # > 64 bytes: 56 bytes of rolling state over 64-byte blocks
    x = f64(n - 40)
    y = (f64(n - 16) + f64(n - 56)) & _M64
    z = _city_h16((f64(n - 48) + n) & _M64, f64(n - 24))
    v = _city_weak32(f64(n - 64), f64(n - 56), f64(n - 48), f64(n - 40),
                     n, z)
    w = _city_weak32(f64(n - 32), f64(n - 24), f64(n - 16), f64(n - 8),
                     (y + _CITY_K1) & _M64, x)
    x = (x * _CITY_K1 + f64(0)) & _M64
    pos, left = 0, (n - 1) & ~63
    while True:
        x = (_rot64((x + y + v[0] + f64(pos + 8)) & _M64, 37)
             * _CITY_K1) & _M64
        y = (_rot64((y + v[1] + f64(pos + 48)) & _M64, 42) * _CITY_K1) & _M64
        x ^= w[1]
        y = (y + v[0] + f64(pos + 40)) & _M64
        z = (_rot64((z + w[0]) & _M64, 33) * _CITY_K1) & _M64
        v = _city_weak32(f64(pos), f64(pos + 8), f64(pos + 16),
                         f64(pos + 24), (v[1] * _CITY_K1) & _M64,
                         (x + w[0]) & _M64)
        w = _city_weak32(f64(pos + 32), f64(pos + 40), f64(pos + 48),
                         f64(pos + 56), (z + w[1]) & _M64,
                         (y + f64(pos + 16)) & _M64)
        z, x = x, z
        pos += 64
        left -= 64
        if left == 0:
            break
    sm = ((y ^ (y >> 47)) * _CITY_K1) & _M64
    return _city_h16((_city_h16(v[0], w[0]) + sm + z) & _M64,
                     (_city_h16(v[1], w[1]) + x) & _M64)


def hash64_bytes_city(values) -> np.ndarray:
    """The reference's LIVE string-hash path, reproduced exactly:
    ``CityHash64(key.c_str(), key.size())``
    (``Utils/hash_function.cpp:36-44,64-68``).  A parity backend for
    tests; the engine hashes integer keys with ``hash64``."""
    out = np.empty(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        b = v.encode("utf-8") if isinstance(v, str) else v
        out[i] = cityhash64(b)
    return out


def hash64_bytes_murmur3(values, seed: int = 5) -> np.ndarray:
    """The reference's commented-out string-hash path, reproduced exactly:
    ``uint64 hash[2]; MurmurHash3_x86_128(s, len, 5, hash); return
    hash[0]`` (``Utils/hash_function.cpp:53-57``) — i.e. the low 8 output
    bytes as a little-endian uint64, default seed 5.  A parity backend for
    tests, like ``hash64_bytes_city``."""
    out = np.empty(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        b = v.encode("utf-8") if isinstance(v, str) else v
        out[i] = int.from_bytes(murmur3_x86_128(b, seed)[:8], "little")
    return out
