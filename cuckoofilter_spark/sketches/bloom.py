"""Bloom filter — the membership sketch the cuckoo filter is usually traded
against (no deletes, no load-factor cliff; merge = bitwise OR, perfectly
commutative).  k index functions derived from one 64-bit hash by the
Kirsch-Mitzenmacher double-hashing construction; everything batch-NumPy.
A bit OR is idempotent, so ``update`` takes positions from each distinct
key of a batch once (``distinct.dense_counts``); ``n_items`` counts
occurrences.  A batch sets its bits through a bool buffer and one
``packbits`` (~70 ns/key at k = 13, against ~370 for ``np.bitwise_or.at``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from cuckoofilter_spark.core.distinct import dense_counts
from cuckoofilter_spark.hashing import hash64
from cuckoofilter_spark.sketches.base import register

_HDR = struct.Struct("<qiiq")  # m_bits, k, seed, n_items


@register
class BloomFilter:
    TAG = 2

    def __init__(self, m_bits: int = 1 << 20, k: int = 7, seed: int = 0):
        self.m_bits = int(m_bits)
        self.k = int(k)
        self.seed = int(seed)
        self.bits = np.zeros((self.m_bits + 63) // 64, dtype=np.uint64)
        self.n_items = 0

    @classmethod
    def for_capacity(cls, n: int, fpp: float = 1e-4, seed: int = 0) -> "BloomFilter":
        m = max(64, int(-n * np.log(fpp) / (np.log(2) ** 2)))
        k = max(1, round(m / max(n, 1) * np.log(2)))
        return cls(m_bits=m, k=min(k, 16), seed=seed)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        h1 = hash64(keys, seed=self.seed)
        h2 = hash64(keys, seed=self.seed + 0x9E37)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m_bits)).astype(np.int64)

    def update(self, batch: np.ndarray) -> None:
        batch = np.asarray(batch)
        if len(batch) == 0:
            return
        dc = dense_counts(batch)
        pos = self._positions(batch if dc is None else dc[0]).reshape(-1)
        hit = np.zeros(len(self.bits) * 64, dtype=bool)
        hit[pos] = True
        self.bits |= np.packbits(hit, bitorder="little").view("<u8")
        self.n_items += len(batch)

    def contains(self, batch: np.ndarray) -> np.ndarray:
        batch = np.asarray(batch)
        if len(batch) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(batch)  # (k, n)
        hit = (self.bits[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
        return hit.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.m_bits, self.k, self.seed) == (other.m_bits, other.k, other.seed)
        self.bits |= other.bits
        self.n_items += other.n_items
        return self

    def fill_ratio(self) -> float:
        return int(np.unpackbits(self.bits.view(np.uint8)).sum()) / self.m_bits

    def to_bytes(self) -> bytes:
        return _HDR.pack(self.m_bits, self.k, self.seed, self.n_items) + zlib.compress(
            self.bits.tobytes(), 1
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        m, k, seed, n = _HDR.unpack_from(data, 0)
        b = cls(m, k, seed)
        b.bits = np.frombuffer(zlib.decompress(data[_HDR.size:]), dtype=np.uint64).copy()
        b.n_items = n
        return b
