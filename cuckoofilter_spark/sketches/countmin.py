"""Count-min sketch: point frequency estimation with one-sided error —
``estimate(x) >= true(x)``, and ``estimate(x) <= true(x) + εN`` with
probability 1-δ for ε = e/width, δ = e^-depth.  Merge = element-wise add
(commutative), so ``update`` hashes each distinct key of a batch once and
adds its count (``distinct.dense_counts``); ``n_items`` counts occurrences.
Cross-checked against exact GROUP BY counts of the Zipf head
and Spark's built-in ``count_min_sketch``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from cuckoofilter_spark.core.distinct import dense_counts
from cuckoofilter_spark.hashing import hash64
from cuckoofilter_spark.sketches.base import register

_HDR = struct.Struct("<iiiq")  # depth, width, seed, n_items


@register
class CountMinSketch:
    TAG = 4

    def __init__(self, depth: int = 5, width: int = 8192, seed: int = 0):
        self.depth = depth
        self.width = width
        self.seed = seed
        self.counts = np.zeros((depth, width), dtype=np.int64)
        self.n_items = 0

    def _idx(self, keys: np.ndarray) -> np.ndarray:
        rows = []
        for d in range(self.depth):
            h = hash64(keys, seed=self.seed + 1_000_003 * (d + 1))
            rows.append((h % np.uint64(self.width)).astype(np.int64))
        return np.stack(rows)  # (depth, n)

    def update(self, batch: np.ndarray) -> None:
        batch = np.asarray(batch)
        if len(batch) == 0:
            return
        dc = dense_counts(batch)
        keys, w = (batch, 1) if dc is None else dc
        idx = self._idx(keys)
        for d in range(self.depth):
            np.add.at(self.counts[d], idx[d], w)
        self.n_items += len(batch)

    def estimate(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys)
        if len(keys) == 0:
            return np.zeros(0, dtype=np.int64)
        idx = self._idx(keys)
        ests = np.stack([self.counts[d][idx[d]] for d in range(self.depth)])
        return ests.min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        assert (self.depth, self.width, self.seed) == (other.depth, other.width, other.seed)
        self.counts += other.counts
        self.n_items += other.n_items
        return self

    @property
    def eps(self) -> float:
        return np.e / self.width

    def to_bytes(self) -> bytes:
        return _HDR.pack(self.depth, self.width, self.seed, self.n_items) + zlib.compress(
            self.counts.tobytes(), 1
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        d, w, seed, n = _HDR.unpack_from(data, 0)
        c = cls(d, w, seed)
        c.counts = (
            np.frombuffer(zlib.decompress(data[_HDR.size:]), dtype=np.int64).reshape(d, w).copy()
        )
        c.n_items = n
        return c
