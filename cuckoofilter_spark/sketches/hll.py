"""HyperLogLog distinct-count sketch (dense registers).

Standard HLL with the HLL++ small-range correction (linear counting below
2.5·m) and the classic large-range bias constant α_m.  Registers are uint8
(max rank ≤ 64 - p).  Merge = element-wise max — commutative, associative.
Relative error ≈ 1.04/√m; p=14 → m=16384 → ~0.81%.

``update`` hashes each distinct key of a batch once (``distinct.dense_counts``;
a register max does not care how often a key repeats) and takes the rank
from a branch-free bit length (``_rank``).

Cross-checked in tests against exact ``COUNT(DISTINCT ...)`` and against
Spark's built-in HLL++ (``approx_count_distinct``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from cuckoofilter_spark.core.distinct import dense_counts
from cuckoofilter_spark.hashing import hash64
from cuckoofilter_spark.sketches.base import register

_HDR = struct.Struct("<ii")  # p, seed


def _rank(rest: np.ndarray, p: int) -> np.ndarray:
    """Leading zeros of each ``rest = h << p``, plus one, capped at
    ``64 - p + 1`` (the rank of ``rest == 0``).  The bit length comes from
    the float64 exponents of the high and low 32-bit halves, both exact,
    and ``frexp(0)`` has exponent 0 — no per-bit loop or branch."""
    e_hi = np.frexp((rest >> np.uint64(32)).astype(np.float64))[1]
    e_lo = np.frexp((rest & np.uint64(0xFFFFFFFF)).astype(np.float64))[1]
    bitlen = np.where(e_hi > 0, e_hi + 32, e_lo)
    return np.minimum(65 - bitlen, 64 - p + 1).astype(np.uint8)


@register
class HyperLogLog:
    TAG = 3

    def __init__(self, p: int = 14, seed: int = 0):
        assert 4 <= p <= 18
        self.p = p
        self.m = 1 << p
        self.seed = seed
        self.registers = np.zeros(self.m, dtype=np.uint8)

    def update(self, batch: np.ndarray) -> None:
        batch = np.asarray(batch)
        if len(batch) == 0:
            return
        dc = dense_counts(batch)
        h = hash64(batch if dc is None else dc[0], seed=self.seed)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        np.maximum.at(self.registers, idx, _rank(h << np.uint64(self.p), self.p))

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if (self.p, self.seed) != (other.p, other.seed):
            raise ValueError(f"merge: (p, seed) {(other.p, other.seed)} differ from "
                             f"{(self.p, self.seed)}")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def estimate(self) -> float:
        m = self.m
        alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}[m]
        regs = self.registers.astype(np.float64)
        e = alpha * m * m / np.sum(np.exp2(-regs))
        zeros = int((self.registers == 0).sum())
        if e <= 2.5 * m and zeros:
            return m * np.log(m / zeros)  # linear counting
        return float(e)

    @property
    def rel_error(self) -> float:
        return 1.04 / np.sqrt(self.m)

    def copy(self) -> "HyperLogLog":
        h = HyperLogLog(self.p, self.seed)
        h.registers = self.registers.copy()
        return h

    def to_bytes(self) -> bytes:
        return _HDR.pack(self.p, self.seed) + zlib.compress(self.registers.tobytes(), 1)

    @classmethod
    def from_bytes(cls, data: bytes) -> "HyperLogLog":
        p, seed = _HDR.unpack_from(data, 0)
        h = cls(p, seed)
        h.registers = np.frombuffer(zlib.decompress(data[_HDR.size:]), dtype=np.uint8).copy()
        return h


def union_estimate(a: HyperLogLog, b: HyperLogLog) -> float:
    """|A ∪ B| — exact on register state (max merge), non-mutating."""
    return a.copy().merge(b).estimate()


def intersection_estimate(a: HyperLogLog, b: HyperLogLog) -> float:
    """|A ∩ B| by inclusion–exclusion.  NOTE: the absolute error is on the
    scale of the UNION's error (±1.04·|A∪B|/√m), so the relative error on
    a small intersection can be large — the documented limitation of
    HLL set ops (cuckoo/Bloom filters can't intersect at all, SURVEY §2.7)."""
    return max(0.0, a.estimate() + b.estimate() - union_estimate(a, b))
