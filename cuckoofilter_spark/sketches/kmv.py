"""KMV (k-minimum-values / bottom-k, theta-sketch family) distinct sketch.

Keeps the k smallest distinct 64-bit hash values of the stream.  With
``m_k`` = the k-th smallest hash as a fraction θ of the hash space, the
unbiased distinct estimate is ``(k-1)/θ`` (Bar-Yossef et al.; Beyer et
al. SIGMOD'07), relative error ≈ 1/√(k-2).

Why it exists next to HLL: **set operations**.  A KMV sample is a uniform
hash-sample of the distinct universe, so intersections are estimated by
*counting sample agreement below a shared threshold*:

    θ = min(θ_a, θ_b);  L_a, L_b = stored values < θ
    |A ∩ B| ≈ |L_a ∩ L_b| / θ

The error scales with the sample agreement — tight even when the
intersection is tiny relative to the union, exactly where HLL's
inclusion–exclusion degrades (its absolute error is on the UNION's
scale).  This is the theta-sketch trick (Apache DataSketches) on the
simplest possible state: one sorted uint64 array.  ``update`` hashes each
distinct key of a batch once (``distinct.dense_counts``).

Merge = union of value sets, keep k smallest — commutative, associative,
idempotent (a set union), so it rides the same deterministic tree as
every other sketch.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from cuckoofilter_spark.core.distinct import dense_counts
from cuckoofilter_spark.hashing import hash64
from cuckoofilter_spark.sketches.base import register

_HDR = struct.Struct("<iiq")  # k, seed, n_values
_FULL = float(2**64)


@register
class KMVSketch:
    TAG = 8

    def __init__(self, k: int = 1024, seed: int = 0):
        assert k >= 16
        self.k = k
        self.seed = seed
        self.values = np.empty(0, dtype=np.uint64)  # sorted ascending, distinct

    def update(self, batch: np.ndarray) -> None:
        batch = np.asarray(batch)
        if len(batch) == 0:
            return
        dc = dense_counts(batch)
        h = hash64(batch if dc is None else dc[0], seed=self.seed)
        self.values = np.unique(np.concatenate([self.values, h]))[:self.k]

    def merge(self, other: "KMVSketch") -> "KMVSketch":
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError(f"merge: (k, seed) {(other.k, other.seed)} differ from "
                             f"{(self.k, self.seed)}")
        self.values = np.unique(
            np.concatenate([self.values, other.values]))[:self.k]
        return self

    @property
    def theta(self) -> float:
        """Sampling threshold as a fraction of the hash space: 1.0 while
        the sketch is exact (fewer than k distinct values seen)."""
        if len(self.values) < self.k:
            return 1.0
        return float(self.values[-1]) / _FULL

    def estimate(self) -> float:
        n = len(self.values)
        if n < self.k:
            return float(n)  # exact below k distinct
        return (self.k - 1) / self.theta

    @property
    def rel_error(self) -> float:
        return 1.0 / np.sqrt(self.k - 2)

    def copy(self) -> "KMVSketch":
        s = KMVSketch(self.k, self.seed)
        s.values = self.values.copy()
        return s

    def to_bytes(self) -> bytes:
        return _HDR.pack(self.k, self.seed, len(self.values)) + \
            zlib.compress(self.values.tobytes(), 1)

    @classmethod
    def from_bytes(cls, data: bytes) -> "KMVSketch":
        k, seed, n = _HDR.unpack_from(data, 0)
        s = cls(k, seed)
        s.values = np.frombuffer(
            zlib.decompress(data[_HDR.size:]), dtype=np.uint64)[:n].copy()
        return s


def kmv_union_estimate(a: KMVSketch, b: KMVSketch) -> float:
    """|A ∪ B| — merge (set union of samples) and estimate."""
    return a.copy().merge(b).estimate()


def kmv_intersection_estimate(a: KMVSketch, b: KMVSketch) -> float:
    """|A ∩ B| by sample agreement below the shared threshold θ — the
    theta-sketch intersection.  Error ∝ √(agreement)/θ: tight relative to
    the intersection itself, not the union."""
    theta = min(a.theta, b.theta)
    if theta >= 1.0:  # both below k distinct — the samples ARE the sets
        return float(len(np.intersect1d(a.values, b.values,
                                        assume_unique=True)))
    lim = np.uint64(theta * _FULL)  # θ < 1 ⇒ representable
    va = a.values[a.values <= lim]
    vb = b.values[b.values <= lim]
    return len(np.intersect1d(va, vb, assume_unique=True)) / theta


def kmv_jaccard_estimate(a: KMVSketch, b: KMVSketch) -> float:
    """J(A,B) from the combined bottom-k sample (standard bottom-k
    Jaccard estimator: fraction of the union's k smallest present in
    both)."""
    u = a.copy().merge(b)
    if len(u.values) == 0:
        return 0.0
    sample = u.values
    in_a = np.isin(sample, a.values, assume_unique=True)
    in_b = np.isin(sample, b.values, assume_unique=True)
    return float((in_a & in_b).sum() / len(sample))
