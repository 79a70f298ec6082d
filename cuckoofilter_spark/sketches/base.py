"""Shared mergeable-sketch protocol (SURVEY.md §7 Phase 3).

Every sketch is a commutative monoid value:

    create(params) / update(np_batch) / merge(other) /
    to_bytes() / from_bytes() / estimate(...)

which is exactly what the distributed driver needs: per-partition ``update``
inside ``mapInArrow`` (the partial aggregate), ``merge`` in the
deterministic tree (the final aggregate), ``to_bytes`` for the shuffle and
broadcast.  The cuckoo/Bloom filters answer membership, HLL distinct counts,
count-min frequencies, KLL/t-digest quantiles — all over the one build
driver (``operators/build.py``, entered through
``operators/sketch_build.build_sketch``).

Order-free sketches (HLL, count-min, Bloom, KMV: register max, counter
sum, bit OR, min-k set) do not depend on update order, so their
``update`` hashes each distinct key of a batch once: ``dense_counts``
collapses an integer batch that spans fewer integers than it has values
(a Zipf token stream over a small vocabulary) with one ``bincount``, and
any other batch is hashed as it is.  The bytes are the same either way.

Wire format: 1-byte type tag + pickle-free struct/numpy payload per sketch
(each class owns its layout); ``serialize_sketch``/``deserialize_sketch``
dispatch on the tag, and ``SketchCodec`` hands them to the build driver.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

import numpy as np


@runtime_checkable
class Sketch(Protocol):
    TAG: int

    def update(self, batch: np.ndarray) -> None: ...

    def merge(self, other: "Sketch") -> "Sketch": ...

    def to_bytes(self) -> bytes: ...


def dense_counts(batch: np.ndarray):
    """``(keys, counts)``: the distinct values of an integer batch, in
    ascending order and in the batch's own dtype, with their counts — or
    ``None`` when the batch is not integer or its values span at least
    ``len(batch)`` integers, where the ``bincount`` scratch would outgrow
    the batch.  No hash table: Arrow's costs 200–360 ns/key on 2^18 or
    more distinct int64 keys, a dense ``bincount`` ~4."""
    if batch.dtype.kind not in "iu" or len(batch) == 0:
        return None
    lo, hi = batch.min(), batch.max()
    if int(hi) - int(lo) >= len(batch):
        return None
    # offsets in the unsigned twin dtype: a span of 255 wraps in int8 but
    # not in uint8, and every offset fits (span < len(batch))
    u = np.dtype(f"u{batch.itemsize}")
    counts = np.bincount((batch.view(u) - np.array(lo).view(u)).astype(np.intp))
    nz = np.flatnonzero(counts)
    # keys back in the batch's dtype: intp + uint64 would promote to
    # float64 and round keys near 2^64; the wrap-around sum is exact
    return nz.astype(batch.dtype) + lo, counts[nz]


_REGISTRY: dict[int, type] = {}


def register(cls):
    _REGISTRY[cls.TAG] = cls
    return cls


def serialize_sketch(s) -> bytes:
    return bytes([s.TAG]) + s.to_bytes()


def deserialize_sketch(data: bytes):
    cls = _REGISTRY[data[0]]
    return cls.from_bytes(data[1:])


class SketchCodec:
    """Blob codec of the build driver (``operators/build.py``): tagged
    sketch bytes."""

    encode = staticmethod(serialize_sketch)
    decode = staticmethod(deserialize_sketch)
