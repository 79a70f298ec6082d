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
``update`` hashes each distinct key of a batch once (``distinct.dense_counts``:
one ``bincount`` over a batch that spans fewer integers than it has values,
such as a Zipf token stream over a small vocabulary; any other batch is
hashed as it is).  The bytes are the same either way.

Wire format: 1-byte type tag + a payload per sketch (each class owns its
layout); ``serialize_sketch``/``deserialize_sketch`` dispatch on the tag.
Most payloads are struct/NumPy bytes, but KLL and t-digest ``to_bytes``
are still pickles, so their blobs must come from a trusted source.  A tag
names one class: ``register`` refuses a second class under a taken tag.
No tag equals the first byte of a filter blob (``serde.is_filter_blob``),
so ``operators.build.decode`` reads filter and sketch bytes alike.  Tag 7 is the retired cuckoo-filter adapter's: such a
blob (say, in a streaming state dir) still loads, as the filter it wraps.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

import numpy as np

from cuckoofilter_spark.core.serde import deserialize_filter, is_filter_blob


@runtime_checkable
class Sketch(Protocol):
    TAG: int

    def update(self, batch: np.ndarray) -> None: ...

    def merge(self, other: "Sketch") -> "Sketch": ...

    def to_bytes(self) -> bytes: ...


_REGISTRY: dict[int, type] = {}

#: tag of the retired cuckoo-filter adapter: ``serialize_filter`` bytes behind it
_FILTER_TAG = 7


def register(cls):
    if cls.TAG == _FILTER_TAG or is_filter_blob(bytes([cls.TAG])):
        raise ValueError(f"sketch tag {cls.TAG} is reserved for filter blobs")
    if _REGISTRY.setdefault(cls.TAG, cls) is not cls:
        raise ValueError(f"sketch tag {cls.TAG} is taken by {_REGISTRY[cls.TAG].__name__}")
    return cls


def serialize_sketch(s) -> bytes:
    return bytes([s.TAG]) + s.to_bytes()


def deserialize_sketch(data: bytes):
    if data[0] == _FILTER_TAG:
        return deserialize_filter(data[1:])
    cls = _REGISTRY[data[0]]
    return cls.from_bytes(data[1:])
