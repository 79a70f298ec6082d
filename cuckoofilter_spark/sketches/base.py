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
