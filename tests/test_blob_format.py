"""The one blob format: filter bytes (magic ``CKF2``) and tagged sketch
bytes both decode through ``build.decode`` with no other hint, and every
merge refuses an incompatible partner with ``ValueError`` (not ``assert``,
which ``python -O`` strips)."""

import os

import numpy as np
import pytest

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import serialize_filter
from cuckoofilter_spark.operators.build import decode, encode, new_filter
from cuckoofilter_spark.operators.routed import RoutedCuckooFilter
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sketches import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    KMVSketch,
    SpaceSavingSketch,
    TDigest,
)
from cuckoofilter_spark.sketches.base import register

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_one_decoder_reads_every_blob():
    """Every committed filter and sketch blob decodes through ``decode``
    and re-encodes through ``encode`` to the same bytes; a blob of the
    retired tag-7 cuckoo adapter still loads as the filter it wraps; no
    sketch may take the filter magic's first byte as its tag."""
    for sub in ("golden_blobs", "golden_compacted", "golden_deleted", "golden_sketches"):
        names = sorted(os.listdir(os.path.join(DATA, sub)))
        assert len(names) >= 10, sub
        for name in names:
            with open(os.path.join(DATA, sub, name), "rb") as f:
                raw = f.read()
            state = decode(raw)
            assert isinstance(state, DynamicCuckooFilter) == (sub != "golden_sketches")
            assert encode(state) == raw, (sub, name)

    f = new_filter(CuckooParams(max_table_size=1024, bits_per_fp=16))(3)
    f.update(np.arange(5_000))
    legacy = decode(b"\x07" + serialize_filter(f))
    assert isinstance(legacy, DynamicCuckooFilter)
    assert serialize_filter(legacy) == serialize_filter(f)

    class Clash:
        TAG = 0x43

    with pytest.raises(ValueError):
        register(Clash)


_P = CuckooParams(max_table_size=256, bits_per_fp=16)

MISMATCHED = {
    "cuckoo": (DynamicCuckooFilter(_P),
               DynamicCuckooFilter(CuckooParams(max_table_size=512, bits_per_fp=16))),
    "hll": (HyperLogLog(p=12, seed=0), HyperLogLog(p=12, seed=1)),
    "countmin": (CountMinSketch(4, 1024), CountMinSketch(4, 2048)),
    "bloom": (BloomFilter(1 << 12, 3), BloomFilter(1 << 12, 3, seed=1)),
    "kmv": (KMVSketch(k=64), KMVSketch(k=128)),
    "kll": (KLLSketch(k=100), KLLSketch(k=200)),
    "tdigest": (TDigest(100.0), TDigest(200.0)),
    "spacesaving": (SpaceSavingSketch(k=16), SpaceSavingSketch(k=32)),
    "routed": (RoutedCuckooFilter(None, _P, 4), RoutedCuckooFilter(None, _P, 8)),
}


@pytest.mark.parametrize("kind", sorted(MISMATCHED))
def test_mismatched_merge_raises_value_error(kind):
    a, b = MISMATCHED[kind]
    with pytest.raises(ValueError, match="merge"):
        a.merge(b)
