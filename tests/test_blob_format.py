"""The one blob format: filter bytes (magic ``CKF2``) and tagged sketch
bytes both decode through ``build.decode`` with no other hint, a malformed
filter blob is refused with ``ValueError``, and every merge refuses an
incompatible partner with ``ValueError`` (not ``assert``, which
``python -O`` strips)."""

import os
import struct
import zlib

import numpy as np
import pytest

from cuckoofilter_spark.core import serde
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

    class Taken:
        TAG = 3

    for cls in (Clash, Taken):
        with pytest.raises(ValueError):
            register(cls)
    assert register(HyperLogLog) is HyperLogLog  # the same class again is a no-op
    hll = HyperLogLog(p=12)
    hll.update(np.arange(1_000))
    assert type(decode(encode(hll))) is HyperLogLog


def _with_tables(blob, n_tables=None, tables=None):
    """*blob* with its header's table count and/or its table streams replaced."""
    fields = list(serde._HDR.unpack_from(blob, 0))
    if tables is None:
        rest = blob[serde._HDR.size:]
    else:
        rest = b"".join(struct.pack("<q", len(t)) + t for t in tables)
        fields[6] = len(tables)
    if n_tables is not None:
        fields[6] = n_tables
    return serde._HDR.pack(*fields) + rest


@pytest.mark.parametrize("epb, bits", [(4, 16), (4, 12), (4, 4), (2, 32)])
def test_filter_decode_refuses_malformed_blobs(epb, bits):
    """A filter blob is checked against itself and its header: each table
    must inflate to exactly the bytes its params imply, and every length
    and count must fit the blob."""
    p = CuckooParams(max_table_size=1024, entries_per_bucket=epb, bits_per_fp=bits)
    f = DynamicCuckooFilter(p)
    f.update(np.arange(1_000))
    blob = serialize_filter(f)
    assert serialize_filter(decode(blob)) == blob
    want = serde._packed_size(p)
    bad = {
        "truncated": blob[:-5],
        "header only": blob[:serde._HDR.size],
        "shorter than a header": blob[:10],
        "tables beyond the data": _with_tables(blob, n_tables=3),
        "no tables": _with_tables(blob, tables=[]),
        "inflates past the table": _with_tables(blob, tables=[zlib.compress(bytes(want + 64))]),
        "inflates short of the table": _with_tables(blob, tables=[zlib.compress(bytes(want - 1))]),
        "bytes after the stream": _with_tables(blob, tables=[zlib.compress(bytes(want)) + b"x"]),
        "not zlib": _with_tables(blob, tables=[b"not a zlib stream"]),
        "trailing bytes": blob + b"\0",
        "unknown kind": blob[:4] + b"\x05" + blob[5:],
    }
    for why, data in bad.items():
        with pytest.raises(ValueError):
            decode(data)
            pytest.fail(why)
    assert decode(_with_tables(blob, tables=[zlib.compress(bytes(want))])).element_count == 0


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
