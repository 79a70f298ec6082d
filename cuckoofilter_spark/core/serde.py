"""Compact binary serialization for filters, and the one blob format.

Every blob the library ships or stores says what it holds in its first
byte: filter bytes start with the magic ``CKF2`` (``is_filter_blob``), and
sketch bytes start with their registry tag (``sketches.base``), which may
never equal the magic's first byte.  ``operators.build.encode`` /
``decode`` write and read both kinds with no further hint.

A filter crosses process boundaries three times in the distributed build
(Arrow batch out of the build UDF, shuffle into the merge stage, broadcast
to the query stage), so the wire format matters at scale: a fixed little-
endian header + zlib-compressed table bytes (freshly built, mostly-sparse
tables compress 5-20×).  12-bit and 4-bit lane configs are densely packed
on the wire (true ``bits_per_fp`` per slot, matching the reference's packed
``BitManager`` layout budget, ``Utils/bit_manager.cpp``) and unpacked into
compute lanes on read.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from cuckoofilter_spark.core.cuckoo_filter import CuckooFilter
from cuckoofilter_spark.core.cuckoo_table import CuckooTable
from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.params import CuckooParams

#: CKF2: seed widened to uint64 (hash seeds are arbitrary 64-bit values —
#: the CKF1 int32 field crashed on seed ≥ 2^31), and the victim cache split
#: into its own (idx: int64, fp: uint64) fields (CKF1's packed fp<<40|idx
#: overflowed int64 for the legal 32-bit-fingerprint config).  Old CKF1
#: blobs fail the magic check loudly rather than misparse.
_MAGIC = b"CKF2"
_HDR = struct.Struct("<4sBqiiQqqQ")  # magic, kind, max_ts, epb, bits, seed, n_tables, victim_idx(-1=none), victim_fp


def _pack_table(t: CuckooTable) -> bytes:
    bits = t.params.bits_per_fp
    flat = t.table.reshape(-1)
    if bits in (8, 16, 32):
        raw = flat.tobytes()
    elif bits == 12:
        # 2 slots -> 3 bytes
        a = flat.astype(np.uint32)
        if len(a) % 2:
            a = np.concatenate([a, np.zeros(1, np.uint32)])
        lo, hi = a[0::2], a[1::2]
        b = np.empty((len(lo), 3), dtype=np.uint8)
        b[:, 0] = lo & 0xFF
        b[:, 1] = ((lo >> 8) & 0x0F) | ((hi & 0x0F) << 4)
        b[:, 2] = (hi >> 4) & 0xFF
        raw = b.tobytes()
    elif bits == 4:
        a = flat.astype(np.uint8)
        if len(a) % 2:
            a = np.concatenate([a, np.zeros(1, np.uint8)])
        raw = ((a[0::2] & 0x0F) | ((a[1::2] & 0x0F) << 4)).tobytes()
    else:  # pragma: no cover
        raise ValueError(bits)
    return zlib.compress(raw, 1)


def _unpack_table(params: CuckooParams, blob: bytes) -> CuckooTable:
    raw = zlib.decompress(blob)
    n = params.table_size * params.entries_per_bucket
    bits = params.bits_per_fp
    if bits in (8, 16, 32):
        flat = np.frombuffer(raw, dtype=params.dtype).copy()
    elif bits == 12:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.uint16)
        lo = b[:, 0] | ((b[:, 1] & 0x0F) << 8)
        hi = ((b[:, 1] >> 4) & 0x0F) | (b[:, 2] << 4)
        flat = np.empty(len(b) * 2, dtype=np.uint16)
        flat[0::2] = lo
        flat[1::2] = hi
        flat = flat[:n]
    elif bits == 4:
        b = np.frombuffer(raw, dtype=np.uint8)
        flat = np.empty(len(b) * 2, dtype=np.uint8)
        flat[0::2] = b & 0x0F
        flat[1::2] = b >> 4
        flat = flat[:n]
    else:  # pragma: no cover
        raise ValueError(bits)
    return CuckooTable(params, flat.reshape(params.table_size, params.entries_per_bucket))


def serialize_filter(f: CuckooFilter | DynamicCuckooFilter) -> bytes:
    if isinstance(f, CuckooFilter):
        kind = 0
        tables = [f.table]
        v_idx = -1 if f.victim is None else int(f.victim[0])
        v_fp = 0 if f.victim is None else int(f.victim[1])
    else:
        kind = 2 if f.dedup else 1
        tables = f.tables
        v_idx, v_fp = -1, 0
    p = f.params
    parts = [_HDR.pack(_MAGIC, kind, p.max_table_size, p.entries_per_bucket,
                       p.bits_per_fp, int(p.seed) & 0xFFFFFFFFFFFFFFFF,
                       len(tables), v_idx, v_fp)]
    for t in tables:
        blob = _pack_table(t)
        parts.append(struct.pack("<q", len(blob)))
        parts.append(blob)
    return b"".join(parts)


def is_filter_blob(data: bytes) -> bool:
    """True when *data* is filter bytes, not tagged sketch bytes.  Only the
    first byte is read, so a blob of an older filter format still goes to
    ``deserialize_filter``, which rejects its magic loudly."""
    return data[:1] == _MAGIC[:1]


def deserialize_filter(data: bytes) -> CuckooFilter | DynamicCuckooFilter:
    magic, kind, max_ts, epb, bits, seed, n_tables, v_idx, v_fp = \
        _HDR.unpack_from(data, 0)
    if magic != _MAGIC:
        raise ValueError(f"bad filter blob: magic {magic!r}, want {_MAGIC!r}")
    params = CuckooParams(max_table_size=max_ts, entries_per_bucket=epb,
                          bits_per_fp=bits, seed=seed)
    off = _HDR.size
    tables = []
    for _ in range(n_tables):
        (ln,) = struct.unpack_from("<q", data, off)
        off += 8
        tables.append(_unpack_table(params, data[off:off + ln]))
        off += ln
    if kind == 0:
        v = None if v_idx < 0 else (v_idx, v_fp)
        return CuckooFilter(params, table=tables[0], victim=v)
    return DynamicCuckooFilter(params, tables=tables, dedup=(kind == 2))
