"""Packed fingerprint table — the NumPy replacement for the reference's
``CuckooTable`` + ``BitManager`` (``CF/cuckoo_table.h``, ``Utils/bit_manager.*``).

Layout: a ``(table_size, entries_per_bucket)`` NumPy array of the smallest
unsigned dtype holding ``bits_per_fp`` (4/12-bit configs live in uint8/uint16
*lanes*; dense packing happens only at serialization).  0 encodes an empty
slot, so fingerprints are forced non-zero upstream
(``CF/cuckoo_filter.h:172-178``).

Invariant: buckets are **left-packed** — the ``occ[i]`` occupied slots of
bucket *i* are slots ``0..occ[i]-1``.  The reference does not maintain this
(it scans for the first empty slot, ``CF/cuckoo_table.h:223-241``); we do
because it turns bulk insertion into a fully vectorized
sort → rank → scatter, with identical membership semantics (slot position
within a bucket is unobservable through the filter API).

Probing follows the reference's SWAR word test (``containsFingerprint``,
``CF/cuckoo_table.h:244-263``), vectorized across the probe batch: each
bucket is viewed as one machine word (4×8 and 4×16 lanes, 2×32 lanes —
every legal config is 32 or 64 bits) and all of its lanes are tested for
the fingerprint at once with the has-zero trick.
"""

from __future__ import annotations

import numpy as np

from cuckoofilter_spark.core.distinct import runs
from cuckoofilter_spark.params import KICKS_MAX_COUNT, LEGAL_CONFIGS, MURMUR_CONST, CuckooParams

_U32_MASK = np.uint64(0xFFFFFFFF)
_MC = int(MURMUR_CONST)


def _swar_lanes(epb: int, lane: type) -> tuple[type, np.unsignedinteger, np.unsignedinteger]:
    """(word dtype, 1 in every lane, top bit of every lane) for a bucket
    of ``epb`` lanes of dtype ``lane``."""
    width = np.dtype(lane).itemsize * 8
    word = np.uint32 if epb * width == 32 else np.uint64
    ones = sum(1 << (width * k) for k in range(epb))
    return word, word(ones), word(ones << (width - 1))


#: (entries_per_bucket, bits_per_fp) -> ``_swar_lanes`` of its bucket word
_SWAR = {cfg: _swar_lanes(cfg[0], lane) for cfg, lane in LEGAL_CONFIGS.items()}


class KickDraws:
    """The eviction-slot draws of one filter's kick loops: a seeded
    ``np.random.Generator`` read ``BUFFER`` draws at a time.

    ``Generator.integers(epb, size=n)`` yields exactly the values (and
    leaves exactly the generator state) of ``n`` scalar
    ``integers(epb)`` calls, for every legal ``epb`` (2 and 4: a
    power-of-two bound never rejects a 32-bit draw).  The filter's
    generator is read by nothing but its kicks and is not serialized, so
    the draws a build consumes, and therefore its bytes, are those of one
    scalar draw per kick; a scalar draw costs ~2 µs, the buffered one tens
    of ns."""

    __slots__ = ("gen", "epb", "buf", "pos")

    BUFFER = 1024

    def __init__(self, seed: np.uint64, epb: int):
        self.gen = np.random.default_rng(seed)
        self.epb = epb
        self.buf: list[int] = []
        self.pos = 0

    def refill(self) -> list[int]:
        """Draw the next ``BUFFER`` slots; returns the new buffer."""
        self.buf = self.gen.integers(self.epb, size=self.BUFFER).tolist()
        self.pos = 0
        return self.buf


class CuckooTable:
    """One fixed-size packed fingerprint table."""

    __slots__ = ("params", "table", "occ", "element_count")

    def __init__(self, params: CuckooParams, table: np.ndarray | None = None):
        self.params = params
        if table is None:
            self.table = np.zeros((params.table_size, params.entries_per_bucket), dtype=params.dtype)
        else:
            assert table.shape == (params.table_size, params.entries_per_bucket)
            self.table = np.ascontiguousarray(table)  # one bucket = one word
        self.occ = np.count_nonzero(self.table, axis=1).astype(np.int8)
        self.element_count = int(self.occ.sum())

    # -- index math -------------------------------------------------------
    def complement(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Partner index i2 = (i1 XOR (fp * MURMUR_CONST)) & (size-1)
        (``Utils/hash_function.h:36-38`` + ``CF/cuckoo_filter.h:191-196``).
        Involutive under the power-of-two mask, so either index recovers the
        other — the property that makes tables mergeable without raw keys."""
        mask = np.uint64(self.params.table_size - 1)
        i = idx.astype(np.uint64, copy=False)
        f = fp.astype(np.uint64, copy=False)
        with np.errstate(over="ignore"):
            h = (f * MURMUR_CONST) & _U32_MASK
        return ((i ^ h) & mask).astype(np.int64)

    # -- bulk placement ---------------------------------------------------
    def bulk_place(self, fps: np.ndarray, bidx: np.ndarray) -> np.ndarray:
        """Place as many (fp, bucket) pairs as fit without eviction.

        Fully vectorized first-fit: stable-sort by bucket, rank within its
        run (``distinct.runs``), admit ranks below the bucket's free slots,
        scatter into the left-packed slots.  Returns a boolean mask of placed
        items.  Semantics match repeated ``replacingFingerprintInsertion(..,
        eject=false)`` (``CF/cuckoo_table.h:223-241``): duplicates are
        stored as a multiset, full buckets reject.
        """
        n = len(fps)
        if n == 0:
            return np.zeros(0, dtype=bool)
        epb = self.params.entries_per_bucket
        order = np.argsort(bidx, kind="stable")
        sb = bidx[order]
        start, counts = runs(sb)
        uniq = sb[start]
        rank = np.arange(n, dtype=np.int64) - np.repeat(start, counts)
        occ_u = self.occ[uniq].astype(np.int64)
        free_u = epb - occ_u
        ok_sorted = rank < np.repeat(free_u, counts)
        slots_sorted = np.repeat(occ_u, counts) + rank
        rows = sb[ok_sorted]
        cols = slots_sorted[ok_sorted]
        self.table[rows, cols] = fps[order][ok_sorted].astype(self.table.dtype)
        self.occ[uniq] += np.minimum(counts, free_u).astype(np.int8)
        placed = np.zeros(n, dtype=bool)
        placed[order[ok_sorted]] = True
        self.element_count += int(ok_sorted.sum())
        return placed

    def place_two_choice(self, fps: np.ndarray, bidx: np.ndarray
                         ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """``bulk_place`` at each pair's own bucket, then the rest at its
        partner bucket.  Returns ``(placed, res_pos, res_alt)``: the placed
        mask, the ascending input positions of the pairs neither bucket
        took, and their partner buckets, where a kick chain starts."""
        placed = self.bulk_place(fps, bidx)
        pend = np.flatnonzero(~placed)
        if len(pend) == 0:
            return placed, pend, pend
        alt = self.complement(bidx[pend], fps[pend])
        placed2 = self.bulk_place(fps[pend], alt)
        placed[pend[placed2]] = True
        return placed, pend[~placed2], alt[~placed2]

    # -- kick loop ---------------------------------------------------------
    def kick_insert(self, fp: int, idx: int, draws: KickDraws):
        """Eviction chain for one residual item, reference
        ``CF/cuckoo_filter.h:199-223``: bounded at KICKS_MAX_COUNT (500),
        random in-bucket eviction (``CF/cuckoo_table.h:236``; the slot is
        the next draw of the filter's seeded ``KickDraws``, for determinism
        and resume-safety).

        Returns ``None`` on success, else the ``(index, fp)`` pair left over
        when the bound is hit (the reference parks it in the victim cache).

        The chain is sequential, so it runs on plain Python ints: the table
        and the occupancy are read and written through flat memoryviews
        (slot ``i * epb + j``), never through NumPy scalars.
        """
        epb = self.params.entries_per_bucket
        mask = self.params.table_size - 1
        tbl = memoryview(self.table.reshape(-1))
        occ = memoryview(self.occ)
        cur_fp = int(fp)
        cur_i = int(idx)
        # Futile-eviction fast path: when BOTH candidate buckets are full
        # of this very fingerprint (multiset mode piling copies of one hot
        # key), every kick swaps fp for fp and the complement bounces
        # between the same two buckets — 500 iterations that provably
        # cannot place anything.  Park it immediately instead (measured:
        # 500 duplicate inserts 38 s → linear without this).
        alt = (cur_i ^ ((cur_fp * _MC) & 0xFFFFFFFF)) & mask
        if (occ[cur_i] == epb and occ[alt] == epb
                and tbl[cur_i * epb:(cur_i + 1) * epb].tolist() == [cur_fp] * epb
                and tbl[alt * epb:(alt + 1) * epb].tolist() == [cur_fp] * epb):
            return (cur_i, cur_fp)
        buf, pos = draws.buf, draws.pos
        for _ in range(KICKS_MAX_COUNT):
            o = occ[cur_i]
            if o < epb:
                tbl[cur_i * epb + o] = cur_fp
                occ[cur_i] = o + 1
                self.element_count += 1
                draws.pos = pos
                return None
            if pos == len(buf):
                buf, pos = draws.refill(), 0
            s = cur_i * epb + buf[pos]
            pos += 1
            cur_fp, tbl[s] = tbl[s], cur_fp
            cur_i = (cur_i ^ ((cur_fp * _MC) & 0xFFFFFFFF)) & mask
        draws.pos = pos
        return (cur_i, cur_fp)

    # -- probing ------------------------------------------------------------
    def contains_at(self, idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized bucket probe: for each (bucket, fp) pair, does the
        bucket hold fp?  (batch analog of ``containsFingerprint``,
        ``CF/cuckoo_table.h:244-263``).  ``x = word ^ (fp · ones)`` has a
        zero lane exactly where the bucket holds fp, and
        ``(x - ones) & ~x & high`` is non-zero exactly when some lane of x
        is zero.  Empty slots never match: fingerprints are non-zero."""
        if len(idx) == 0:
            return np.zeros(0, dtype=bool)
        word, ones, high = _SWAR[(self.params.entries_per_bucket, self.params.bits_per_fp)]
        x = self.table.view(word)[idx, 0]
        x ^= fps.astype(self.table.dtype).astype(word) * ones
        return ((x - ones) & ~x & high) != 0

    # -- deletion ------------------------------------------------------------
    def delete_at(self, idx: int, fp: int) -> bool:
        """Remove one copy of fp from bucket idx, keeping the bucket
        left-packed (semantics of ``deleteFingerprint``,
        ``CF/cuckoo_table.h:266-275``)."""
        row = self.table[idx]
        hits = np.nonzero(row == row.dtype.type(fp))[0]
        if hits.size == 0:
            return False
        j = int(hits[0])
        last = int(self.occ[idx]) - 1
        row[j] = row[last]
        row[last] = 0
        self.occ[idx] = last
        self.element_count -= 1
        return True

    def delete_stored(self, rows: np.ndarray, fps: np.ndarray) -> None:
        """Remove stored copies, one per (row, fp) pair, leaving the exact
        bytes of calling ``delete_at(row, fp)`` on each pair in order.

        Every pair must name a stored copy, and ``rows`` must be
        non-decreasing (``nonzero_entries`` order, so each bucket's pairs
        are one run).  Buckets are independent, so pass k replays every
        bucket's k-th ``delete_at`` at once: first lane holding the fp ←
        last occupied lane, last lane ← 0, occ −= 1.  A bucket has at most
        ``entries_per_bucket`` pairs, which bounds the passes."""
        n = len(rows)
        if n == 0:
            return
        start, counts = runs(rows)
        rank = np.arange(n) - np.repeat(start, counts)
        tbl = self.table
        for k in range(int(rank.max()) + 1):
            sel = rank == k
            r = rows[sel]
            hit = tbl[r] == fps[sel].astype(tbl.dtype)[:, None]
            assert hit.any(axis=1).all(), "delete_stored: pair not stored"
            j = hit.argmax(axis=1)
            last = self.occ[r].astype(np.int64) - 1
            tbl[r, j] = tbl[r, last]
            tbl[r, last] = 0
            self.occ[r] = last
        self.element_count -= n

    def bulk_delete_at(self, bidx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized batch of ``delete_at``: for each (bucket, fp) request
        remove ONE stored copy if present; duplicate requests consume one
        copy each while copies last.  Returns the per-request deleted mask.

        Fully vectorized: requests collapse to unique (bucket, fp) pairs
        with multiplicities; per pair ``min(requested, stored)`` copies are
        cleared (different fps in one bucket occupy disjoint slots, so the
        scatter is conflict-free), then touched buckets re-left-pack in one
        argsort.  Against a loop of ``delete_at`` over the same requests,
        the deleted mask, each bucket's multiset of fingerprints, ``occ``
        and so membership are the same, but the slot order is not: this
        keeps survivors in their order, ``delete_at`` moves the last lane
        into the hole (bucket ``[5, 6, 7, 8]`` minus 5 is ``[6, 7, 8, 0]``
        here, ``[8, 6, 7, 0]`` there)."""
        n = len(bidx)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return out
        key = (bidx.astype(np.uint64) << np.uint64(32)) | fps.astype(np.uint64)
        order = np.argsort(key, kind="stable")
        sk = key[order]
        start, req = runs(sk)
        uniq = sk[start]
        ub = (uniq >> np.uint64(32)).astype(np.int64)
        uf = (uniq & np.uint64(0xFFFFFFFF)).astype(self.table.dtype)
        rows = self.table[ub]                      # (m, epb) gathered copies
        match = rows == uf[:, None]
        avail = match.sum(axis=1)
        ndel = np.minimum(avail, req)
        if not ndel.any():
            return out
        # grant the first ndel requests of each run (sorted order)
        rank = np.arange(n, dtype=np.int64) - np.repeat(start, req)
        granted_sorted = rank < np.repeat(ndel, req)
        out[order[granted_sorted]] = True
        # clear ndel matched slots per pair; within a bucket different fps
        # match disjoint slots, so (bucket, col) writes never collide
        mrank = np.cumsum(match, axis=1) - match
        clear = match & (mrank < ndel[:, None])
        pi, cols = np.nonzero(clear)
        self.table[ub[pi], cols] = 0
        # re-left-pack every touched bucket (occupied slots first, stable);
        # a bucket listed twice gets the same packed row twice
        tb = ub[ndel > 0]
        trows = self.table[tb]
        pack = np.argsort(trows == 0, axis=1, kind="stable")
        self.table[tb] = np.take_along_axis(trows, pack, axis=1)
        self.occ[tb] = np.count_nonzero(self.table[tb], axis=1).astype(np.int8)
        self.element_count -= int(ndel.sum())
        return out

    # -- stats ---------------------------------------------------------------
    @property
    def free_entries(self) -> int:
        return self.params.slots - self.element_count

    def load_factor(self) -> float:
        return self.element_count / self.params.slots

    def availability(self) -> float:
        """% free slots, reference ``CF/cuckoo_filter.h:305-310``."""
        return self.free_entries / self.params.slots * 100.0

    def nonzero_entries(self) -> tuple[np.ndarray, np.ndarray]:
        """All stored (bucket_index, fp) pairs — the mergeable content."""
        rows, cols = np.nonzero(self.table)
        return rows.astype(np.int64), self.table[rows, cols].astype(np.uint32)
