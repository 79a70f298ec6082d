"""Dynamic (growing) cuckoo filter + the distributed merge kernel.

Reference semantics (``DCF/dynamic_cuckoo_filter.h``): a chain of fixed-size
cuckoo filters; the active filter grows the chain when its count reaches
0.9 · slots (``DCF/cuckoo_filter.h:205``); contains/delete probe every chain
member with the once-computed (i1, i2, fp) (``:369-416``); ``compact()``
moves fingerprints from the sparsest filters into fuller ones and drops the
emptied ones (``:435-493``).

Ours differs in two deliberate, semantics-preserving ways:

- **No victim cache in the dynamic filter.**  Where the reference cascades a
  kick-loop leftover into the next chain member (``storeVictim``,
  ``:329-339``), we place the leftover into another table (appending a fresh
  one if needed) — inserts therefore never fail and no element is ever only
  victim-resident.  Queries stay identical (the victim was queryable in the
  reference too).
- **compact() moves fingerprints bucket-aligned, not slot-aligned.**  The
  reference requires the identical (bucket, slot) to be free in the
  recipient (``insertFingerprintIfEmpty``, ``DCF/cuckoo_table.h:200-211``);
  we require only the same *bucket* (either of a fingerprint's two buckets
  is valid — the partner is recoverable from (i, fp), which also lets us
  relocate).  Strictly more effective compaction, same membership answers.

The driver tail of a chained build (the last merge fold, then ``compact``)
runs no per-fingerprint NumPy-scalar loop: kick chains, sequential by the
reference's semantics, run on plain Python ints and take their eviction
slots from the filter's one buffered ``KickDraws``; ``compact`` removes a
donor's moved fingerprints in one vectorized ``delete_stored`` call.  Both
leave the bytes the per-element loops left.

``merge`` is the DCF chain/compaction machinery turned into a distributed
combiner: merging two filters = re-inserting every stored (bucket, fp) pair
of one into the other, chain-appending on overflow.  The stored fingerprint
multiset is preserved under any merge order, so *answers* are associative
and commutative (verified by permutation tests), which is what makes the
per-partition → tree-merge build correct.
"""

from __future__ import annotations

import numpy as np

from cuckoofilter_spark.core.cuckoo_table import CuckooTable, KickDraws
from cuckoofilter_spark.core.distinct import first_occurrence
from cuckoofilter_spark.hashing import hash64
from cuckoofilter_spark.params import CuckooParams


class DynamicCuckooFilter:
    """Chain of fixed-size cuckoo tables; inserts never fail.

    ``dedup=False`` (default): reference multiset semantics — every insert
    stores a fingerprint copy; n deletes undo n inserts.  This is also the
    reference's failure mode: >2·b copies of one (bucket-pair, fp) overflow
    (the reference's single table simply fills and rejects; our chain grows
    unboundedly), so it is wrong for corpus-scale streams with hot keys.

    ``dedup=True``: idempotent **set** semantics — a (bucket-pair, fp)
    already present (in-batch or in-chain) is skipped.  Membership answers
    are identical; storage is bounded by the number of distinct keys no
    matter how skewed the stream (a 10^12-token corpus whose hottest token
    appears 10^10 times stores it once).  This is the distributed-build
    default.  One delete removes membership (set semantics, documented).
    """

    __slots__ = ("params", "tables", "draws", "dedup")

    def __init__(self, params: CuckooParams, tables: list[CuckooTable] | None = None,
                 rng_seed: int = 0, dedup: bool = False):
        self.params = params
        self.tables = tables if tables is not None else [CuckooTable(params)]
        self.dedup = dedup
        self.draws = KickDraws(np.uint64(params.seed) ^ np.uint64(rng_seed) ^ np.uint64(0xD1CE),
                               params.entries_per_bucket)

    # -- hashing (shared with CF) --------------------------------------------
    def first_pass(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized ``firstPass`` (``CF/cuckoo_filter.h:181-188``):
        ``i1 = (h >> 32) & (size-1)``, ``fp = h & fp_mask`` forced non-zero."""
        h = hash64(np.asarray(keys), seed=self.params.seed)
        mask = np.uint64(self.params.table_size - 1)
        i1 = ((h >> np.uint64(32)) & mask).astype(np.int64)
        fp = (h & np.uint64(self.params.fp_mask)).astype(np.uint32)
        fp += (fp == 0).astype(np.uint32)
        return fp, i1

    # -- insert ------------------------------------------------------------------
    #: insert chunk: temporaries for 2^18 keys are ~6 MB — L3-resident, so
    #: the hash/dedup/placement scratch never round-trips DRAM.  Matters
    #: hugely when many workers share one memory bus (measured ~10× on 32
    #: procs).
    INSERT_CHUNK = 1 << 18

    def insert(self, keys: np.ndarray) -> int:
        """Batch insert; always succeeds; returns number inserted.

        Processed in cache-sized chunks; semantics are unchanged (dedup
        mode is idempotent across chunks via the chain-contains check;
        multiset mode appends every occurrence either way).  Dedup mode
        drops repeated keys before hashing (``distinct.first_occurrence``):
        the first occurrence of a (bucket pair, fp) is always the first
        occurrence of its key, so the stored bytes are the same."""
        keys = np.asarray(keys)
        n = len(keys)
        if n == 0:
            return 0
        for s in range(0, n, self.INSERT_CHUNK):
            chunk = keys[s:s + self.INSERT_CHUNK]
            if self.dedup:
                chunk = chunk[first_occurrence(chunk)]
            fp, i1 = self.first_pass(chunk)
            self._insert_fps(fp, i1)
        return n

    def update(self, keys: np.ndarray) -> None:
        """``Sketch``-protocol name of ``insert``: the build drivers
        (``operators/build.py``) fold every state through ``update``."""
        self.insert(keys)

    def _active(self) -> CuckooTable:
        """Last chain member with headroom below the 0.9 watermark
        (``nextCF``, ``DCF/dynamic_cuckoo_filter.h:302-326``)."""
        t = self.tables[-1]
        if t.element_count >= self.params.capacity:
            t = CuckooTable(self.params)
            self.tables.append(t)
        return t

    def _dedup_pairs(self, fps: np.ndarray, bidx: np.ndarray, distinct: bool = False):
        """Set-mode admission: drop pairs already present in the chain, and
        collapse in-batch duplicates, keyed by (canonical bucket pair, fp).
        The canonical key is (min(i, partner), fp) — identical whichever of
        its two buckets a fingerprint arrives or is stored at.  In-batch
        duplicates go by ``distinct.first_occurrence``, keeping each pair's
        first occurrence in batch order.  ``distinct``: the caller
        knows the batch holds no duplicate canonical key (a set-mode
        filter's stored pairs), so only the in-chain check runs."""
        if len(fps) == 0:
            return fps, bidx
        if not distinct:
            # in-batch dedup
            alt = self.tables[0].complement(bidx, fps)
            canon = np.minimum(bidx, alt)
            key = (canon.astype(np.uint64) << np.uint64(32)) | fps.astype(np.uint64)
            first = first_occurrence(key)
            fps, bidx = fps[first], bidx[first]
        # in-chain dedup (contains checks both buckets)
        present = self.contains_fps(fps, bidx)
        keep = ~present
        return fps[keep], bidx[keep]

    def _insert_fps(self, fps: np.ndarray, bidx: np.ndarray, distinct: bool = False) -> None:
        """Place a (fp, bucket) batch somewhere in the chain; grow on demand.
        ``distinct`` as in ``_dedup_pairs``."""
        if self.dedup:
            fps, bidx = self._dedup_pairs(fps, bidx, distinct)
        pend_fp, pend_i = fps, bidx
        while len(pend_fp):
            t = self._active()
            budget = self.params.capacity - t.element_count
            take_fp, take_i = pend_fp[:budget], pend_i[:budget]
            rest_fp, rest_i = pend_fp[budget:], pend_i[budget:]
            _, res_pos, res_alt = t.place_two_choice(take_fp, take_i)
            spill_fp, spill_i = [], []
            for fp, i in zip(take_fp[res_pos].tolist(), res_alt.tolist()):
                leftover = t.kick_insert(fp, i, self.draws)
                if leftover is not None:
                    spill_i.append(leftover[0])
                    spill_fp.append(leftover[1])
            if spill_fp:
                rest_fp = np.concatenate([np.asarray(spill_fp, dtype=np.uint32), rest_fp])
                rest_i = np.concatenate([np.asarray(spill_i, dtype=np.int64), rest_i])
            if len(rest_fp) and self.tables[-1].element_count < self.params.capacity:
                # kicks failed below the watermark (adversarial duplicate
                # pile-up): force growth so every round makes progress
                self.tables.append(CuckooTable(self.params))
            pend_fp, pend_i = rest_fp, rest_i

    # -- contains -------------------------------------------------------------------
    def contains(self, keys: np.ndarray) -> np.ndarray:
        """Probe every chain member with the once-computed (i1, i2, fp)
        (``containsElement``, ``DCF/dynamic_cuckoo_filter.h:369-391``)."""
        keys = np.asarray(keys)
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self.first_pass(keys)
        return self.contains_fps(fp, i1)

    def contains_fps(self, fp: np.ndarray, i1: np.ndarray) -> np.ndarray:
        i2 = self.tables[0].complement(i1, fp)
        res = np.zeros(len(fp), dtype=bool)
        for t in self.tables:
            miss = ~res
            if not miss.any():
                break
            res[miss] = t.contains_at(i1[miss], fp[miss]) | t.contains_at(i2[miss], fp[miss])
        return res

    # -- delete ----------------------------------------------------------------------
    def delete(self, keys: np.ndarray) -> np.ndarray:
        """First-hit delete across the chain
        (``deleteElement``, ``DCF/dynamic_cuckoo_filter.h:393-416``),
        vectorized: per chain member, one ``bulk_delete_at`` on the i1
        buckets then one on the still-remaining i2 buckets; satisfied
        requests drop out before the next table.  Copies of one (bucket
        pair, fp) are interchangeable, so the batch result is the same
        multiset state the per-key loop produces."""
        keys = np.asarray(keys)
        n = len(keys)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return out
        fp, i1 = self.first_pass(keys)
        i2 = self.tables[0].complement(i1, fp)
        remaining = np.arange(n, dtype=np.int64)
        for t in self.tables:
            for idx in (i1, i2):
                if len(remaining) == 0:
                    return out
                hit = t.bulk_delete_at(idx[remaining], fp[remaining])
                out[remaining[hit]] = True
                remaining = remaining[~hit]
        return out

    # -- compaction ---------------------------------------------------------------
    def compact(self) -> None:
        """Move fingerprints from the sparsest tables into the fullest and
        drop emptied tables (``compact``/``moveElements``,
        ``DCF/dynamic_cuckoo_filter.h:435-493``, ``DCF/cuckoo_filter.h:286-305``).
        Donor order: ascending element count (the reference bubble-sorts the
        same way, ``:477-493``) — canonical order keeps merges deterministic.

        Each donor's fingerprints go to the recipients by
        ``place_two_choice`` (own bucket, then partner; no kicks).  A fully
        moved donor is dropped; a partly moved one loses its moved copies in
        one ``CuckooTable.delete_stored``, which leaves the bytes of one
        ``delete_at`` per moved copy."""
        if len(self.tables) <= 1:
            return
        order = sorted(range(len(self.tables)), key=lambda i: (self.tables[i].element_count, i))
        donors = [self.tables[i] for i in order]
        survivors: list[CuckooTable] = [t for t in self.tables]
        for d in donors:
            if len(survivors) <= 1:
                break
            recipients = [t for t in survivors if t is not d]
            recipients.sort(key=lambda t: -t.element_count)
            rows, fps = d.nonzero_entries()
            remaining = np.ones(len(rows), dtype=bool)
            for r in recipients:
                if not remaining.any():
                    break
                idx = np.nonzero(remaining)[0]
                done, _, _ = r.place_two_choice(fps[idx], rows[idx])
                remaining[idx[done]] = False
            moved_mask = ~remaining
            if moved_mask.all():
                survivors.remove(d)
                d.table[:] = 0
                d.occ[:] = 0
                d.element_count = 0
            elif moved_mask.any():
                # physically remove the moved copies from the donor
                d.delete_stored(rows[moved_mask], fps[moved_mask])
        self.tables = survivors if survivors else [CuckooTable(self.params)]

    # -- merge ------------------------------------------------------------------------
    def merge(self, other: "DynamicCuckooFilter") -> "DynamicCuckooFilter":
        """Fold *other*'s stored fingerprint multiset into self (in-place;
        returns self).  Distributed analog of DCF chain growth + compaction:
        associative/commutative on membership answers by construction.

        A set-mode donor never stores one canonical (bucket pair, fp) twice,
        so its pairs skip the in-batch pass of a set-mode ``self`` and meet
        only the in-chain check; a multiset donor's copies still collapse."""
        assert self.params.to_tuple() == other.params.to_tuple(), "param mismatch"
        for t in other.tables:
            rows, fps = t.nonzero_entries()
            if len(rows):
                self._insert_fps(fps, rows, distinct=other.dedup)
        return self

    # -- stats ---------------------------------------------------------------------------
    @property
    def element_count(self) -> int:
        return sum(t.element_count for t in self.tables)

    @property
    def cf_count(self) -> int:
        """Chain length (``DCF/dynamic_cuckoo_filter.h:108-111``)."""
        return len(self.tables)

    def load_factor(self) -> float:
        return self.element_count / (self.params.slots * len(self.tables))

    def memory_bytes(self) -> int:
        return sum(t.table.nbytes for t in self.tables)
