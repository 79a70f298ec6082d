"""Distinct values and sorted runs of one NumPy batch: the one place that
chooses between counting and sorting.  A batch that spans fewer integers
than it has values (a Zipf token chunk over a small vocabulary) is counted
through its offsets from its minimum; any other batch is sorted once.
Every answer equals ``np.unique``'s."""

from __future__ import annotations

import numpy as np


def runs(s: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(start, counts)`` of the runs of equal values of the sorted array
    ``s`` (``np.unique``'s first indices and counts), from one ``!=`` pass."""
    new = np.empty(len(s), dtype=bool)
    new[:1] = True
    np.not_equal(s[1:], s[:-1], out=new[1:])
    start = np.flatnonzero(new)
    return start, np.diff(start, append=len(s))


def _dense_offsets(a: np.ndarray):
    """``(a - min(a), min(a))`` with the offsets in the unsigned twin dtype
    (a span of 255 wraps in int8, not in uint8), or ``None`` unless ``a`` is
    a non-empty integer batch that spans fewer than ``len(a)`` integers."""
    if a.dtype.kind not in "iu" or len(a) == 0:
        return None
    lo, hi = a.min(), a.max()
    if int(hi) - int(lo) >= len(a):
        return None
    u = np.dtype(f"u{a.itemsize}")
    return a.view(u) - np.array(lo).view(u), lo


def first_occurrence(a: np.ndarray) -> np.ndarray:
    """Mask of the first occurrence of each distinct value of ``a``: the
    least position of each offset (``np.minimum.at``) in a dense batch, else
    of each run of one quicksort (``np.minimum.reduceat`` of the order, so
    the order an unstable sort leaves inside a run does not matter)."""
    n = len(a)
    mask = np.zeros(n, dtype=bool)
    dense = _dense_offsets(a)
    if dense is not None:
        firsts = np.full(int(dense[0].max()) + 1, n, dtype=np.intp)
        np.minimum.at(firsts, dense[0], np.arange(n))
        mask[firsts[firsts < n]] = True
    elif n:
        order = np.argsort(a, kind="quicksort")
        mask[np.minimum.reduceat(order, runs(a[order])[0])] = True
    return mask


def dense_counts(batch: np.ndarray):
    """``(keys, counts)``: the distinct values of a dense batch
    (``_dense_offsets``), ascending and in its own dtype, with their
    counts; ``None`` for any other batch."""
    dense = _dense_offsets(batch)
    if dense is None:
        return None
    counts = np.bincount(dense[0].astype(np.intp))
    nz = np.flatnonzero(counts)
    # keys back in the batch's dtype: intp + uint64 would promote to
    # float64 and round keys near 2^64; the wrap-around sum is exact
    return nz.astype(batch.dtype) + dense[1], counts[nz]
