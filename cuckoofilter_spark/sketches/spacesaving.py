"""Space-saving / Misra–Gries top-k heavy-hitters sketch (batched form).

CMS answers "how often does key X occur?" but needs the candidates from
somewhere; this sketch FINDS them: k labeled counters, batch updates, and
the classic deterministic guarantee tracked explicitly as ``self.err``:

    est(v) ≤ true(v) ≤ est(v) + err      for every key v
    every v with true(v) > err is present in the sketch

``err`` is the cumulative decrement offset: each prune-to-k subtracts the
(len−k)-th smallest count from every counter and drops the non-positive
ones (the batched Misra–Gries step), adding that threshold to ``err``.
Merging sums counters pointwise, adds both errors, and prunes once —
mergeable, so it rides the same per-partition build → deterministic tree
as every other sketch; the global err is the bound that holds for the
whole stream.  At 10^12 tokens this finds the frequent-vocabulary set in
one pass with k·(key+8B) state and no corpus-wide groupBy.

Keys may be strings or ints (labels survive — the point of top-k).
"""

from __future__ import annotations

import json
import zlib
from collections import Counter

import numpy as np

from cuckoofilter_spark.sketches.base import register


@register
class SpaceSavingSketch:
    TAG = 9

    def __init__(self, k: int = 1024):
        assert k >= 8
        self.k = k
        self.counts: Counter = Counter()
        self.err = 0
        self.n_items = 0

    # -- core ---------------------------------------------------------------
    def _prune(self) -> None:
        over = len(self.counts) - self.k
        if over <= 0:
            return
        # threshold = the over-th smallest count: subtracting it everywhere
        # drops at least `over` counters and keeps the guarantee exact
        vals = np.fromiter(self.counts.values(), dtype=np.int64,
                           count=len(self.counts))
        t = int(np.partition(vals, over - 1)[over - 1])
        self.err += t
        self.counts = Counter(
            {key: c - t for key, c in self.counts.items() if c > t})

    def update(self, batch) -> None:
        if len(batch) == 0:
            return
        vals, cnts = np.unique(np.asarray(batch), return_counts=True)
        self.n_items += int(cnts.sum())
        for v, c in zip(vals.tolist(), cnts.tolist()):
            self.counts[v] += int(c)
        self._prune()

    def merge(self, other: "SpaceSavingSketch") -> "SpaceSavingSketch":
        if self.k != other.k:
            raise ValueError(f"merge: k {other.k} differs from {self.k}")
        self.counts.update(other.counts)
        self.err += other.err
        self.n_items += other.n_items
        self._prune()
        return self

    # -- queries ------------------------------------------------------------
    def estimate(self, key) -> int:
        """Lower-bound count: est ≤ true ≤ est + err."""
        return int(self.counts.get(key, 0))

    def top(self, m: int) -> list[tuple[object, int]]:
        """(key, est) for the m largest counters, est desc then key asc —
        deterministic ordering."""
        return sorted(self.counts.items(), key=lambda kv: (-kv[1], str(kv[0])))[:m]

    # -- serde --------------------------------------------------------------
    def to_bytes(self) -> bytes:
        payload = {"k": self.k, "err": self.err, "n": self.n_items,
                   "c": [[key, c] for key, c in self.counts.items()]}
        return zlib.compress(json.dumps(payload).encode("utf-8"), 1)

    @classmethod
    def from_bytes(cls, data: bytes) -> "SpaceSavingSketch":
        payload = json.loads(zlib.decompress(data).decode("utf-8"))
        s = cls(payload["k"])
        s.err = payload["err"]
        s.n_items = payload["n"]
        s.counts = Counter({(key if isinstance(key, str) else int(key)): int(c)
                            for key, c in payload["c"]})
        return s
