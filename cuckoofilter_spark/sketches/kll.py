"""KLL quantile sketch (Karnin–Lang–Liberty 2016), practical variant as in
Apache DataSketches: a stack of compactors where level l holds items of
weight 2^l; when total size exceeds the capacity budget the lowest
over-capacity level is sorted and every other item (random parity) is
promoted.  Normalized rank error ≈ 2.21/k… ~1% at k=200 (single-sided w.h.p.;
tests assert with slack).  Merge = level-wise concatenation + re-compress.

Determinism: the compaction parity comes from a counter-free seeded RNG, so
the same partitions folded through the same merge tree (operators/build.py)
give the same bytes on every run.  KLL is sensitive to update and merge
*order*, so its bytes follow the partition layout: a different scan split
size (``spark.sql.files.maxPartitionBytes``) gives different bytes, even
with ``num_partitions`` fixed; the rank-error guarantee does not depend on
the layout.
"""

from __future__ import annotations

import pickle

import numpy as np

from cuckoofilter_spark.sketches.base import register


@register
class KLLSketch:
    TAG = 5

    C = 2.0 / 3.0
    MIN_CAP = 8

    def __init__(self, k: int = 200, seed: int = 0):
        self.k = int(k)
        self.seed = int(seed)
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self._rng = np.random.default_rng(seed ^ 0x5EED)

    # -- capacity -----------------------------------------------------------
    def _cap(self, level: int) -> int:
        depth = len(self.levels)
        return max(int(self.k * (self.C ** (depth - 1 - level))), self.MIN_CAP)

    def _budget(self) -> int:
        return sum(self._cap(l) for l in range(len(self.levels)))

    # -- update -------------------------------------------------------------
    def update(self, batch: np.ndarray) -> None:
        batch = np.asarray(batch, dtype=np.float64)
        batch = batch[~np.isnan(batch)]
        if len(batch) == 0:
            return
        self.levels[0] = np.concatenate([self.levels[0], batch])
        self.n += len(batch)
        self._compress()

    def _compress(self) -> None:
        while sum(len(b) for b in self.levels) > self._budget():
            for l in range(len(self.levels)):
                if len(self.levels[l]) > self._cap(l):
                    buf = np.sort(self.levels[l])
                    # odd size: one item stays at this level, pairs compact
                    if len(buf) % 2 == 1:
                        keep = buf[-1:]
                        buf = buf[:-1]
                    else:
                        keep = np.empty(0, dtype=np.float64)
                    # promote a random parity; survivors now weigh 2^(l+1)
                    off = int(self._rng.integers(2))
                    promoted = buf[off::2]
                    self.levels[l] = keep
                    if len(self.levels) == l + 1:
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[l + 1] = np.concatenate([self.levels[l + 1], promoted])
                    break
            else:
                break

    # -- merge ---------------------------------------------------------------
    def merge(self, other: "KLLSketch") -> "KLLSketch":
        assert self.k == other.k
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for l, buf in enumerate(other.levels):
            if len(buf):
                self.levels[l] = np.concatenate([self.levels[l], buf])
        self.n += other.n
        self._compress()
        return self

    # -- query -----------------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for l, buf in enumerate(self.levels):
            if len(buf):
                vals.append(buf)
                wts.append(np.full(len(buf), 1 << l, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q) -> np.ndarray | float:
        scalar = np.isscalar(q)
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        v, w = self._weighted()
        if len(v) == 0:
            out = np.full(len(qs), np.nan)
            return float(out[0]) if scalar else out
        cum = np.cumsum(w)
        targets = np.clip(qs, 0, 1) * cum[-1]
        pos = np.searchsorted(cum, targets, side="left")
        pos = np.minimum(pos, len(v) - 1)
        out = v[pos]
        return float(out[0]) if scalar else out

    def rank(self, value: float) -> float:
        v, w = self._weighted()
        if len(v) == 0:
            return float("nan")
        cum = np.cumsum(w)
        i = np.searchsorted(v, value, side="right")
        return (cum[i - 1] if i else 0) / cum[-1]

    @property
    def rank_error(self) -> float:
        # practical normalized rank error for the 2/3-decay variant
        return 2.21 / self.k

    # -- serde ------------------------------------------------------------------
    def to_bytes(self) -> bytes:
        return pickle.dumps(
            {"k": self.k, "seed": self.seed, "n": self.n,
             "levels": [b for b in self.levels]},
            protocol=4,
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLLSketch":
        d = pickle.loads(data)
        s = cls(d["k"], d["seed"])
        s.levels = [np.asarray(b, dtype=np.float64) for b in d["levels"]]
        s.n = d["n"]
        return s
