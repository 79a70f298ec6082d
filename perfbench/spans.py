"""In-memory spans recorded around calls into the program's public functions.

A span has a name, start and end (epoch seconds, comparable with Spark's
stage timestamps), parent and a dict of counts (items, bytes, ...).  Spans
are kept in memory and written out once, when the run ends.
A span's self time is its duration minus the time its child spans cover;
calls are synchronous on one thread, so children never overlap.

Wrapping patches an attribute of a module or class and restores it on
``restore()``.  Only the benchmark process is patched: Spark workers import
the program afresh, so code shipped to them runs unwrapped.  Never patch a
name that a closure shipped to Spark references while a Spark job is being
built, or the wrapper itself would be pickled into the job.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def begin(self, name: str, **counts) -> dict:
        span = {"id": len(self.spans), "name": name, "start": time.time(),
                "end": None, "parent": self._stack[-1] if self._stack else None,
                "counts": counts, "child_s": 0.0}
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        if span["parent"] is not None:
            self.spans[span["parent"]]["child_s"] += span["end"] - span["start"]

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        s = self.begin(name, **counts)
        try:
            yield s
        finally:
            self.end(s)

    # -- patching --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, counts=None) -> None:
        """Replace ``owner.attr`` (a module function, method or classmethod)
        by a wrapper that records span ``name``.  ``counts(args, kwargs,
        result) -> dict`` adds counts to the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(orig, classmethod)
        fn = orig.__func__ if is_cm else orig
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.begin(name)
            try:
                res = fn(*args, **kwargs)
            finally:
                tracer.end(s)
            if counts is not None:
                s["counts"].update(counts(args, kwargs, res))
            return res

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries -------------------------------------------------------
    def totals(self, prefix: str = "") -> dict[str, dict]:
        """name -> {"n", "total_s", "self_s", counts summed...}."""
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["end"] is None or not s["name"].startswith(prefix):
                continue
            t = out[s["name"]]
            dur = s["end"] - s["start"]
            t["n"] += 1
            t["total_s"] += dur
            t["self_s"] += dur - s["child_s"]
            for k, v in s["counts"].items():
                t[k] += v
        return {k: dict(v) for k, v in out.items()}

    def last(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
