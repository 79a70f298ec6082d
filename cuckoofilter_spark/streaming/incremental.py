"""Structured Streaming integration.

The sketches are monoids (create / update / merge / serialize), which makes
streaming maintenance trivial under Spark's own streaming primitives:

- ``StreamingSketchBuilder``: global sketch over an unbounded stream via
  ``foreachBatch`` — each micro-batch runs the same distributed
  per-partition-build → tree-merge as the batch path, then folds into the
  running sketch; the running blob is checkpointed per batch (alongside
  Spark's own streaming checkpoint), so a restarted query resumes from the
  last committed batch without re-reading history.
- ``streaming_distinct_by_key``: per-key distinct-count over a stream via
  ``applyInPandasWithState`` — the state value IS the serialized HLL, so
  state size is O(2^p) per key regardless of stream length.

Scale: both patterns shuffle sketch state, never rows; watermark/late-data
policy rides Spark's semantics untouched (the sketch merge is insensitive
to arrival order).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd

from cuckoofilter_spark.operators.build import decode, encode


class StreamingSketchBuilder:
    """Incremental global sketch over a streaming DataFrame.

    >>> b = StreamingSketchBuilder(lambda pid: HyperLogLog(p=12), "value",
    ...                            state_dir="/ckpt/hll")
    >>> q = b.attach(stream_df).trigger(availableNow=True).start()

    After each committed micro-batch, ``b.sketch`` is the sketch of every
    row seen so far (resumed from ``state_dir`` if the process restarted).
    """

    def __init__(self, factory, col: str, state_dir: str,
                 values: str = "int", num_partitions: int | None = None):
        self.factory = factory
        self.col = col
        self.values = values
        self.num_partitions = num_partitions
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self.sketch, self.last_batch_id = self._load()

    @property
    def _blob_path(self) -> str:
        return os.path.join(self.state_dir, "sketch.bin")

    #: state-file format marker: magic+version first, so a blob written by a
    #: different (or pre-versioning) format fails with a clear error instead
    #: of having its first bytes silently misread as a batch id
    _STATE_MAGIC = b"CFSKST01"

    def _load(self):
        if os.path.exists(self._blob_path):
            with open(self._blob_path, "rb") as f:
                raw = f.read()
            if raw[:8] != self._STATE_MAGIC:
                raise ValueError(
                    f"unrecognized sketch-state format in {self._blob_path!r}"
                    f" (magic {raw[:8]!r}, expected {self._STATE_MAGIC!r}) — "
                    "the state dir holds a blob from an incompatible version;"
                    " delete it to start fresh")
            # 8-byte little-endian last-committed batch id, then the blob —
            # one file so id+sketch commit atomically (single os.replace)
            bid = int.from_bytes(raw[8:16], "little", signed=True)
            return decode(raw[16:]), bid
        return None, -1

    def _persist(self, batch_id: int) -> None:
        tmp = self._blob_path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(self._STATE_MAGIC)
            f.write(int(batch_id).to_bytes(8, "little", signed=True))
            f.write(encode(self.sketch))
        os.replace(tmp, self._blob_path)
        self.last_batch_id = batch_id

    def process_batch(self, batch_df, batch_id: int) -> None:
        from cuckoofilter_spark.operators.sketch_build import build_sketch

        # foreachBatch is at-least-once: after a crash between our persist
        # and Spark's own batch commit, the batch replays — merging it again
        # would double-count for non-idempotent sketches (CMS/KLL/t-digest).
        if batch_id <= self.last_batch_id:
            return
        part = build_sketch(batch_df, self.col, self.factory,
                            num_partitions=self.num_partitions, values=self.values)
        if part is None:
            return
        self.sketch = part if self.sketch is None else self.sketch.merge(part)
        self._persist(batch_id)

    def attach(self, stream_df):
        """Return a DataStreamWriter wired to this builder's foreachBatch."""
        return stream_df.writeStream.foreachBatch(self.process_batch)


def streaming_distinct_by_key(stream_df, key_col: str, value_col: str,
                              p: int = 12, seed: int = 7):
    """Per-key streaming distinct count: groupBy(key) with an HLL held in
    Spark-managed state.  Emits (key, ndv_estimate) every trigger.

    The stateful operator keeps one serialized HLL per key — merge-on-update,
    no raw values retained — the canonical applyInPandasWithState shape for
    a mergeable aggregate."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cuckoofilter_spark.sketches.hll import HyperLogLog

    out_schema = StructType([
        StructField("key", StringType()),
        StructField("ndv_estimate", LongType()),
    ])
    state_schema = StructType([StructField("blob", BinaryType())])

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            hll = HyperLogLog.from_bytes(bytes(state.get[0]))
        else:
            hll = HyperLogLog(p=p, seed=seed)
        for pdf in pdfs:
            vals = pdf[value_col].dropna().to_numpy(dtype=np.int64)
            if len(vals):
                hll.update(vals)
        state.update((hll.to_bytes(),))
        yield pd.DataFrame({"key": [str(key[0])], "ndv_estimate": [int(hll.estimate())]})

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                GroupStateTimeout.NoTimeout)
    )
