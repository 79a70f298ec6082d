"""Windowed streaming sketch aggregation: tumbling event-time windows,
watermark-driven late-data policy, sketch state per window.

``windowed_distinct`` = per-window streaming NDV: group by
``window(ts, size)`` under a watermark, hold one HLL per (window, key)
in Spark-managed state (``applyInPandasWithState``), emit the running
estimate every trigger and the final estimate when the watermark passes
the window end (EventTimeTimeout → state freed, late rows dropped by
Spark's own watermark semantics — the sketch merge itself is
arrival-order insensitive, so in-window reordering never changes the
answer).

State size is O(2^p) per open window regardless of stream volume — the
reason a sketch, not a distinct-set, is the right streaming state at
10^12 events."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd


def windowed_distinct(stream_df, ts_col: str, value_col: str,
                      window: str = "10 minutes",
                      watermark: str = "5 minutes",
                      slide: str | None = None,
                      p: int = 12, seed: int = 7):
    """(window_start, window_end, ndv_estimate, final) per trigger.

    ``slide``: sliding windows (e.g. 10-minute windows every 5 minutes) —
    each event updates every window containing it (Spark's window explode),
    one HLL state per overlapping window; omitted → tumbling."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from cuckoofilter_spark.sketches.hll import HyperLogLog

    out_schema = StructType([
        StructField("window_start", TimestampType()),
        StructField("window_end", TimestampType()),
        StructField("ndv_estimate", LongType()),
        StructField("final", BooleanType()),
    ])
    state_schema = StructType([StructField("blob", BinaryType())])

    # Spark hands the state operator tz-NAIVE timestamps rendered in the
    # session timezone, while getCurrentWatermarkMs() is true epoch millis;
    # naive Timestamp.timestamp() would read them as UTC and skew the
    # watermark comparison by the tz offset.  Capture the session tz at plan
    # time and localize before converting to epoch.
    session_tz = stream_df.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC") or "UTC"

    def _epoch_ms(ts) -> int:
        t = pd.Timestamp(ts)
        if t.tzinfo is None:
            t = t.tz_localize(session_tz)
        return int(t.timestamp() * 1000)

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        w = key[0]  # the window struct arrives as a dict (or Row)
        start, end = (w["start"], w["end"]) if isinstance(w, dict) else (w[0], w[1])
        if state.hasTimedOut:
            hll = HyperLogLog.from_bytes(bytes(state.get[0]))
            state.remove()
            yield pd.DataFrame({"window_start": [start], "window_end": [end],
                                "ndv_estimate": [int(hll.estimate())],
                                "final": [True]})
            return
        hll = (HyperLogLog.from_bytes(bytes(state.get[0]))
               if state.exists else HyperLogLog(p=p, seed=seed))
        for pdf in pdfs:
            vals = pdf[value_col].dropna().to_numpy(dtype=np.int64)
            if len(vals):
                hll.update(vals)
        end_ms = _epoch_ms(end)
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms >= end_ms:
            # watermark already past the window (bursty/out-of-order files):
            # this is the final update — emit and free the state now
            state.remove()
            yield pd.DataFrame({"window_start": [start], "window_end": [end],
                                "ndv_estimate": [int(hll.estimate())],
                                "final": [True]})
            return
        state.update((hll.to_bytes(),))
        # finalize once the watermark passes the window end
        state.setTimeoutTimestamp(end_ms)
        yield pd.DataFrame({"window_start": [start], "window_end": [end],
                            "ndv_estimate": [int(hll.estimate())],
                            "final": [False]})

    return (
        stream_df.withWatermark(ts_col, watermark)
        # materialize the window as a plain column: applyInPandasWithState
        # resolves grouping by name, not by expression
        .withColumn("win", F.window(ts_col, window, slide or window))
        # keep exactly one event-time column (the window struct carries the
        # watermark); leaving ts in as well trips "more than one event time
        # column" in the state operator
        .select("win", value_col)
        .groupBy("win")
        .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                GroupStateTimeout.EventTimeTimeout)
    )
