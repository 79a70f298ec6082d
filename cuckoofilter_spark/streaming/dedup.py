"""Streaming first-seen dedup with cuckoo-filter state — the bounded-state
`dropDuplicates` for 10^12-key streams.

Spark's own ``dropDuplicates`` on a stream keeps every key verbatim in
state (8+ bytes/key plus row overhead, forever).  Here the state per
route is a serialized dedup-mode ``DynamicCuckooFilter``: ~2 bytes per
distinct key at f=16, with the membership error bound ε = 2b/2^f.

Semantics (documented, not hidden):

- **at-most-once per key is guaranteed** — a key that already passed can
  never pass again (cuckoo filters have no false negatives);
- a *new* key may be wrongly dropped with probability ≤ ε (a false
  positive against the seen-set) — the classic approximate-dedup trade;
  size ``params`` for the expected distinct count per route to keep ε at
  its configured bound.

Keys shuffle once by ``route = pmod(xxhash64(key), n_routes)`` (the same
uniform routing as ``operators/routed``), so hot keys don't skew state
and each route's filter stays broadcast-sized.  State is Spark-managed
(``applyInPandasWithState``): checkpointed, recovered, and rescaled with
the query.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from cuckoofilter_spark.core.distinct import first_occurrence
from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
from cuckoofilter_spark.params import CuckooParams

ROUTE_SEED = 0xD5


def streaming_dedup_by_key(stream_df, key_col: str,
                           params: CuckooParams | None = None,
                           n_routes: int = 64):
    """Rows whose ``key_col`` has not been seen before on the stream.
    Output schema = input schema; ``params`` sizes each per-route filter
    (→ distinct keys per route ≈ total distinct / n_routes)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BinaryType, StructField, StructType

    p = params or CuckooParams()
    ptuple = p.to_tuple()
    out_schema = stream_df.schema
    state_schema = StructType([StructField("blob", BinaryType())])
    cols = list(stream_df.columns)

    def fn(key: Any, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            filt = deserialize_filter(bytes(state.get[0]))
        else:
            filt = DynamicCuckooFilter(CuckooParams.from_tuple(ptuple),
                                       rng_seed=int(key[0]), dedup=True)
        for pdf in pdfs:
            keys = pdf[key_col].to_numpy(dtype=np.int64, na_value=0)
            if len(keys) == 0:
                continue
            # first occurrence within the batch...
            fresh = first_occurrence(keys)
            # ...and not already in the seen-set filter
            fresh[fresh] = ~filt.contains(keys[fresh])
            if fresh.any():
                filt.insert(keys[fresh])
                yield pdf.loc[fresh, cols]
        state.update((serialize_filter(filt),))

    routed = stream_df.withColumn(
        "_route", F.pmod(F.xxhash64(F.col(key_col), F.lit(ROUTE_SEED)),
                         F.lit(n_routes)))
    return (routed.groupBy("_route")
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))
