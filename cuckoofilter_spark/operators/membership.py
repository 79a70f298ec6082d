"""Query side: broadcast the global filter, probe columns with a vectorized
pandas UDF — the distributed analog of ``containsElement``
(``CF/cuckoo_filter.h:274-289``) and the same shape as Spark's own
bloom-filter runtime join pruning (broadcast sketch + ``might_contain``).

The broadcast ships the zlib-packed wire blob once per executor; each Python
worker deserializes lazily on first batch and caches it process-wide, so the
cost is O(executors), not O(tasks) — the pattern that survives a
1000-executor fan-out.  The UDFs are iterator pandas UDFs, so the cache
lookup (an md5 of the whole blob) runs once per task, not once per batch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter

# per-worker-process cache: full-blob digest -> deserialized filter.
# The digest costs one pass over the (zlib-packed, ~100s of KB) blob on a
# cache miss/hit — microseconds vs the deserialize it saves; a truncated
# prefix key could alias two filters sharing a header (same params, payloads
# diverging later) and silently serve the wrong filter's answers.
_FILTER_CACHE: dict[bytes, object] = {}


def _get_filter(blob: bytes):
    key = hashlib.md5(blob).digest()
    f = _FILTER_CACHE.get(key)
    if f is None:
        f = deserialize_filter(blob)
        _FILTER_CACHE[key] = f
    return f


def cf_contains_udf(spark: SparkSession, filt) -> "callable":
    """Return a pandas UDF ``contains(col) -> boolean`` bound to a broadcast
    of *filt*.  Usable in DataFrame code and registrable for SQL:
    ``spark.udf.register("cf_contains", cf_contains_udf(spark, f))``."""
    bc = spark.sparkContext.broadcast(serialize_filter(filt))

    @pandas_udf("boolean")
    def contains(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        f = _get_filter(bc.value)
        for keys in batches:
            res = f.contains(keys.to_numpy(dtype="int64", na_value=0))
            null_mask = keys.isna().to_numpy()
            if null_mask.any():
                res = res & ~null_mask  # NULL is never a member (SQL-ish)
            yield pd.Series(res)

    return contains


def membership_df(spark: SparkSession, filt, probes: DataFrame, col: str,
                  keep: bool = True) -> DataFrame:
    """Filter *probes* to rows whose ``col`` is (keep=True) / is not
    (keep=False) possibly-in-set.  keep=False has NO false drops (cuckoo
    filters have no false negatives) — the safe direction for pipeline
    pruning, exactly how runtime join filters use Bloom sketches."""
    contains = cf_contains_udf(spark, filt)
    flag = contains(F.col(col))
    return probes.filter(flag if keep else ~flag)
