"""SQL surface: register built filters/sketches as session UDFs so
membership and estimation are queryable from ``spark.sql`` — the
"queryable for token/doc membership from SQL" obligation.

    filt = build_filter(df, "tokens", params)
    register_filter(spark, filt, "corpus_contains")
    spark.sql("SELECT * FROM candidates WHERE corpus_contains(token)")

Each registration broadcasts the serialized state once; executors
deserialize lazily and cache per worker process, looked up once per task
(see operators/membership).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from cuckoofilter_spark.operators.membership import _get_filter
from cuckoofilter_spark.sketches.base import deserialize_sketch, serialize_sketch


def register_filter(spark: SparkSession, filt, name: str = "cf_contains"):
    """Register ``name(key) -> boolean`` membership UDF for SQL use."""
    from cuckoofilter_spark.operators.membership import cf_contains_udf

    udf = cf_contains_udf(spark, filt)
    spark.udf.register(name, udf)
    return udf


# full-blob digest key: a prefix-hash key aliases two same-param sketches
# whose headers match but whose payloads diverge (see operators/membership)
_SKETCH_CACHE: dict[bytes, object] = {}


def _get_sketch(blob: bytes):
    key = hashlib.md5(blob).digest()
    s = _SKETCH_CACHE.get(key)
    if s is None:
        s = deserialize_sketch(blob)
        _SKETCH_CACHE[key] = s
    return s


def register_sketch(spark: SparkSession, sketch, name: str):
    """Register a sketch point-query UDF:

    - CountMinSketch → ``name(key) -> bigint`` (frequency estimate)
    - BloomFilter    → ``name(key) -> boolean``
    """
    import numpy as np

    bc = spark.sparkContext.broadcast(serialize_sketch(sketch))
    kind = type(sketch).__name__

    if kind == "BloomFilter":
        @pandas_udf("boolean")
        def fn(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            s = _get_sketch(bc.value)
            for keys in batches:
                yield pd.Series(s.contains(keys.to_numpy(dtype=np.int64, na_value=0)))
    elif kind == "CountMinSketch":
        @pandas_udf("long")
        def fn(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            s = _get_sketch(bc.value)
            for keys in batches:
                yield pd.Series(s.estimate(keys.to_numpy(dtype=np.int64, na_value=0)))
    else:
        raise ValueError(f"no SQL point-query shape for {kind}")
    spark.udf.register(name, fn)
    return fn


def register_sketch_aggs(spark: SparkSession, name_ndv: str = "hll_ndv",
                         name_quantile: str = "kll_quantile",
                         p: int = 12, k: int = 200, seed: int = 7):
    """Register the sketches as SQL AGGREGATE functions (grouped-agg
    pandas UDAFs), so approximate aggregation is plain SQL text::

        SELECT event_type, hll_ndv(user_id), kll_quantile(value, 0.5)
        FROM events GROUP BY event_type

    They also work over windows (``hll_ndv(x) OVER (PARTITION BY k)``).

    Scale note: Spark executes grouped-agg pandas UDAFs by shuffling each
    group's raw values to its reducer (no partial aggregation) — same
    movement as the unsalted path of ``operators/sketch_groupby``'s one
    per-key driver, with the same bounded O(2^p)/O(k·log n) reducer state
    once there and the same NULL rule.  For skewed keys prefer
    ``sketch_groupby.ndv_by_key(salt_buckets=...)``, which builds one
    partial per (key, salt) and folds them per key in salt order.
    """
    import numpy as np

    from cuckoofilter_spark.sketches.hll import HyperLogLog
    from cuckoofilter_spark.sketches.kll import KLLSketch

    @pandas_udf("long")
    def ndv_agg(v: pd.Series) -> int:
        hll = HyperLogLog(p=p, seed=seed)
        # COUNT(DISTINCT) semantics: NULLs are not values — drop them
        # instead of conflating them with a genuine 0 (an all-NULL group
        # estimates 0, matching countDistinct)
        vals = v.dropna().to_numpy(dtype=np.int64)
        if len(vals):
            hll.update(vals)
        return int(hll.estimate())

    @pandas_udf("double")
    def quantile_agg(v: pd.Series, q: pd.Series) -> float:
        kll = KLLSketch(k=k, seed=seed)
        vals = v.to_numpy(dtype=np.float64, na_value=np.nan)
        vals = vals[~np.isnan(vals)]
        if not len(vals):
            return float("nan")
        kll.update(vals)
        return float(kll.quantile(float(q.iloc[0])))

    spark.udf.register(name_ndv, ndv_agg)
    spark.udf.register(name_quantile, quantile_agg)
    return ndv_agg, quantile_agg
