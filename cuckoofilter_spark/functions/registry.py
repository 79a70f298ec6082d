"""SQL surface: register built filters/sketches as session UDFs so
membership and estimation are queryable from ``spark.sql`` — the
"queryable for token/doc membership from SQL" obligation.

    filt = build_filter(df, "tokens", params)
    register_filter(spark, filt, "corpus_contains")
    spark.sql("SELECT * FROM candidates WHERE corpus_contains(token)")

Point queries go through ``operators/membership``'s one Arrow probe UDF
(state broadcast once, loaded once per task, NULL answers ``False``/``0``);
the aggregates are grouped-agg Arrow UDAFs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf

from cuckoofilter_spark.operators.build import _keys_from_arrow, encode
from cuckoofilter_spark.operators.membership import _contains, _probe_udf, cf_contains_udf


def register_filter(spark: SparkSession, filt, name: str = "cf_contains"):
    """Register ``name(key) -> boolean`` membership UDF for SQL use."""
    udf = cf_contains_udf(spark, filt)
    spark.udf.register(name, udf)
    return udf


def _cms_estimate(s, keys):
    return s.estimate(_keys_from_arrow(keys))


#: sketch class name -> (SQL return type, answer(sketch, keys))
_POINT_QUERIES = {"BloomFilter": ("boolean", _contains),
                  "CountMinSketch": ("long", _cms_estimate)}


def register_sketch(spark: SparkSession, sketch, name: str):
    """Register a sketch point-query UDF:

    - CountMinSketch → ``name(key) -> bigint`` (frequency estimate)
    - BloomFilter    → ``name(key) -> boolean``
    """
    kind = type(sketch).__name__
    if kind not in _POINT_QUERIES:
        raise ValueError(f"no SQL point-query shape for {kind}")
    return_type, answer = _POINT_QUERIES[kind]
    fn = _probe_udf(spark, encode(sketch), return_type, answer)
    spark.udf.register(name, fn)
    return fn


def register_sketch_aggs(spark: SparkSession, name_ndv: str = "hll_ndv",
                         name_quantile: str = "kll_quantile",
                         p: int = 12, k: int = 200, seed: int = 7):
    """Register the sketches as SQL AGGREGATE functions (grouped-agg
    Arrow UDAFs), so approximate aggregation is plain SQL text::

        SELECT event_type, hll_ndv(user_id), kll_quantile(value, 0.5)
        FROM events GROUP BY event_type

    They also work over windows (``hll_ndv(x) OVER (PARTITION BY k)``).

    Scale note: Spark executes grouped-agg Arrow UDAFs by shuffling each
    group's raw values to its reducer (no partial aggregation) — same
    movement as the unsalted path of ``operators/sketch_groupby``'s one
    per-key driver, with the same bounded O(2^p)/O(k·log n) reducer state
    once there and the same NULL rule.  For skewed keys prefer
    ``sketch_groupby.ndv_by_key(salt_buckets=...)``, which builds one
    partial per (key, salt) and folds them per key in salt order.
    """
    from cuckoofilter_spark.sketches.hll import HyperLogLog
    from cuckoofilter_spark.sketches.kll import KLLSketch

    @arrow_udf("long")
    def ndv_agg(v: pa.Array) -> int:
        hll = HyperLogLog(p=p, seed=seed)
        # COUNT(DISTINCT) semantics: NULLs are not values — drop them
        # instead of conflating them with a genuine 0 (an all-NULL group
        # estimates 0, matching countDistinct)
        vals = v.drop_null().to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        if len(vals):
            hll.update(vals)
        return int(hll.estimate())

    @arrow_udf("double")
    def quantile_agg(v: pa.Array, q: pa.Array) -> float:
        kll = KLLSketch(k=k, seed=seed)
        vals = v.drop_null().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        vals = vals[~np.isnan(vals)]
        if not len(vals):
            return None  # an all-NULL group is NULL, as in quantiles_by_key
        kll.update(vals)
        return float(kll.quantile(float(q[0].as_py())))

    spark.udf.register(name_ndv, ndv_agg)
    spark.udf.register(name_quantile, quantile_agg)
    return ndv_agg, quantile_agg
