"""Query side: broadcast the global filter, probe columns with a vectorized
Arrow UDF — the distributed analog of ``containsElement``
(``CF/cuckoo_filter.h:274-289``) and the same shape as Spark's own
bloom-filter runtime join pruning (broadcast sketch + ``might_contain``).

Every point query — ``cf_contains_udf``, ``sources/fasta.cf_contains_kmer_udf``
and ``functions/registry.register_sketch`` — is one call to ``_probe_udf``.
The broadcast ships the serialized state once per executor; each Python
worker deserializes lazily and caches it process-wide (``_get_filter``), so
the cost is O(executors), not O(tasks) — the pattern that survives a
1000-executor fan-out.  The UDF is an iterator ``arrow_udf``: the cache
lookup (an md5 of the whole blob) runs once per task, not once per batch,
and keys reach the kernel as Arrow arrays with no pandas conversion.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from cuckoofilter_spark.core.serde import deserialize_filter, is_filter_blob, serialize_filter
from cuckoofilter_spark.operators.build import _keys_from_arrow
from cuckoofilter_spark.sketches.base import deserialize_sketch

# per-worker-process cache: full-blob digest -> deserialized filter or sketch.
# The digest costs one pass over the (zlib-packed, ~100s of KB) blob on a
# cache miss/hit — microseconds vs the deserialize it saves; a truncated
# prefix key could alias two filters sharing a header (same params, payloads
# diverging later) and silently serve the wrong filter's answers.
_FILTER_CACHE: dict[bytes, object] = {}


def _get_filter(blob: bytes):
    """The cached state of *blob*, filter or sketch (``build.decode``'s
    rule, with this module's ``deserialize_filter``)."""
    key = hashlib.md5(blob).digest()
    s = _FILTER_CACHE.get(key)
    if s is None:
        s = deserialize_filter(blob) if is_filter_blob(blob) else deserialize_sketch(blob)
        _FILTER_CACHE[key] = s
    return s


def _probe_udf(spark: SparkSession, blob: bytes, return_type: str, answer):
    """The one point-query UDF: ``answer(state, keys)`` over each Arrow batch
    of keys, *state* being *blob* broadcast once and loaded through
    ``_get_filter`` once per task.  Every build drops NULLs, so
    a NULL key answers what an absent key answers: ``False`` / ``0``."""
    bc = spark.sparkContext.broadcast(blob)

    @arrow_udf(return_type)
    def probe(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        state = _get_filter(bc.value)
        for keys in batches:
            res = answer(state, keys)
            if keys.null_count:
                res = res * keys.is_valid().to_numpy(zero_copy_only=False)
            yield pa.array(res)

    return probe


def _contains(f, keys):
    return f.contains(_keys_from_arrow(keys))


def cf_contains_udf(spark: SparkSession, filt) -> "callable":
    """Return an Arrow UDF ``contains(col) -> boolean`` bound to a broadcast
    of *filt*.  Usable in DataFrame code and registrable for SQL:
    ``spark.udf.register("cf_contains", cf_contains_udf(spark, f))``."""
    return _probe_udf(spark, serialize_filter(filt), "boolean", _contains)


def membership_df(spark: SparkSession, filt, probes: DataFrame, col: str,
                  keep: bool = True) -> DataFrame:
    """Filter *probes* to rows whose ``col`` is (keep=True) / is not
    (keep=False) possibly-in-set.  keep=False has NO false drops (cuckoo
    filters have no false negatives) — the safe direction for pipeline
    pruning, exactly how runtime join filters use Bloom sketches."""
    contains = cf_contains_udf(spark, filt)
    flag = contains(F.col(col))
    return probes.filter(flag if keep else ~flag)
