"""Query side: broadcast the global filter, probe columns with a vectorized
Arrow UDF — the distributed analog of ``containsElement``
(``CF/cuckoo_filter.h:274-289``) and the same shape as Spark's own
bloom-filter runtime join pruning (broadcast sketch + ``might_contain``).

Every point query — ``cf_contains_udf``, ``sources/fasta.cf_contains_kmer_udf``
and ``functions/registry.register_sketch`` — is one call to ``_probe_udf``,
which takes the filter or sketch itself and pays for its blob once: the
driver keeps the broadcast of the last few states it shipped (``_REUSE``),
keyed on the live ``SparkContext`` and a digest of the state's content
(``serde.content_digest`` for a filter, the encoded bytes for a sketch).
A probe of a state whose content has not changed reuses that broadcast.
Any ``insert``, ``update``, ``delete``, ``merge``, ``compact`` or direct
write to a table changes the digest, so the state is serialized (through
this module's ``serialize_filter``) and broadcast afresh.

The broadcast ships the blob once per executor; each Python worker
deserializes it lazily and keeps the last few states process-wide
(``_get_filter``), so the cost is O(executors), not O(tasks) — the pattern
that survives a 1000-executor fan-out.  The UDF closure carries the blob's
digest, so a worker that already holds the state neither hashes the blob
nor loads the broadcast.  The UDF is an iterator ``arrow_udf``: the cache
lookup runs once per task, not once per batch, and keys reach the kernel
as Arrow arrays with no pandas conversion.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from cuckoofilter_spark.core.cuckoo_filter import CuckooFilter
from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import (
    content_digest,
    deserialize_filter,
    is_filter_blob,
    serialize_filter,
)
from cuckoofilter_spark.operators.build import _keys_from_arrow
from cuckoofilter_spark.sketches.base import deserialize_sketch, serialize_sketch

#: states a worker process keeps deserialized, and blobs the driver keeps a
#: broadcast of; the least recently probed goes first, and costs only a
#: fresh deserialize (worker) or serialize and broadcast (driver)
_CACHE_SIZE = 4

#: per worker process: sha256 of the full blob -> deserialized filter or
#: sketch.  A truncated prefix key could alias two filters sharing a header
#: (same params, payloads diverging later) and serve the wrong answers.
_FILTER_CACHE: OrderedDict[bytes, object] = OrderedDict()

#: on the driver: (SparkContext, content digest) -> (broadcast of the blob,
#: sha256 of the blob).  The key holds the context itself, not its ``id()``,
#: which a later context could reuse.
_REUSE: OrderedDict[tuple, tuple] = OrderedDict()

#: guards both maps: a driver may start probes from several threads
_LOCK = threading.Lock()


def _lru(cache: OrderedDict, key, make):
    """``cache[key]``, made by ``make()`` on a miss, keeping the
    ``_CACHE_SIZE`` most recently used entries.  ``make`` runs outside the
    lock, so two threads that miss one key at once both make it."""
    with _LOCK:
        value = cache.get(key)
        if value is not None:
            cache.move_to_end(key)
            return value
    value = make()
    with _LOCK:
        cache[key] = value
        while len(cache) > _CACHE_SIZE:
            cache.popitem(last=False)
    return value


def _get_filter(blob, key: bytes | None = None):
    """The cached state, filter or sketch, of *blob* (bytes, or a
    ``Broadcast`` of them, read only on a miss), under *key*, the blob's
    sha256 (hashed here when not given)."""
    if key is None:
        key = hashlib.sha256(blob).digest()

    def load():
        data = blob if isinstance(blob, bytes) else blob.value
        return deserialize_filter(data) if is_filter_blob(data) else deserialize_sketch(data)

    return _lru(_FILTER_CACHE, key, load)


def _broadcast(sc, state) -> tuple:
    """(the broadcast of *state*'s blob on *sc*, the blob's sha256),
    reused while *state*'s content is unchanged."""
    if isinstance(state, (CuckooFilter, DynamicCuckooFilter)):
        blob, content = None, content_digest(state)
    else:
        blob = serialize_sketch(state)
        content = hashlib.sha256(blob).digest()

    def ship():
        data = serialize_filter(state) if blob is None else blob
        return sc.broadcast(data), hashlib.sha256(data).digest()

    return _lru(_REUSE, (sc, content), ship)


def _probe_udf(spark: SparkSession, state, return_type: str, answer):
    """The one point-query UDF: ``answer(state, keys)`` over each Arrow batch
    of keys, *state* being broadcast once (``_broadcast``) and loaded
    through ``_get_filter`` once per task.  Every build drops NULLs, so
    a NULL key answers what an absent key answers: ``False`` / ``0``."""
    bc, key = _broadcast(spark.sparkContext, state)

    @arrow_udf(return_type)
    def probe(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        state = _get_filter(bc, key)
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
    return _probe_udf(spark, filt, "boolean", _contains)


def membership_df(spark: SparkSession, filt, probes: DataFrame, col: str,
                  keep: bool = True) -> DataFrame:
    """Filter *probes* to rows whose ``col`` is (keep=True) / is not
    (keep=False) possibly-in-set.  keep=False has NO false drops (cuckoo
    filters have no false negatives) — the safe direction for pipeline
    pruning, exactly how runtime join filters use Bloom sketches."""
    contains = cf_contains_udf(spark, filt)
    flag = contains(F.col(col))
    return probes.filter(flag if keep else ~flag)
