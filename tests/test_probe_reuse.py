"""A probe pays for its filter once: ``membership._broadcast`` reuses the
broadcast of a state whose content has not changed, and a worker keeps
only the last few states it loaded.  A probe made after any change to the
filter must never see stale bytes."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import serialize_filter
from cuckoofilter_spark.operators import membership
from cuckoofilter_spark.operators.membership import cf_contains_udf
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sketches.bloom import BloomFilter

_P = CuckooParams(max_table_size=1024, bits_per_fp=16)


def _filter(lo=0, n=1_000):
    f = DynamicCuckooFilter(_P, dedup=True)
    f.update(np.arange(lo, lo + n, dtype=np.int64))
    return f


class _Context:
    """Stands in for a ``SparkContext``: counts its broadcasts."""

    def __init__(self):
        self.shipped = []

    def broadcast(self, value):
        self.shipped.append(value)
        return object()


@pytest.fixture
def clean_caches():
    membership._FILTER_CACHE.clear()
    membership._REUSE.clear()
    yield
    membership._FILTER_CACHE.clear()
    membership._REUSE.clear()


def test_worker_cache_is_bounded_lru(clean_caches):
    """More distinct blobs than the bound leave only the bound; a hit
    returns the very object the miss built."""
    blobs = [serialize_filter(_filter(lo=i * 10_000, n=10)) for i in range(3 * membership._CACHE_SIZE)]
    first = membership._get_filter(blobs[0])
    assert membership._get_filter(blobs[0]) is first
    for b in blobs:
        membership._get_filter(b)
    assert len(membership._FILTER_CACHE) == membership._CACHE_SIZE
    last = membership._get_filter(blobs[-1])
    assert membership._get_filter(blobs[-1]) is last
    assert membership._get_filter(blobs[0]) is not first  # evicted, loaded again


def test_worker_cache_reads_the_broadcast_only_on_a_miss(clean_caches):
    class Broadcast:
        reads = 0

        @property
        def value(self):
            Broadcast.reads += 1
            return blob

    blob = serialize_filter(_filter())
    bc, key = Broadcast(), hashlib.sha256(blob).digest()
    a = membership._get_filter(bc, key)
    assert membership._get_filter(bc, key) is a
    assert Broadcast.reads == 1
    assert membership._get_filter(blob) is a  # the shipped key is the blob's own digest


def test_reuse_is_keyed_on_content_and_context(clean_caches):
    """An unchanged filter (or an equal copy of it) reuses its broadcast on
    the same context; a changed one, or any filter on another context, is
    serialized and broadcast afresh."""
    sc1, sc2 = _Context(), _Context()
    f = _filter()
    first = membership._broadcast(sc1, f)
    assert membership._broadcast(sc1, f) == first
    assert membership._broadcast(sc1, _filter()) == first
    assert len(sc1.shipped) == 1 and sc1.shipped[0] == serialize_filter(f)
    # a later context never gets an entry of an earlier one
    other = membership._broadcast(sc2, f)
    assert other[0] is not first[0] and other[1] == first[1]
    assert len(sc2.shipped) == 1
    f.update(np.arange(5_000, 5_010, dtype=np.int64))
    changed = membership._broadcast(sc1, f)
    assert changed[1] != first[1] and sc1.shipped[-1] == serialize_filter(f)
    f.tables[0].table[0, 0] ^= 1  # a direct write to a table
    assert membership._broadcast(sc1, f)[1] != changed[1]
    assert len(sc1.shipped) == 3


def test_reuse_of_a_sketch_keys_on_its_bytes(clean_caches):
    sc = _Context()
    s = BloomFilter.for_capacity(1_000, seed=3)
    s.update(np.arange(100, dtype=np.int64))
    first = membership._broadcast(sc, s)
    assert membership._broadcast(sc, s) == first
    s.update(np.arange(100, 200, dtype=np.int64))
    assert membership._broadcast(sc, s) != first
    assert len(sc.shipped) == 2


def test_reuse_map_is_bounded(clean_caches):
    sc = _Context()
    for i in range(3 * membership._CACHE_SIZE):
        membership._broadcast(sc, _filter(lo=i * 10_000, n=10))
    assert len(membership._REUSE) == membership._CACHE_SIZE


def _answers(spark, f, keys):
    df = spark.createDataFrame([(int(k),) for k in keys], "k long")
    contains = cf_contains_udf(spark, f)
    return [r["c"] for r in df.select(contains(F.col("k")).alias("c")).orderBy("k").collect()]


def test_probe_never_sees_stale_bytes(spark):
    """Probe, change the filter, probe again: the second probe answers for
    the changed filter after an insert, a delete, a merge and a compact
    (the probe, compact, probe pattern of ``q_chain_compact``)."""
    f = _filter(0, 1_000)
    new = np.arange(100_000, 100_050, dtype=np.int64)
    assert sum(_answers(spark, f, new)) <= 1  # FP noise only
    f.insert(new)
    assert all(_answers(spark, f, new))

    gone = np.arange(0, 50, dtype=np.int64)
    assert all(_answers(spark, f, gone))
    f.delete(gone)
    assert sum(_answers(spark, f, gone)) <= 1

    donor = _filter(200_000, 50)
    donor_keys = np.arange(200_000, 200_050, dtype=np.int64)
    assert sum(_answers(spark, f, donor_keys)) <= 1
    f.merge(donor)
    assert all(_answers(spark, f, donor_keys))

    # grow a chain and probe it; delete half, compact, probe again
    big = DynamicCuckooFilter(CuckooParams(max_table_size=64, bits_per_fp=16), dedup=True)
    keys = np.arange(600, dtype=np.int64)
    big.update(keys)
    assert big.cf_count > 1
    assert all(_answers(spark, big, keys))
    blob = serialize_filter(big)
    big.delete(keys[:300])
    big.compact()
    assert serialize_filter(big) != blob
    got = _answers(spark, big, keys)
    assert all(got[300:]) and sum(got[:300]) <= 2
