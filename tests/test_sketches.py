"""Companion-sketch tests: error bounds vs exact answers, merge
associativity under permuted merge order (north_rule), serde round-trips,
and Spark-side builds cross-checked against exact Spark/DuckDB-style
aggregates and Spark's own built-in sketches.
"""

import importlib.util
import itertools
import os

import numpy as np
import pytest

from cuckoofilter_spark.core.distinct import dense_counts
from cuckoofilter_spark.sketches import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    TDigest,
    deserialize_sketch,
    serialize_sketch,
)
from cuckoofilter_spark.sketches.hll import _rank

_spec = importlib.util.spec_from_file_location(
    "make_fixtures", os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                  "data", "make_fixtures.py"))
fixtures = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(fixtures)

RNG = np.random.default_rng(42)


def _parts(data, k=4):
    return np.array_split(data, k)


# ---------- Bloom ----------------------------------------------------------

def test_bloom_no_false_negatives_and_fpp():
    b = BloomFilter.for_capacity(50_000, fpp=1e-3)
    keys = RNG.integers(0, 10**9, 50_000)
    b.update(keys)
    assert b.contains(keys).all()
    neg = np.arange(2 * 10**9, 2 * 10**9 + 100_000)
    assert b.contains(neg).mean() <= 1e-3 * 2


def test_bloom_merge_is_union():
    parts = _parts(RNG.integers(0, 10**9, 40_000))
    sks = []
    for p in parts:
        s = BloomFilter(1 << 19, 7)
        s.update(p)
        sks.append(serialize_sketch(s))
    merged = None
    for blob in sks:
        s = deserialize_sketch(blob)
        merged = s if merged is None else merged.merge(s)
    assert merged.contains(np.concatenate(parts)).all()


# ---------- HLL ------------------------------------------------------------

def test_hll_error_within_bound():
    h = HyperLogLog(p=14)
    vals = RNG.integers(0, 5_000_000, 2_000_000)
    h.update(vals)
    exact = len(np.unique(vals))
    assert abs(h.estimate() - exact) / exact <= 3 * h.rel_error


def test_hll_small_range_linear_counting():
    h = HyperLogLog(p=14)
    h.update(np.arange(500))
    assert abs(h.estimate() - 500) <= 15


def test_hll_merge_equals_union_and_is_order_invariant():
    parts = _parts(RNG.integers(0, 1_000_000, 400_000), 4)
    blobs = []
    for p in parts:
        h = HyperLogLog(p=12)
        h.update(p)
        blobs.append(serialize_sketch(h))
    ests = []
    for perm in itertools.permutations(range(4)):
        acc = None
        for i in perm:
            s = deserialize_sketch(blobs[i])
            acc = s if acc is None else acc.merge(s)
        ests.append(acc.estimate())
    assert len(set(ests)) == 1  # HLL merge is exactly order-invariant (max)
    exact = len(np.unique(np.concatenate(parts)))
    assert abs(ests[0] - exact) / exact <= 3 * (1.04 / np.sqrt(1 << 12))


# ---------- Count-min -------------------------------------------------------

def test_cms_one_sided_and_bounded():
    c = CountMinSketch(depth=5, width=8192)
    data = (RNG.random(400_000) ** 4 * 20_000).astype(np.int64)
    c.update(data)
    uniq, counts = np.unique(data, return_counts=True)
    head = np.argsort(counts)[-100:]
    est = c.estimate(uniq[head])
    true = counts[head]
    assert (est >= true).all()  # never underestimates
    assert (est - true <= c.eps * c.n_items).all()


def test_cms_merge_exactly_additive():
    parts = _parts((RNG.random(100_000) ** 3 * 5_000).astype(np.int64))
    whole = CountMinSketch(4, 4096)
    whole.update(np.concatenate(parts))
    acc = None
    for p in parts:
        s = CountMinSketch(4, 4096)
        s.update(p)
        acc = s if acc is None else acc.merge(s)
    assert (acc.counts == whole.counts).all()


# ---------- KLL -------------------------------------------------------------

def test_kll_rank_error_within_bound():
    k = KLLSketch(200)
    data = RNG.normal(0, 1, 500_000)
    k.update(data)
    sorted_d = np.sort(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = k.quantile(q)
        true_rank = np.searchsorted(sorted_d, est) / len(data)
        assert abs(true_rank - q) <= 3 * k.rank_error


def test_kll_merge_preserves_bound():
    data = RNG.exponential(5, 600_000)
    parts = _parts(data, 6)
    acc = None
    for i, p in enumerate(parts):
        s = KLLSketch(200, seed=i)
        s.update(p)
        acc = s if acc is None else acc.merge(s)
    assert acc.n == len(data)
    sorted_d = np.sort(data)
    for q in (0.1, 0.5, 0.9, 0.99):
        est = acc.quantile(q)
        true_rank = np.searchsorted(sorted_d, est) / len(data)
        assert abs(true_rank - q) <= 4 * acc.rank_error


def test_kll_serde_roundtrip_identical_answers():
    s = KLLSketch(128, seed=3)
    s.update(RNG.random(50_000))
    t = deserialize_sketch(serialize_sketch(s))
    qs = np.linspace(0.01, 0.99, 25)
    assert (s.quantile(qs) == t.quantile(qs)).all()


# ---------- t-digest ---------------------------------------------------------

def test_tdigest_tail_accuracy():
    t = TDigest(200)
    data = RNG.lognormal(0, 2, 500_000)
    t.update(data)
    sorted_d = np.sort(data)
    for q in (0.001, 0.01, 0.5, 0.99, 0.999):
        est = t.quantile(q)
        true_rank = np.searchsorted(sorted_d, est) / len(data)
        assert abs(true_rank - q) <= 0.005


def test_tdigest_merge_bound_holds():
    data = RNG.normal(100, 15, 400_000)
    parts = _parts(data, 8)
    acc = None
    for p in parts:
        s = TDigest(200)
        s.update(p)
        acc = s if acc is None else acc.merge(s)
    sorted_d = np.sort(data)
    for q in (0.05, 0.5, 0.95, 0.99):
        est = acc.quantile(q)
        true_rank = np.searchsorted(sorted_d, est) / len(data)
        assert abs(true_rank - q) <= 0.01
    assert acc.n == len(data)
    assert acc.min == data.min() and acc.max == data.max()


# ---------- Order-free updates: each distinct key hashed once ---------------

def _hll_rank_halving(rest: np.ndarray, p: int) -> np.ndarray:
    """The rank ``_rank`` replaced, as reference: leading zeros of
    ``rest`` by a six-pass masked halving loop, plus one, capped at
    ``64 - p + 1``."""
    nbits = 64 - p
    rank = np.full(len(rest), nbits + 1, dtype=np.uint8)
    nz = rest != 0
    x = rest[nz]
    lz = np.zeros(x.shape, dtype=np.uint8)
    for shift in (32, 16, 8, 4, 2, 1):
        mask = x < (np.uint64(1) << np.uint64(64 - shift))
        lz[mask] += shift
        x[mask] <<= np.uint64(shift)
    rank[nz] = np.minimum(lz + 1, nbits + 1).astype(np.uint8)
    return rank


def _cms_add_at(c: CountMinSketch, batch: np.ndarray) -> None:
    """The count-min update the distinct-key one replaced, as reference:
    one ``add.at`` of weight 1 per occurrence and row."""
    idx = c._idx(batch)
    for d in range(c.depth):
        np.add.at(c.counts[d], idx[d], np.ones(len(batch), dtype=np.int64))
    c.n_items += len(batch)


def _bloom_or_at(b: BloomFilter, batch: np.ndarray) -> None:
    """The Bloom update the bool-buffer one replaced, as reference: one
    ``np.bitwise_or.at`` over every position of every key."""
    pos = b._positions(batch).reshape(-1)
    np.bitwise_or.at(b.bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))
    b.n_items += len(batch)


_DENSE_STREAMS = [s for s in fixtures.SKETCH_STREAMS
                  if s not in ("sparse_int64", "span_n", "span_n_plus_1")]


@pytest.mark.parametrize("stream", fixtures.SKETCH_STREAMS)
@pytest.mark.parametrize("kind", fixtures.SKETCH_KINDS)
def test_golden_sketch_bytes(kind, stream):
    """Each order-free sketch reproduces the committed bytes
    (``tests/data/golden_sketches``, written by ``make_fixtures.py
    sketches`` with the per-occurrence kernels) on dense and sparse
    streams, and every committed sketch survives a deserialize ->
    serialize trip."""
    with open(os.path.join(fixtures.GOLDEN_SKETCHES,
                           fixtures.golden_sketch_name(kind, stream)), "rb") as f:
        want = f.read()
    assert fixtures.golden_sketch(kind, stream) == want
    assert serialize_sketch(deserialize_sketch(want)) == want


@pytest.mark.parametrize("stream", fixtures.SKETCH_STREAMS)
def test_golden_streams_take_both_dense_counts_paths(stream):
    """Every batch of a dense golden stream is aggregated by
    ``dense_counts``; the sparse stream and the span-n and span-n+1
    batches are hashed as they are."""
    dense = [dense_counts(b) is not None for b in fixtures._sketch_streams()[stream]]
    assert dense == [stream in _DENSE_STREAMS] * len(dense)


@pytest.mark.parametrize("a", [
    np.array([3, 1, 3, 3, 2], dtype=np.int8),
    np.array([-128, 127] + [0] * 300, dtype=np.int8),
    np.array([0, 255, 7] * 100, dtype=np.uint8),
    np.array([-5, -5, -9, -6, -8], dtype=np.int32),
    np.int64(-(1 << 63)) + np.arange(10, dtype=np.int64)[::-1].repeat(2),
    np.int64((1 << 63) - 1) - np.arange(10, dtype=np.int64).repeat(2),
    np.uint64((1 << 64) - 1) - np.arange(10, dtype=np.uint64).repeat(2),
    np.array([7], dtype=np.int64),
    np.array([0, 3, 1, 3], dtype=np.int64),                      # span == len - 1
    np.int32(-1 << 31) + np.array([0, 5, 2, 5, 0, 1], dtype=np.int32),
    np.uint64((1 << 64) - 1) - np.array([9, 0, 3, 9, 0, 1, 2, 5, 7, 8, 9], dtype=np.uint64),
], ids=["int8", "int8_full_span", "uint8", "neg_int32", "int64_min", "int64_max",
        "uint64_top", "one", "span_len_minus_1", "int32_min_span_len_minus_1",
        "uint64_top_10"])
def test_dense_counts_matches_unique(a):
    """Distinct keys in ascending order, in the batch's own dtype (so keys
    next to 2^64 and INT64_MIN are not rounded through float64), with the
    counts of ``np.unique``."""
    keys, counts = dense_counts(a)
    want_keys, want_counts = np.unique(a, return_counts=True)
    assert keys.dtype == a.dtype
    assert np.array_equal(keys, want_keys)
    assert np.array_equal(counts, want_counts)


@pytest.mark.parametrize("a", [
    np.zeros(0, dtype=np.int64),
    np.array([0, 2], dtype=np.int64),            # span == len
    np.array([1.0, 1.0, 2.0]),                   # not integer
    np.array([True, False, True]),
    np.array([-(1 << 63), (1 << 63) - 1, 0], dtype=np.int64),
    np.array([0, (1 << 64) - 1, 5], dtype=np.uint64),
    np.array([-7, -3, -7, -4], dtype=np.int32),                  # span == len
    np.uint64((1 << 64) - 1) - np.array([0, 4, 1, 2], dtype=np.uint64),
    np.array([-1 << 31, (1 << 31) - 1] * 4, dtype=np.int32),
], ids=["empty", "span_eq_len", "float", "bool", "int64_full", "uint64_full",
        "neg_int32_span_eq_len", "uint64_top_span_eq_len", "int32_full"])
def test_dense_counts_declines(a):
    assert dense_counts(a) is None


@pytest.mark.parametrize("p", [4, 11, 14, 18])
def test_hll_rank_matches_halving_reference(p):
    """The frexp bit-length rank equals the halving loop on random hashes
    and on every one-bit, all-ones-below and zero ``rest``."""
    from cuckoofilter_spark.hashing import hash64

    h = hash64(np.arange(200_000), seed=p)
    bits = np.uint64(1) << np.arange(64, dtype=np.uint64)
    special = np.concatenate([np.array([0, (1 << 64) - 1], dtype=np.uint64),
                              bits, bits - np.uint64(1), bits | np.uint64(1)])
    for rest in (h << np.uint64(p), special << np.uint64(p), special):
        assert np.array_equal(_rank(rest, p), _hll_rank_halving(rest, p))


@pytest.mark.parametrize("stream", fixtures.SKETCH_STREAMS)
def test_cms_update_matches_add_at_reference(stream):
    """Adding each distinct key's count equals one ``add.at`` per
    occurrence: same counters, same ``n_items``."""
    got, want = CountMinSketch(4, 512, seed=1), CountMinSketch(4, 512, seed=1)
    for batch in fixtures._sketch_streams()[stream]:
        got.update(batch)
        _cms_add_at(want, batch)
    assert np.array_equal(got.counts, want.counts)
    assert got.n_items == want.n_items == sum(
        len(b) for b in fixtures._sketch_streams()[stream])


@pytest.mark.parametrize("m_bits,k,n", [
    (1 << 14, 7, 2000),      # the golden Bloom shape
    (1 << 20, 13, 50_000),   # many keys per word
    (1_917_011, 13, 10),     # m not a multiple of 64; fewer positions than words
    (1 << 20, 3, 5000),      # just under one position per word
    (64, 1, 1),
], ids=["golden_shape", "k13", "ragged_m_small_batch", "sparse", "one_word"])
def test_bloom_update_matches_or_at_reference(m_bits, k, n):
    """The packbits update sets the words and ``n_items`` of one
    ``bitwise_or.at`` per position, batch after batch, at any fill."""
    rng = np.random.default_rng(m_bits + k)
    got, want = BloomFilter(m_bits, k, seed=5), BloomFilter(m_bits, k, seed=5)
    for batch in (rng.integers(-(1 << 62), 1 << 62, n), rng.integers(0, 50, n)):
        got.update(batch)
        _bloom_or_at(want, batch)
        assert np.array_equal(got.bits, want.bits)
    assert got.bits.any() and got.n_items == want.n_items == 2 * n


# ---------- Spark integration -------------------------------------------------

def test_spark_hll_vs_exact_and_builtin(spark, sf01_dir):
    from pyspark.sql import functions as F

    from cuckoofilter_spark.operators.sketch_build import build_sketch

    events = spark.read.parquet(f"{sf01_dir}/events.parquet")
    h = build_sketch(events, "user_id", lambda pid: HyperLogLog(p=14), num_partitions=8)
    exact = events.select(F.countDistinct("user_id")).collect()[0][0]
    assert abs(h.estimate() - exact) / exact <= 3 * h.rel_error


def test_spark_kll_vs_exact_quantiles(spark, sf01_dir):
    from cuckoofilter_spark.operators.sketch_build import build_sketch

    li = spark.read.parquet(f"{sf01_dir}/lineitem.parquet")
    k = build_sketch(li, "l_extendedprice", lambda pid: KLLSketch(200, seed=pid),
                     num_partitions=8, values="float")
    exact = li.approxQuantile("l_extendedprice", [0.5, 0.9, 0.99], 0.0)
    prices = np.array([r[0] for r in li.select("l_extendedprice").collect()])
    sorted_p = np.sort(prices)
    for q, _ in zip((0.5, 0.9, 0.99), exact):
        est = k.quantile(q)
        true_rank = np.searchsorted(sorted_p, est) / len(prices)
        assert abs(true_rank - q) <= 4 * k.rank_error


def test_spark_order_free_bytes_survive_scan_split_size(spark, tmp_path, monkeypatch):
    """HLL and count-min bytes do not depend on the scan split size: 16
    small parquet files read as at most ``FANIN`` partitions at 128m and as
    one partition per file at 1m, which adds an executor merge level."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.classic.dataframe import DataFrame

    from cuckoofilter_spark.operators import build
    from cuckoofilter_spark.operators.sketch_build import build_sketch

    rng = np.random.default_rng(9)
    for i in range(16):
        pq.write_table(pa.table({"k": np.minimum(rng.zipf(1.3, 3000), 2000)}),
                       str(tmp_path / f"part-{i:02d}.parquet"))
    merges = []
    real_map = DataFrame.mapInArrow

    def counting_map(self, fn, *args, **kwargs):
        merges.append(fn is build._merge_group)
        return real_map(self, fn, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "mapInArrow", counting_map)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    out = {}
    try:
        for size in ("128m", "1m"):
            spark.conf.set(key, size)
            df = spark.read.parquet(str(tmp_path))
            merges.clear()
            blobs = [serialize_sketch(build_sketch(df, "k", fac)) for fac in (
                lambda pid: HyperLogLog(p=12), lambda pid: CountMinSketch(4, 1024))]
            out[size] = (df.rdd.getNumPartitions(), sum(merges), blobs)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    (n_big, merged_big, bytes_big), (n_small, merged_small, bytes_small) = out["128m"], out["1m"]
    assert n_big <= build.FANIN < n_small
    assert merged_big == 0 and merged_small == 2  # one merge level per sketch
    assert bytes_big == bytes_small


def test_tdigest_buffer_size_survives_serde():
    import numpy as np

    from cuckoofilter_spark.sketches.tdigest import TDigest

    t = TDigest(delta=100.0, buffer_size=50)
    t.update(np.arange(1000, dtype=np.float64))
    back = TDigest.from_bytes(t.to_bytes())
    assert back.buffer_size == 50
    assert abs(back.quantile(0.5) - t.quantile(0.5)) < 1e-9
