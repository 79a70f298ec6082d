"""Core filter tests — pytest ports of the reference's assert-based harnesses
(SURVEY.md §5): insert-then-contains, FPR vs published bound, delete support,
fill-to-failure load factor, DCF growth + compaction, plus our additional
obligations: serde round-trip, merge associativity, 12/4-bit packing.
"""

import hashlib
import importlib.util
import itertools
import os

import numpy as np
import pytest

from cuckoofilter_spark.core import CuckooFilter, DynamicCuckooFilter
from cuckoofilter_spark.core.cuckoo_table import CuckooTable, KickDraws
from cuckoofilter_spark.core.distinct import first_occurrence, runs
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
from cuckoofilter_spark.params import LEGAL_CONFIGS, CuckooParams, highest_power_of_two

_spec = importlib.util.spec_from_file_location(
    "make_fixtures", os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                  "data", "make_fixtures.py"))
fixtures = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(fixtures)


def test_power_of_two_rounding():
    # reference Utils/util.h:9-19 semantics: 40000 -> 32768, exact pow2 halves
    assert highest_power_of_two(40000) == 32768
    assert highest_power_of_two(8) == 4
    assert highest_power_of_two(10000) == 8192
    assert highest_power_of_two(1) == 1


def test_illegal_config_rejected():
    # reference CF/cuckoo_table.h:150-168 enforces exactly 5 configs
    with pytest.raises(ValueError):
        CuckooParams(entries_per_bucket=3, bits_per_fp=16)
    with pytest.raises(ValueError):
        CuckooParams(entries_per_bucket=4, bits_per_fp=32)


def test_insert_then_contains_zero_false_negatives():
    # Demo/cf_demo.cpp:30-36,100 — every inserted key must hit
    p = CuckooParams(max_table_size=40000, bits_per_fp=16)
    cf = CuckooFilter(p)
    keys = np.arange(100_000, dtype=np.int64)
    ok = cf.insert(keys)
    assert ok.all()  # 100k into 131072 slots fits
    assert cf.contains(keys).all()
    assert cf.element_count == 100_000


@pytest.mark.parametrize("bits", [8, 12, 16])
def test_fpr_within_published_bound(bits):
    # Demo/cf_demo.cpp:38-49 measured; we assert vs eps <= 2b/2^f (Fan et al.)
    p = CuckooParams(max_table_size=65536, bits_per_fp=bits)
    cf = CuckooFilter(p)
    cf.insert(np.arange(150_000, dtype=np.int64))
    neg = np.arange(1_000_000, 1_100_000, dtype=np.int64)
    fpr = cf.contains(neg).mean()
    assert fpr <= p.fpr_bound * 1.15  # small slack over the expectation bound


def test_delete_roundtrip():
    # Demo/cf_demo.cpp:51-57 + post-delete check (SURVEY.md §5.3)
    p = CuckooParams(max_table_size=40000, bits_per_fp=16)
    cf = CuckooFilter(p)
    keys = np.arange(50_000, dtype=np.int64)
    cf.insert(keys)
    dropped = keys[::2]
    kept = keys[1::2]
    assert cf.delete(dropped).all()
    # kept elements: still zero false negatives
    assert cf.contains(kept).all()
    assert cf.element_count == len(kept)
    # delete-all
    assert cf.delete(kept).all()
    assert cf.element_count == 0
    assert not cf.contains(keys).any()


def test_delete_duplicates_consume_copies():
    p = CuckooParams(max_table_size=1024, bits_per_fp=16)
    cf = CuckooFilter(p)
    cf.insert(np.array([7, 7, 7]))
    assert cf.element_count == 3
    res = cf.delete(np.array([7, 7, 7, 7]))
    assert res.tolist() == [True, True, True, False]


def test_fill_to_failure_load_at_least_95_percent():
    # Tests/simple_test.cpp:54-117 analog; b=4 cuckoo filters reach ~95-98%
    p = CuckooParams(max_table_size=10000, bits_per_fp=16)
    cf = CuckooFilter(p)
    keys = np.arange(200_000, dtype=np.int64)
    successes = []
    for i in range(0, len(keys), 1024):
        ok = cf.insert(keys[i : i + 1024])
        successes.append(keys[i : i + 1024][ok])
        if cf.is_full():
            break
    assert cf.is_full()
    assert cf.load_factor() >= 0.95
    # no false negatives among accepted keys, victim included
    s = np.concatenate(successes)
    assert cf.contains(s).all()
    # full filter rejects everything
    assert not cf.insert(np.array([999_999_999])).any()


def test_availability_matches_reference_formula():
    p = CuckooParams(max_table_size=1000, bits_per_fp=16)
    cf = CuckooFilter(p)
    cf.insert(np.arange(100))
    # CF/cuckoo_filter.h:305-310: availability = free/slots*100
    assert cf.availability() == pytest.approx((p.slots - 100) / p.slots * 100)


def test_dcf_growth_and_compaction():
    # Demo/dcf_demo.cpp:52-57 — 100k into 8192-bucket chain (~3.4x overfull)
    p = CuckooParams(max_table_size=10000, bits_per_fp=16)
    dcf = DynamicCuckooFilter(p)
    keys = np.arange(100_000, dtype=np.int64)
    dcf.insert(keys)
    assert dcf.element_count == 100_000
    assert dcf.cf_count >= 4  # ceil(100000 / (0.9*32768))
    assert dcf.contains(keys).all()
    # delete a chunk then compact: chain should shrink
    dcf.delete(keys[:60_000])
    before = dcf.cf_count
    dcf.compact()
    assert dcf.cf_count <= before
    assert dcf.cf_count < 4
    assert dcf.contains(keys[60_000:]).all()
    assert dcf.element_count == 40_000


def test_dcf_fpr_scales_with_chain_length():
    p = CuckooParams(max_table_size=10000, bits_per_fp=16)
    dcf = DynamicCuckooFilter(p)
    dcf.insert(np.arange(100_000, dtype=np.int64))
    neg = np.arange(1_000_000, 1_100_000, dtype=np.int64)
    fpr = dcf.contains(neg).mean()
    assert fpr <= p.fpr_bound * dcf.cf_count * 1.15


@pytest.mark.parametrize("epb,bits", [(4, 4), (4, 8), (4, 12), (4, 16), (2, 32)])
def test_serde_roundtrip_all_configs(epb, bits):
    p = CuckooParams(max_table_size=4096, entries_per_bucket=epb, bits_per_fp=bits)
    f = DynamicCuckooFilter(p)
    keys = np.arange(5_000, dtype=np.int64)
    f.insert(keys)
    g = deserialize_filter(serialize_filter(f))
    probes = np.arange(0, 50_000, dtype=np.int64)
    assert (g.contains(probes) == f.contains(probes)).all()
    assert g.element_count == f.element_count
    # packed wire width: 12-bit blob must be smaller than 16-bit lanes
    if bits == 12:
        assert len(serialize_filter(f)) < p.slots * 2


@pytest.mark.parametrize("dedup", [True, False], ids=["set", "multiset"])
@pytest.mark.parametrize("epb,bits", sorted(LEGAL_CONFIGS))
def test_golden_blob_bytes_per_config(epb, bits, dedup, monkeypatch):
    """Placement, dedup and merge reproduce the committed filter bytes
    (``tests/data/golden_blobs``, written by ``make_fixtures.py blobs``),
    and every committed blob survives a deserialize -> serialize trip."""
    name = fixtures.golden_blob_name(epb, bits, dedup)
    with open(os.path.join(fixtures.GOLDEN_BLOBS, name), "rb") as f:
        want = f.read()
    kicks = []
    kick_insert = CuckooTable.kick_insert
    monkeypatch.setattr(CuckooTable, "kick_insert",
                        lambda self, *a: kicks.append(1) or kick_insert(self, *a))
    assert fixtures.golden_blob(epb, bits, dedup) == want
    assert kicks, "the golden stream must exercise the kick loop"
    filt = deserialize_filter(want)
    assert filt.cf_count >= 2
    assert serialize_filter(filt) == want


@pytest.mark.parametrize("dedup", [True, False], ids=["set", "multiset"])
@pytest.mark.parametrize("epb,bits", sorted(LEGAL_CONFIGS))
def test_golden_compacted_bytes_per_config(epb, bits, dedup):
    """``compact`` reproduces the committed compacted chains
    (``tests/data/golden_compacted``, written by ``make_fixtures.py
    compacted``) byte for byte, so its removal order is pinned too: every
    case leaves a donor holding fewer fingerprints than before (the
    partial-donor branch)."""
    name = fixtures.golden_blob_name(epb, bits, dedup)
    with open(os.path.join(fixtures.GOLDEN_COMPACTED, name), "rb") as f:
        want = f.read()
    filt = fixtures.golden_filter(epb, bits, dedup)
    before = {id(t): t.element_count for t in filt.tables}
    filt.compact()
    assert serialize_filter(filt) == want
    assert any(t.element_count < before[id(t)] for t in filt.tables), \
        "no donor took the partial-donor branch"


@pytest.mark.parametrize("dedup", [True, False], ids=["set", "multiset"])
@pytest.mark.parametrize("epb,bits", sorted(LEGAL_CONFIGS))
def test_golden_deleted_bytes_per_config(epb, bits, dedup):
    """One ``delete`` call (``bulk_delete_at`` per chain member) reproduces
    the committed chains (``tests/data/golden_deleted``, written by
    ``make_fixtures.py deleted``) byte for byte, so its slot order is
    pinned; every case deletes from at least two chain members."""
    name = fixtures.golden_blob_name(epb, bits, dedup)
    with open(os.path.join(fixtures.GOLDEN_DELETED, name), "rb") as f:
        want = f.read()
    filt = fixtures.golden_filter(epb, bits, dedup)
    before = [t.element_count for t in filt.tables]
    hit = filt.delete(fixtures.golden_delete_keys())
    assert serialize_filter(filt) == want
    assert hit.any() and not hit.all()
    assert sum(t.element_count < n for t, n in zip(filt.tables, before)) >= 2
    assert filt.element_count == sum(before) - hit.sum()


@pytest.mark.parametrize("epb,bits", [(4, 4), (4, 16), (2, 32)])
def test_delete_stored_matches_delete_at_loop(epb, bits):
    """The vectorized removal of ``compact`` leaves the bytes of calling
    ``delete_at`` once per pair, in ``nonzero_entries`` order — duplicate
    fingerprints in one bucket included."""
    rng = np.random.default_rng(epb * 100 + bits)
    p = CuckooParams(max_table_size=256, entries_per_bucket=epb, bits_per_fp=bits)
    table = rng.integers(1, 4, size=(p.table_size, epb)).astype(p.dtype)
    table[rng.random(table.shape) < 0.3] = 0
    table = -np.sort(-table.astype(np.int64), axis=1)  # left-packed
    a = CuckooTable(p, table.astype(p.dtype))
    b = CuckooTable(p, table.astype(p.dtype))
    rows, fps = a.nonzero_entries()
    pick = rng.random(len(rows)) < 0.6
    a.delete_stored(rows[pick], fps[pick])
    for r, f in zip(rows[pick].tolist(), fps[pick].tolist()):
        assert b.delete_at(r, f)
    assert np.array_equal(a.table, b.table)
    assert np.array_equal(a.occ, b.occ)
    assert a.element_count == b.element_count


@pytest.mark.parametrize("buffer", [7, KickDraws.BUFFER])
@pytest.mark.parametrize("epb", [2, 4])
def test_kick_draws_reproduce_scalar_stream(epb, buffer, monkeypatch):
    """Buffered eviction-slot draws are the scalar ``integers(epb)``
    stream, across refills, and leave the generator where the scalar
    draws leave it."""
    monkeypatch.setattr(KickDraws, "BUFFER", buffer)
    seed = np.uint64(0xD1CE) ^ np.uint64(17)
    draws = KickDraws(seed, epb)
    got = [j for _ in range(3) for j in draws.refill()]
    g = np.random.default_rng(seed)
    assert got == [int(g.integers(epb)) for _ in range(3 * buffer)]
    assert draws.gen.bit_generator.state == g.bit_generator.state


def _filled_to_failure() -> tuple[CuckooFilter, int]:
    """A static filter fed 256-key batches until it parks a victim."""
    cf = CuckooFilter(CuckooParams(max_table_size=128, bits_per_fp=16))
    i = 0
    while not cf.is_full():
        cf.insert(np.arange(i, i + 256, dtype=np.int64))
        i += 256
    return cf, i


def test_static_filter_filled_to_failure_bytes():
    """Kicks (and the draws they consume) up to the victim reproduce the
    bytes recorded before the draws were buffered."""
    cf, _ = _filled_to_failure()
    assert cf.victim == (23, 44996)
    assert hashlib.md5(serialize_filter(cf)).hexdigest() == "70e6a050225040261407bcd9f0404fd1"


@pytest.mark.parametrize("dedup", [True, False], ids=["set", "multiset"])
def test_kick_exhaustion_spills_to_another_table(dedup, monkeypatch):
    """Two-slot buckets loaded to the 0.9 watermark exhaust the 500-kick
    bound: every pair a ``kick_insert`` hands back is stored in another
    chain table, no key is lost, and the element count is the distinct
    (bucket pair, fp) count in set mode and the insert count in multiset."""
    p = CuckooParams(max_table_size=100, entries_per_bucket=2, bits_per_fp=32)
    leftovers = []
    kick_insert = CuckooTable.kick_insert

    def counted(self, *a):
        r = kick_insert(self, *a)
        if r is not None:
            leftovers.append((self, *r))
        return r

    monkeypatch.setattr(CuckooTable, "kick_insert", counted)
    keys = np.random.default_rng(9).integers(0, 1500, 3000)
    f = DynamicCuckooFilter(p, dedup=dedup)
    for batch in np.array_split(keys, 4):
        f.insert(batch)
    assert leftovers, "the load must exhaust the kick bound"
    for src, i, fp in leftovers:
        alt = int(src.complement(np.array([i]), np.array([fp]))[0])
        assert any((t.table[i] == fp).any() or (t.table[alt] == fp).any()
                   for t in f.tables if t is not src)
    assert f.contains(keys).all()
    fp, i1 = f.first_pass(keys)
    canon = np.minimum(i1, f.tables[0].complement(i1, fp))
    pairs = np.unique((canon.astype(np.uint64) << np.uint64(32)) | fp.astype(np.uint64))
    assert f.element_count == (len(pairs) if dedup else len(keys))


def test_cf_serde_preserves_victim():
    cf, i = _filled_to_failure()
    g = deserialize_filter(serialize_filter(cf))
    assert g.victim == cf.victim
    probes = np.arange(0, i, dtype=np.int64)
    assert (g.contains(probes) == cf.contains(probes)).all()


def test_merge_answers_associative_and_commutative():
    # north_rule: permute partition merge order -> identical answers
    rng = np.random.default_rng(42)
    parts = np.array_split(rng.integers(0, 1_000_000, 40_000), 4)
    filters = []
    for i, part in enumerate(parts):
        f = DynamicCuckooFilter(CuckooParams(max_table_size=8192, bits_per_fp=16), rng_seed=i)
        f.insert(part)
        filters.append(serialize_filter(f))
    probes = rng.integers(0, 2_000_000, 50_000)
    all_keys = np.concatenate(parts)
    answers = []
    for perm in itertools.permutations(range(4)):
        m = DynamicCuckooFilter(CuckooParams(max_table_size=8192, bits_per_fp=16))
        for j in perm:
            m.merge(deserialize_filter(filters[j]))
        a = m.contains(probes)
        answers.append(a)
        assert m.contains(all_keys).all()  # no false negatives post-merge
        assert m.element_count == len(all_keys)
    for a in answers[1:]:
        assert (a == answers[0]).all()


def test_merge_then_compact_preserves_membership():
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 500_000, 20_000)
    halves = np.array_split(keys, 2)
    a = DynamicCuckooFilter(CuckooParams(max_table_size=4096, bits_per_fp=12), rng_seed=0)
    b = DynamicCuckooFilter(CuckooParams(max_table_size=4096, bits_per_fp=12), rng_seed=1)
    a.insert(halves[0])
    b.insert(halves[1])
    a.merge(b)
    a.compact()
    assert a.contains(keys).all()


def _merge_with_in_batch_pass(filt, other):
    """The merge the set-donor skip replaced, as reference: every donor
    table's pairs go through the in-batch first-occurrence pass of
    ``_dedup_pairs`` before the in-chain check."""
    for t in other.tables:
        rows, fps = t.nonzero_entries()
        if len(rows):
            filt._insert_fps(fps, rows)
    return filt


@pytest.mark.parametrize("epb,bits", sorted(LEGAL_CONFIGS))
def test_set_donor_merge_matches_in_batch_reference(epb, bits, monkeypatch):
    """Merging set-mode donors skips the in-batch pass and leaves the
    bytes of the merge that ran it: a set filter stores each canonical
    (bucket pair, fp) once.  Chained donors, overlapping key sets."""
    from cuckoofilter_spark.core import dynamic_filter

    keys = fixtures.golden_stream()
    params = CuckooParams(max_table_size=fixtures.BLOB_MAX_TABLE_SIZE,
                          entries_per_bucket=epb, bits_per_fp=bits)
    blobs = []
    for i, part in enumerate((keys[:900], keys[600:1500], keys[1200:])):
        f = DynamicCuckooFilter(params, rng_seed=i, dedup=True)
        f.insert(part)
        assert f.cf_count >= 2
        blobs.append(serialize_filter(f))
    want = deserialize_filter(blobs[0])
    for b in blobs[1:]:
        _merge_with_in_batch_pass(want, deserialize_filter(b))
    passes = []
    real = dynamic_filter.first_occurrence
    monkeypatch.setattr(dynamic_filter, "first_occurrence",
                        lambda a: passes.append(len(a)) or real(a))
    got = deserialize_filter(blobs[0])
    for b in blobs[1:]:
        got.merge(deserialize_filter(b))
    assert passes == []
    assert serialize_filter(got) == serialize_filter(want)
    assert got.contains(keys).all()


@pytest.mark.parametrize("epb,bits", [(4, 8), (2, 32)])
def test_multiset_donor_copies_collapse_in_set_merge(epb, bits):
    """A multiset donor holding many copies of a key, merged into a set
    filter, still leaves one copy: its pairs keep the in-batch pass."""
    params = CuckooParams(max_table_size=256, entries_per_bucket=epb, bits_per_fp=bits)
    donor = DynamicCuckooFilter(params, dedup=False)
    donor.insert(np.array([7] * 20 + [8, 9, 8], dtype=np.int64))
    assert donor.element_count == 23
    into = DynamicCuckooFilter(params, rng_seed=1, dedup=True)
    into.insert(np.array([9], dtype=np.int64))
    into.merge(donor)
    assert into.element_count == 3
    assert into.contains(np.array([7, 8, 9])).all()
    assert into.delete(np.array([7, 7])).tolist() == [True, False]


def _first_occurrence_by_sort(a):
    """Reference for ``first_occurrence``: the ``np.unique`` mask."""
    _, first = np.unique(a, return_index=True)
    first.sort()
    mask = np.zeros(len(a), dtype=bool)
    mask[first] = True
    return mask


_I64 = np.iinfo(np.int64)


@pytest.mark.parametrize("a", [
    np.zeros(0, dtype=np.int64),
    np.array([42], dtype=np.int64),
    np.full(1000, 7, dtype=np.int32),
    (np.random.default_rng(3).zipf(1.3, 50_000) % (1 << 31)).astype(np.int32),
    np.random.default_rng(4).choice(
        np.array([_I64.min, _I64.max, -1, 0, 1, _I64.min + 1, _I64.max - 1]), 5000),
    np.random.default_rng(5).choice(
        np.array([1 << 63, (1 << 64) - 1, 0, 1, (1 << 63) + 1], dtype=np.uint64), 5000),
    np.array([0, 3, 1, 3], dtype=np.int64),                      # span == len - 1
    np.array([0, 4, 1, 4], dtype=np.int64),                      # span == len
    np.r_[-128, 127, np.random.default_rng(6).integers(-128, 128, 2000)].astype(np.int8),
    np.random.default_rng(7).integers(-(1 << 31), -(1 << 31) + 900, 1000).astype(np.int32),
    np.random.default_rng(8).integers(-(1 << 31), 0, 1000).astype(np.int32),
    np.uint64((1 << 64) - 1) - np.array([9, 0, 3, 9, 0, 1, 2, 5, 7, 8, 9], dtype=np.uint64),
    np.uint64((1 << 64) - 1) - np.array([9, 0, 3, 0, 1, 2], dtype=np.uint64),
], ids=["empty", "one", "all_equal", "zipf_int32", "int64_extremes", "uint64_high_bit",
        "span_len_minus_1", "span_len", "int8_full_span", "neg_int32_dense",
        "neg_int32_sparse", "uint64_top_10_dense", "uint64_top_10_sparse"])
def test_first_occurrence_matches_sort_reference(a):
    got = first_occurrence(a)
    assert got.dtype == bool and len(got) == len(a)
    assert (got == _first_occurrence_by_sort(a)).all()


def test_batch_paths_need_neither_unique_nor_arrow_hash(monkeypatch):
    """Set-mode ``insert``, a multiset-donor ``merge``, ``delete``, a
    chained ``compact`` and the HLL, count-min and Bloom updates find a
    batch's distinct values and runs through ``core/distinct`` alone: they
    all run, on a dense and a sparse batch, with ``np.unique`` and Arrow's
    ``dictionary_encode`` raising."""
    import pyarrow.compute as pc

    from cuckoofilter_spark.sketches import BloomFilter, CountMinSketch, HyperLogLog

    def banned(*args, **kwargs):
        raise AssertionError("a batch path called np.unique or dictionary_encode")

    rng = np.random.default_rng(12)
    dense = (rng.zipf(1.3, 6000) % 700).astype(np.int64)
    sparse = rng.integers(0, 1 << 62, 3000)
    params = CuckooParams(max_table_size=256, bits_per_fp=16)
    monkeypatch.setattr(np, "unique", banned)
    monkeypatch.setattr(pc, "dictionary_encode", banned)
    filt = DynamicCuckooFilter(params, dedup=True)
    filt.insert(dense)
    filt.insert(sparse)
    donor = DynamicCuckooFilter(params, rng_seed=1)
    donor.insert(np.concatenate([dense[:2000], sparse[:500]]))
    filt.merge(donor)
    assert filt.cf_count >= 3
    assert filt.delete(sparse[:2000]).all()
    filt.compact()
    for sketch in (HyperLogLog(p=10), CountMinSketch(width=512), BloomFilter(m_bits=1 << 14)):
        sketch.update(dense)
        sketch.update(sparse)
    monkeypatch.undo()
    assert filt.contains(np.concatenate([dense, sparse[2000:]])).all()


@pytest.mark.parametrize("s", [
    np.zeros(0, dtype=np.int64),
    np.array([42], dtype=np.int64),
    np.full(9, 5, dtype=np.uint64),
    np.sort(np.random.default_rng(9).choice(
        np.array([_I64.min, _I64.min + 1, -1, 0, _I64.max - 1, _I64.max]), 300)),
], ids=["empty", "one", "all_equal", "int64_extremes"])
def test_runs_match_unique(s):
    """Run starts and lengths of a sorted array are ``np.unique``'s first
    indices and counts."""
    start, counts = runs(s)
    _, want_start, want_counts = np.unique(s, return_index=True, return_counts=True)
    assert np.array_equal(start, want_start)
    assert np.array_equal(counts, want_counts)


@pytest.mark.parametrize("epb,bits", sorted(LEGAL_CONFIGS))
def test_swar_contains_at_matches_broadcast_reference(epb, bits):
    """The SWAR word probe answers exactly as the broadcast ``==`` over
    every slot, with empty slots, full buckets and fingerprints whose lane
    top bit or every bit is set."""
    p = CuckooParams(max_table_size=2048, entries_per_bucket=epb, bits_per_fp=bits)
    rng = np.random.default_rng(bits)
    top, full = 1 << (bits - 1), (1 << bits) - 1
    special = np.array([1, 2, top - 1, top, top + 1, full - 1, full], dtype=np.uint64)
    random_fps = rng.integers(1, full, 64, endpoint=True, dtype=np.uint64)
    pool = np.concatenate([special, random_fps]).astype(np.uint32)
    occ = rng.integers(0, epb, p.table_size, endpoint=True)
    occ[:16] = epb                                   # some full buckets...
    occ[16:32] = 0                                   # ...and some empty ones
    cells = rng.choice(pool, (p.table_size, epb)).astype(p.dtype)
    cells[np.arange(epb)[None, :] >= occ[:, None]] = 0   # left-packed
    cells[:8] = np.array(special[-1], dtype=p.dtype)     # full of all-ones
    cells[8:16] = np.array(special[3], dtype=p.dtype)    # full of top bit
    t = CuckooTable(p, cells)
    idx = rng.integers(0, p.table_size, 20_000)
    fps = rng.choice(pool, 20_000)
    idx[:32 * len(special)] = np.repeat(np.arange(32), len(special))
    fps[:32 * len(special)] = np.tile(special, 32).astype(np.uint32)
    want = (t.table[idx] == fps[:, None].astype(t.table.dtype)).any(axis=1)
    got = t.contains_at(idx, fps)
    assert got.dtype == bool
    assert (got == want).all()
    assert 0 < want.sum() < len(want)


def test_determinism_across_runs():
    # same input + seeds -> byte-identical serialized filter (resume-safety)
    def build():
        f = DynamicCuckooFilter(CuckooParams(max_table_size=2048, bits_per_fp=16, seed=3), rng_seed=11)
        f.insert(np.arange(20_000, dtype=np.int64))
        return serialize_filter(f)

    assert build() == build()


def test_bulk_delete_at_matches_delete_at_loop_up_to_slot_order():
    """``bulk_delete_at`` on a filled table leaves each bucket the multiset
    and ``occ`` of a ``delete_at`` loop over the same requests, with the
    same deleted mask; only the slot order differs (survivors keep their
    order, ``delete_at`` moves the last lane into the hole)."""
    p = CuckooParams(max_table_size=256, entries_per_bucket=4, bits_per_fp=8)
    rng = np.random.default_rng(21)
    a = CuckooTable(p, rng.integers(1, 6, size=(p.table_size, 4)).astype(p.dtype))
    b = CuckooTable(p, a.table.copy())
    assert (a.occ == 4).all()
    n = 2 * p.table_size
    bidx = rng.integers(0, p.table_size, n)
    fps = rng.integers(1, 7, n).astype(p.dtype)   # 6 is never stored
    got = a.bulk_delete_at(bidx, fps)
    want = np.array([b.delete_at(int(i), int(f)) for i, f in zip(bidx, fps)])
    assert np.array_equal(got, want) and 0 < want.sum() < len(want)
    assert np.array_equal(np.sort(a.table, axis=1), np.sort(b.table, axis=1))
    assert np.array_equal(a.occ, b.occ)
    assert a.element_count == b.element_count
    assert not np.array_equal(a.table, b.table)

    one = np.array([[5, 6, 7, 8]], dtype=np.uint8)
    p1 = CuckooParams(max_table_size=1, entries_per_bucket=4, bits_per_fp=8)
    bulk, loop = CuckooTable(p1, one.copy()), CuckooTable(p1, one.copy())
    bulk.bulk_delete_at(np.array([0]), np.array([5], dtype=np.uint8))
    loop.delete_at(0, 5)
    assert bulk.table[0].tolist() == [6, 7, 8, 0]
    assert loop.table[0].tolist() == [8, 6, 7, 0]


def test_bulk_delete_matches_sequential_loop():
    """Vectorized chain delete == the per-key delete_at loop: same
    success mask, same surviving multiset (copies of one (bucket-pair,
    fp) are interchangeable)."""
    import numpy as np

    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.params import CuckooParams

    rng = np.random.default_rng(11)
    params = CuckooParams(max_table_size=4096, bits_per_fp=12)
    keys = rng.integers(0, 5000, size=20_000)  # heavy duplication
    a = DynamicCuckooFilter(params, dedup=False)
    b = DynamicCuckooFilter(params, dedup=False)
    a.insert(keys)
    b.insert(keys)

    dels = rng.permutation(np.concatenate([keys[:15_000], rng.integers(6000, 7000, 500)]))
    got = a.delete(dels)

    # sequential reference: per-key first-hit loop over the same chain
    fp, i1 = b.first_pass(dels)
    i2 = b.tables[0].complement(i1, fp)
    want = np.zeros(len(dels), dtype=bool)
    for k in range(len(dels)):
        for t in b.tables:
            if t.delete_at(int(i1[k]), int(fp[k])) or t.delete_at(int(i2[k]), int(fp[k])):
                want[k] = True
                break
    assert np.array_equal(got, want)
    assert a.element_count == b.element_count
    # surviving multiset identical: same stored (canonical bucket, fp) bags
    def bag(f):
        out = []
        for t in f.tables:
            r, fps_ = t.nonzero_entries()
            canon = np.minimum(r, t.complement(r, fps_))
            out.append((canon.astype(np.uint64) << np.uint64(32)) | fps_)
        return np.sort(np.concatenate(out))
    assert np.array_equal(bag(a), bag(b))


def test_bulk_delete_duplicates_consume_distinct_copies():
    import numpy as np

    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.params import CuckooParams

    f = DynamicCuckooFilter(CuckooParams(max_table_size=1024), dedup=False)
    f.insert(np.array([42, 42, 42], dtype=np.int64))
    res = f.delete(np.array([42, 42, 42, 42], dtype=np.int64))
    assert res.sum() == 3 and not res[3]
    assert not f.contains(np.array([42]))[0]


def test_multiset_duplicate_pileup_is_fast_not_quadratic():
    """dedup=False stores every copy; piling copies of ONE key used to run
    the full 500-kick loop per copy against buckets already uniform with
    that fingerprint (38 s for 500 copies).  The futile-eviction fast path
    must keep this linear-ish."""
    import time

    import numpy as np

    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.params import CuckooParams

    f = DynamicCuckooFilter(CuckooParams(max_table_size=65536), dedup=False)
    t0 = time.time()
    f.insert(np.full(2000, 42, dtype=np.int64))
    took = time.time() - t0
    assert took < 20, f"duplicate pile-up took {took:.1f}s"
    assert f.contains(np.array([42], dtype=np.int64))[0]
    assert f.element_count == 2000


def test_serde_wide_fp_victim_and_large_seed_roundtrip():
    """CKF2 header: 32-bit fingerprints with a parked victim, and uint64
    seeds, must serialize (CKF1 overflowed both fields)."""
    import numpy as np

    from cuckoofilter_spark.core.cuckoo_filter import CuckooFilter
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
    from cuckoofilter_spark.params import CuckooParams

    cf = CuckooFilter(CuckooParams(max_table_size=16, entries_per_bucket=2,
                                   bits_per_fp=32))
    keys = np.arange(10_000, dtype=np.int64)
    cf.insert(keys)
    assert cf.victim is not None, "tiny filter should have parked a victim"
    back = deserialize_filter(serialize_filter(cf))
    assert back.victim == cf.victim
    assert (back.contains(keys) == cf.contains(keys)).all()

    big_seed = 2 ** 31 + 12345
    dcf = DynamicCuckooFilter(CuckooParams(max_table_size=64, seed=big_seed))
    dcf.insert(np.arange(100, dtype=np.int64))
    back2 = deserialize_filter(serialize_filter(dcf))
    assert back2.params.seed == big_seed
    assert back2.contains(np.arange(100, dtype=np.int64)).all()


def test_serde_rejects_old_format_blob():
    import pytest

    from cuckoofilter_spark.core.serde import deserialize_filter

    with pytest.raises(ValueError, match="bad filter blob"):
        deserialize_filter(b"CKF1" + b"\x00" * 60)


def test_murmur3_x86_128_smhasher_verification():
    """The murmur3 parity backend IS MurmurHash3_x86_128: SMHasher's
    official VerificationTest (hash keys {0..i-1} with seed 256-i for
    i in 0..255, hash the concatenated digests with seed 0, low 4 bytes)
    must equal the published constant for Murmur3C, 0xB3ECE62A."""
    from cuckoofilter_spark.hashing import murmur3_x86_128

    hashes = b"".join(murmur3_x86_128(bytes(range(i)), 256 - i)
                      for i in range(256))
    final = murmur3_x86_128(hashes, 0)
    assert int.from_bytes(final[:4], "little") == 0xB3ECE62A


def test_murmur3_string_backend_matches_reference_wiring():
    """hash64_bytes_murmur3 = the reference's commented-out call shape:
    MurmurHash3_x86_128(s, len, seed=5, out); return out[0] (low 8 bytes
    little-endian).  str and bytes inputs agree; output is uniform-ish."""
    import numpy as np

    from cuckoofilter_spark.hashing import (
        hash64_bytes_murmur3,
        murmur3_x86_128,
    )

    out = hash64_bytes_murmur3(["abc", b"abc", "", "cuckoo filter"])
    assert out[0] == out[1]
    assert out[0] == int.from_bytes(murmur3_x86_128(b"abc", 5)[:8], "little")
    assert out.dtype == np.uint64 and len(set(out.tolist())) == 3


# (length, CityHash64) vectors produced by compiling the vendored public
# CityHash v1.1 source (/root/reference/Utils/city_hash.cpp, MIT) with a
# 28-input harness; byte inputs are the deterministic corpus
# bytes((i*131+17) & 0xff for i in range(length)).  Every length-class
# branch is covered: 0, 1-3, 4-7, 8-16, 17-32, 33-64, and >64 including
# multi-block (128/200/255/1000 exercise the 64-byte rolling-state loop).
_CITY_LEN_VECTORS = [
    (2, 16479644212507597872), (3, 8156813543280962808),
    (4, 9576656824710289082), (7, 16634063680387903364),
    (8, 1668742482406966573), (9, 6435977205899572716),
    (15, 7539679315945763698), (16, 14559320776956635179),
    (17, 7327678621829093979), (24, 5405474936806680719),
    (31, 2309315602388385704), (32, 6526961488314481880),
    (33, 11176955690067334164), (47, 6542505268235149357),
    (48, 14117006617646811768), (63, 8478130400770890322),
    (64, 10750527045920974587), (65, 1398270373454049446),
    (100, 16503601989387789186), (128, 12464048544463885051),
    (200, 5500651696199201100), (255, 8791588091735925053),
    (1000, 10608802493083015753),
]

_CITY_STR_VECTORS = [
    (b"", 11160318154034397263),  # == k2, the documented len-0 value
    (b"a", 12917804110809363939),
    (b"hello", 13009744463427800296),
    (b"hello, world", 855043215758678039),
    (b"The quick brown fox jumps over the lazy dog", 14008572299481893501),
]


def test_cityhash64_bit_parity_with_reference():
    """The CityHash64 parity backend is bit-exact vs the reference's live
    string-hash path (Utils/hash_function.cpp:64-68 -> city_hash.cpp:365):
    28 vectors from compiling the vendored public source, one per
    length-class branch plus multi-block strings."""
    from cuckoofilter_spark.hashing import cityhash64

    for s, exp in _CITY_STR_VECTORS:
        assert cityhash64(s) == exp, f"string input {s!r}"
    for n, exp in _CITY_LEN_VECTORS:
        data = bytes((i * 131 + 17) & 0xFF for i in range(n))
        assert cityhash64(data) == exp, f"length {n}"


def test_cityhash64_string_backend_matches_reference_wiring():
    """hash64_bytes_city = the reference's live call shape:
    CityHash64(key.c_str(), key.size()) as uint64; str and bytes agree."""
    import numpy as np

    from cuckoofilter_spark.hashing import cityhash64, hash64_bytes_city

    out = hash64_bytes_city(["abc", b"abc", "", "cuckoo filter"])
    assert out[0] == out[1] == cityhash64(b"abc")
    assert out[2] == 0x9AE16A3B2F90404F  # k2
    assert out.dtype == np.uint64 and len(set(out.tolist())) == 3
