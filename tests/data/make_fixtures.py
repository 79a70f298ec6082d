"""Regenerate the committed test fixtures under ``tests/data/``.

    python tests/data/make_fixtures.py fasta        # FASTA genome + probe list
    python tests/data/make_fixtures.py checkpoint   # golden checkpoint (needs Spark)
    python tests/data/make_fixtures.py blobs        # golden filter bytes per config
    python tests/data/make_fixtures.py compacted    # the same chains, compacted
    python tests/data/make_fixtures.py deleted      # the same chains after a delete
    python tests/data/make_fixtures.py sketches     # golden order-free sketch bytes

``fasta`` writes ``synth_small.fna`` — one record, 1,000 bases of seeded
ACGT with a few ``N`` runs, wrapped at 70 columns (the shape of a small
NCBI genome file) — and ``synth_small_kmers_10.txt``, 1,000 seeded random
10-mers, one per line, for the false-positive-rate probe.

``checkpoint`` builds a complete 8-shard ``CheckpointedBuild`` directory
(manifest, lineage, blob parquet) over a fixed key set and finalizes it.
When ``golden_ckpt/`` is absent it is written, with ``expected.json``
holding the md5 of ``filter.bin``; when present, it is left alone and the
rebuild's md5 is checked against it.  The committed copy was made by an
earlier version of the code: the blob wire format is frozen, so checkpoints
on disk must keep resuming (``tests/test_checkpoint.py`` finalizes it and
requires the same md5).

``blobs`` writes ``golden_blobs/<epb>x<bits>_<set|multiset>.bin``: one
``serialize_filter`` blob per legal configuration and mode, built by
``golden_blob`` from a fixed 2,000-key Zipf int32 stream (765 distinct
keys, the hottest one 346 times) into 64-bucket tables, so every case
chains to at least two tables and takes kicks.  Existing blobs are left
alone and checked instead.  They pin placement, dedup and merge to the
bytes the kernels produced when the blobs were written
(``tests/test_cuckoo_core.py`` rebuilds each one).

``compacted`` writes ``golden_compacted/<epb>x<bits>_<set|multiset>.bin``:
the chain behind each golden blob, run through
``DynamicCuckooFilter.compact`` and serialized.  Every case leaves at least
one donor table holding fewer fingerprints than before (the partial-donor
branch), so these blobs pin ``compact``'s removal order as well as its
placement.  Like ``blobs``, existing files are checked, never rewritten.

``deleted`` writes ``golden_deleted/<epb>x<bits>_<set|multiset>.bin``: the
chain behind each golden blob after one ``DynamicCuckooFilter.delete``
call (``golden_delete_keys``: every third key of the stream, hot keys
repeated, then keys never inserted), serialized.  ``delete`` runs
``CuckooTable.bulk_delete_at`` per chain member, whose left-packed slot
order differs from a ``delete_at`` loop, so these blobs pin that order.
Every case deletes from at least two chain members.  Like ``blobs``,
existing files are checked, never rewritten.

``sketches`` writes ``golden_sketches/<sketch>_<stream>.bin``: the
``serialize_sketch`` bytes of each order-free sketch (HLL at p = 4, 14 and
18, count-min, Bloom, KMV) after ``update`` over each ``SKETCH_STREAMS``
stream.  The streams cover both ``distinct.dense_counts`` outcomes: dense
Zipf and negative int32 batches, dense int64 next to INT64_MIN and
INT64_MAX, dense uint64 just below 2^64, a sparse random int64 stream, and
single batches whose span is n - 1 (dense), n and n + 1 (hashed as they
are).  Like ``blobs``, existing files are checked, never rewritten; the
committed ones were written by the per-occurrence kernels, so the
distinct-key kernels must reproduce them.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

FNA = os.path.join(HERE, "synth_small.fna")
KMERS_10 = os.path.join(HERE, "synth_small_kmers_10.txt")
GOLDEN = os.path.join(HERE, "golden_ckpt")
GOLDEN_BLOBS = os.path.join(HERE, "golden_blobs")
GOLDEN_COMPACTED = os.path.join(HERE, "golden_compacted")
GOLDEN_DELETED = os.path.join(HERE, "golden_deleted")
GOLDEN_SKETCHES = os.path.join(HERE, "golden_sketches")

FASTA_IDENT = "SYNTH0001.1 synthetic test genome, seed 2718"
FASTA_BASES = 1000
FASTA_WIDTH = 70

CKPT_KEYS = 6000
CKPT_SHARDS = 8

BLOB_KEYS = 2000
BLOB_ZIPF_A = 1.2
BLOB_MAX_TABLE_SIZE = 100  # -> 64 buckets per table


def golden_stream() -> np.ndarray:
    """The fixed Zipf int32 stream behind every golden blob."""
    z = np.random.default_rng(4242).zipf(BLOB_ZIPF_A, BLOB_KEYS).astype(np.uint64)
    with np.errstate(over="ignore"):
        mixed = (z * np.uint64(0x9E3779B1)) & np.uint64(0xFFFFFFFF)
    return mixed.astype(np.uint32).view(np.int32)


def golden_blob_name(epb: int, bits: int, dedup: bool) -> str:
    return f"{epb}x{bits}_{'set' if dedup else 'multiset'}.bin"


def golden_filter(epb: int, bits: int, dedup: bool):
    """Insert the first half of the stream in three batches, build the
    second half in a second filter, and merge it in."""
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.params import CuckooParams

    keys = golden_stream()
    params = CuckooParams(max_table_size=BLOB_MAX_TABLE_SIZE,
                          entries_per_bucket=epb, bits_per_fp=bits)
    filt = DynamicCuckooFilter(params, rng_seed=7, dedup=dedup)
    half = len(keys) // 2
    for batch in np.array_split(keys[:half], 3):
        filt.insert(batch)
    other = DynamicCuckooFilter(params, rng_seed=8, dedup=dedup)
    other.insert(keys[half:])
    return filt.merge(other)


def golden_blob(epb: int, bits: int, dedup: bool) -> bytes:
    """The serialized ``golden_filter``."""
    from cuckoofilter_spark.core.serde import serialize_filter

    return serialize_filter(golden_filter(epb, bits, dedup))


def golden_compacted(epb: int, bits: int, dedup: bool) -> bytes:
    """The ``golden_filter`` chain after ``compact``, serialized."""
    from cuckoofilter_spark.core.serde import serialize_filter

    filt = golden_filter(epb, bits, dedup)
    filt.compact()
    return serialize_filter(filt)


def golden_delete_keys() -> np.ndarray:
    """Every third key of the golden stream (the hottest ones many times
    over), then 200 seeded int32 keys the stream does not hold."""
    keys = golden_stream()
    absent = np.random.default_rng(99).integers(-(1 << 31), 1 << 31, 400).astype(np.int32)
    absent = absent[~np.isin(absent, keys)][:200]
    return np.concatenate([keys[::3], absent])


def golden_deleted(epb: int, bits: int, dedup: bool) -> bytes:
    """The ``golden_filter`` chain after deleting ``golden_delete_keys``
    in one call, serialized."""
    from cuckoofilter_spark.core.serde import serialize_filter

    filt = golden_filter(epb, bits, dedup)
    filt.delete(golden_delete_keys())
    return serialize_filter(filt)


INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1
SPAN_N = 1000


def _span_batch(span: int) -> np.ndarray:
    """``SPAN_N`` int64 keys whose max - min is ``span``: a shuffled
    ``arange`` with its largest key moved to ``span``."""
    a = np.random.default_rng(span).permutation(SPAN_N).astype(np.int64) + 5000
    a[a.argmax()] = 5000 + span
    return a


def _sketch_streams() -> dict:
    """Name -> list of update batches, each batch a seeded NumPy array."""
    rng = np.random.default_rng(1618)
    zipf = np.minimum(rng.zipf(1.3, 6000), 1000).astype(np.int32)
    low = rng.integers(0, 1000, 4000)
    return {
        "zipf_int32": np.array_split(zipf, 3),
        "neg_int32": np.array_split(-(zipf + 7), 3),
        "int64_min": np.array_split(np.int64(INT64_MIN) + low, 3),
        "int64_max": np.array_split(np.int64(INT64_MAX) - low, 3),
        "uint64_top": np.array_split(np.uint64((1 << 64) - 1) - low.astype(np.uint64), 3),
        "sparse_int64": np.array_split(
            rng.integers(INT64_MIN, INT64_MAX, 3000, endpoint=True), 3),
        "span_n_minus_1": [_span_batch(SPAN_N - 1)],
        "span_n": [_span_batch(SPAN_N)],
        "span_n_plus_1": [_span_batch(SPAN_N + 1)],
    }


def _sketch_factories() -> dict:
    from cuckoofilter_spark.sketches import BloomFilter, CountMinSketch, HyperLogLog
    from cuckoofilter_spark.sketches.kmv import KMVSketch

    return {
        "hll4": lambda: HyperLogLog(p=4, seed=3),
        "hll14": lambda: HyperLogLog(p=14, seed=3),
        "hll18": lambda: HyperLogLog(p=18, seed=3),
        "cms": lambda: CountMinSketch(depth=5, width=1024, seed=3),
        "bloom": lambda: BloomFilter(m_bits=1 << 14, k=7, seed=3),
        "kmv": lambda: KMVSketch(k=256, seed=3),
    }


SKETCH_STREAMS = tuple(_sketch_streams())
SKETCH_KINDS = ("hll4", "hll14", "hll18", "cms", "bloom", "kmv")


def golden_sketch_name(kind: str, stream: str) -> str:
    return f"{kind}_{stream}.bin"


def golden_sketch(kind: str, stream: str) -> bytes:
    """The serialized sketch ``kind`` after updating it with every batch
    of ``stream`` in order."""
    from cuckoofilter_spark.sketches import serialize_sketch

    sk = _sketch_factories()[kind]()
    for batch in _sketch_streams()[stream]:
        sk.update(batch)
    return serialize_sketch(sk)


def make_fasta() -> None:
    rng = np.random.default_rng(2718)
    seq = np.array(list("ACGT"))[rng.integers(0, 4, FASTA_BASES)]
    for start in (137, 512, 905):  # short N runs, as in assembly gaps
        seq[start:start + 3] = "N"
    seq = "".join(seq)
    lines = [">" + FASTA_IDENT] + [seq[i:i + FASTA_WIDTH]
                                   for i in range(0, len(seq), FASTA_WIDTH)]
    with open(FNA, "w") as f:
        f.write("\n".join(lines) + "\n")
    probes = np.array(list("ACGT"))[rng.integers(0, 4, (1000, 10))]
    with open(KMERS_10, "w") as f:
        f.write("\n".join("".join(p) for p in probes) + "\n")


def make_checkpoint() -> None:
    from cuckoofilter_spark.operators.checkpointed_build import CheckpointedBuild
    from cuckoofilter_spark.params import CuckooParams
    from cuckoofilter_spark.session import get_spark

    spark = get_spark("golden-ckpt", master="local[2]", shuffle_partitions=8)
    # seeded keys over the int64 range; 6,000 of them overflow one table
    # (capacity 1,843), so the driver fold merges into a chain
    keys = np.random.default_rng(31).integers(-(1 << 62), 1 << 62, CKPT_KEYS).tolist()
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    params = CuckooParams(max_table_size=512, bits_per_fp=16)
    tmp = tempfile.mkdtemp()
    try:
        cb = CheckpointedBuild(spark, tmp, params, "k", n_shards=CKPT_SHARDS)
        cb.run(df)
        cb.finalize()
        with open(os.path.join(tmp, "filter.bin"), "rb") as f:
            md5 = hashlib.md5(f.read()).hexdigest()
        if os.path.exists(GOLDEN):
            with open(os.path.join(GOLDEN, "expected.json")) as f:
                want = json.load(f)["filter_bin_md5"]
            print(json.dumps({"filter_bin_md5": md5, "golden_md5": want}))
            if md5 != want:
                raise SystemExit("rebuild does not reproduce the golden filter.bin")
            return
        os.makedirs(os.path.join(GOLDEN, "blobs"))
        for name in ("manifest.json", "lineage.json"):
            shutil.copy(os.path.join(tmp, name), GOLDEN)
        parts = sorted(glob.glob(os.path.join(tmp, "blobs", "*.parquet")))
        for i, p in enumerate(parts):
            shutil.copy(p, os.path.join(GOLDEN, "blobs", f"part-{i:05d}.parquet"))
        with open(os.path.join(GOLDEN, "expected.json"), "w") as f:
            json.dump({"filter_bin_md5": md5, "n_keys": CKPT_KEYS}, f, indent=1)
            f.write("\n")
        print(json.dumps({"filter_bin_md5": md5, "blob_files": len(parts)}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


def make_blobs(out_dir: str = GOLDEN_BLOBS, build=golden_blob, cases=None,
               name=golden_blob_name) -> None:
    """Write ``build(*case)`` for every case (by default every legal config
    in set and multiset mode) into ``out_dir`` as ``name(*case)``; check
    (never rewrite) the files already there."""
    from cuckoofilter_spark.params import LEGAL_CONFIGS

    if cases is None:
        cases = [(epb, bits, dedup) for epb, bits in LEGAL_CONFIGS
                 for dedup in (True, False)]
    os.makedirs(out_dir, exist_ok=True)
    bad = []
    for case in cases:
        path = os.path.join(out_dir, name(*case))
        blob = build(*case)
        if not os.path.exists(path):
            with open(path, "wb") as f:
                f.write(blob)
        else:
            with open(path, "rb") as f:
                if f.read() != blob:
                    bad.append(os.path.basename(path))
        print(json.dumps({"blob": os.path.basename(path), "bytes": len(blob),
                          "md5": hashlib.md5(blob).hexdigest()}))
    if bad:
        raise SystemExit(f"rebuild does not reproduce {out_dir}: {bad}")


if __name__ == "__main__":
    what = sys.argv[1:] or ["fasta", "checkpoint", "blobs", "compacted", "deleted",
                            "sketches"]
    if "fasta" in what:
        make_fasta()
    if "checkpoint" in what:
        make_checkpoint()
    if "blobs" in what:
        make_blobs()
    if "compacted" in what:
        make_blobs(GOLDEN_COMPACTED, golden_compacted)
    if "deleted" in what:
        make_blobs(GOLDEN_DELETED, golden_deleted)
    if "sketches" in what:
        make_blobs(GOLDEN_SKETCHES, golden_sketch,
                   [(k, s) for k in SKETCH_KINDS for s in SKETCH_STREAMS],
                   golden_sketch_name)
