"""Regenerate the committed test fixtures under ``tests/data/``.

    python tests/data/make_fixtures.py fasta        # FASTA genome + probe list
    python tests/data/make_fixtures.py checkpoint   # golden checkpoint (needs Spark)

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

FASTA_IDENT = "SYNTH0001.1 synthetic test genome, seed 2718"
FASTA_BASES = 1000
FASTA_WIDTH = 70

CKPT_KEYS = 6000
CKPT_SHARDS = 8


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


if __name__ == "__main__":
    what = sys.argv[1:] or ["fasta", "checkpoint"]
    if "fasta" in what:
        make_fasta()
    if "checkpoint" in what:
        make_checkpoint()
