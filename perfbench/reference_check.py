#!/usr/bin/env python3
"""Check that the benchmark's token generator reproduces bench.py's corpus.

    python3 perfbench/reference_check.py

Generates the FIXTURES section 1 corpus at bench.py's own parameters (seed 42,
400_000 docs, 64 files), counts its tokens, builds the filter with
``build_filter_from_parquet`` exactly as bench.py does, and compares the
token count and bench.py's answers digest with the recorded values.  Exits 1
on a mismatch.  Takes about a minute at local[4].
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np

import run  # sets up sys.path for the benchmark's modules

import gen  # noqa: E402

SEED, N_DOCS, N_FILES = 42, 400_000, 64
EXPECT_TOKENS = 108_779_904
EXPECT_DIGEST = "e5aeed71adca16d65506937acb9c9822"


def main() -> int:
    cache = os.path.join(run.ROOT, ".perfbench_cache")
    scratch = run.checkout_env(cache)
    ds = gen.tokens(cache, SEED, N_DOCS, N_FILES)
    n_tokens = ds.manifest["n_tokens"]
    from cuckoofilter_spark.operators.build import build_filter_from_parquet
    from cuckoofilter_spark.params import CuckooParams

    spark = run.start_spark(scratch)
    try:
        filt = build_filter_from_parquet(spark, ds.path, "tokens",
                                         CuckooParams(max_table_size=gen.VOCAB, bits_per_fp=16))
    finally:
        run.stop_spark(spark)
    # bench.py's _answers_digest
    digest = hashlib.md5(filt.contains(np.arange(0, 60_000, 7, dtype=np.int64))
                         .tobytes()).hexdigest()
    ok = n_tokens == EXPECT_TOKENS and digest == EXPECT_DIGEST
    print(f"tokens {n_tokens} (expect {EXPECT_TOKENS}), digest {digest} "
          f"(expect {EXPECT_DIGEST}), input md5 {ds.digest}: {'OK' if ok else 'MISMATCH'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
