"""Sustained-scale single-pass filter build — north-rule evidence ladder.

Extends the 2.0 B-token row in BENCH/BASELINE.md: generate a synthetic
token corpus of the input_hint shape at the requested size, then build
the global cuckoo filter over EVERY token in one pass (no warmup — this
measures the cold sustained regime that matters at the 10^12-sequence
target) and gate the same quality invariants as the bench: zero false
negatives on the Zipf-head tokens present, measured FPR ≤ the configured
bound on out-of-vocab probes, sane load factor, merge-chain length.

    python scripts/sustained_build.py [n_docs]     # default ≈ 5.06 B tokens
    SPARK_GRAFT_KEEP_CORPUS=1 ... to keep the parquet afterwards

Prints ONE JSON line.  The corpus (~2.2 GB / B tokens) is deleted after
the run unless kept."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# 2.0 B tokens came from 7.4 M docs (~272 tok/doc) — 18.6 M ≈ 5.06 B
N_DOCS_DEFAULT = 18_600_000


def main() -> None:
    import numpy as np
    import pyspark.sql.functions as F

    from cuckoofilter_spark.operators.build import build_filter_from_parquet
    from cuckoofilter_spark.params import CuckooParams
    from cuckoofilter_spark.session import get_spark
    from cuckoofilter_spark.sources.tokens import VOCAB, write_synth_tokens

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else N_DOCS_DEFAULT
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(f"sustained-{n_docs}", master=f"local[{cpus}]",
                      **{"spark.sql.files.maxPartitionBytes": "32m"})
    path = os.path.abspath(f".synth/sustained_{n_docs}")
    try:
        t0 = time.time()
        write_synth_tokens(spark, path, n_docs, seed=42, num_partitions=256)
        gen_sec = time.time() - t0
        n_tokens = int(spark.read.parquet(path)
                       .agg(F.sum("n_tok")).collect()[0][0])

        params = CuckooParams(max_table_size=VOCAB, bits_per_fp=16)
        t0 = time.time()
        filt = build_filter_from_parquet(spark, path, "tokens", params)
        build_sec = time.time() - t0

        # the Zipf head (ids < 1000) as actually present in the corpus: a
        # small n_docs need not draw every head id
        head = np.array([r["t"] for r in spark.read.parquet(path)
                         .select(F.explode("tokens").alias("t"))
                         .filter(F.col("t") < 1000).distinct().collect()],
                        dtype=np.int64)
        zero_fn = bool(filt.contains(head).all())
        oov = np.arange(VOCAB + 10_000, VOCAB + 110_000, dtype=np.int64)
        fpr = float(filt.contains(oov).mean())
        print(json.dumps({
            "n_docs": n_docs, "n_tokens": n_tokens, "cpus": cpus,
            "gen_sec": round(gen_sec, 1), "build_sec": round(build_sec, 1),
            "tokens_per_sec": round(n_tokens / build_sec),
            "zero_false_negatives": zero_fn,
            "fpr_measured": fpr, "fpr_bound": params.fpr_bound,
            "fpr_ok": fpr <= params.fpr_bound,
            "load_factor": round(filt.load_factor(), 3),
            "chain": getattr(filt, "cf_count", 1),
        }))
    finally:
        spark.stop()
        if not os.environ.get("SPARK_GRAFT_KEEP_CORPUS"):
            shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
