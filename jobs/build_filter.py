"""spark-submit entry: checkpointed distributed cuckoo-filter build.

    spark-submit --py-files cuckoofilter_spark.zip jobs/build_filter.py \
        --input /data/tokens_parquet --col tokens \
        --ckpt /ckpt/tokens_cf --shards 4096 \
        --table-size 268435456 --bits 16

Resumable: rerunning the same command skips completed shards (per-shard
lineage in <ckpt>/lineage.json, metrics appended to <ckpt>/metrics.jsonl).
On a cluster, pass --master/--conf via spark-submit as usual; locally the
script falls back to local[*].
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python jobs/build_filter.py` runs: repo root on path (under
# spark-submit, --py-files provides the package instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="parquet path of the token table")
    ap.add_argument("--col", default="tokens", help="key column (int or array<int>)")
    ap.add_argument("--ckpt", required=True, help="checkpoint directory")
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--table-size", type=int, default=1 << 20)
    ap.add_argument("--bits", type=int, default=16, choices=(4, 8, 12, 16, 32))
    ap.add_argument("--epb", type=int, default=4, choices=(2, 4))
    ap.add_argument("--multiset", action="store_true",
                    help="reference multiset semantics (default: set/dedup)")
    return ap.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from cuckoofilter_spark.operators.checkpointed_build import CheckpointedBuild
    from cuckoofilter_spark.params import CuckooParams
    from cuckoofilter_spark.session import get_spark

    spark = get_spark("cf-build")
    params = CuckooParams(max_table_size=args.table_size,
                          entries_per_bucket=args.epb, bits_per_fp=args.bits)
    df = spark.read.parquet(args.input)

    cb = CheckpointedBuild(spark, args.ckpt, params, args.col,
                           n_shards=args.shards, dedup=not args.multiset)
    t0 = time.time()
    metrics = cb.run(df)
    filt = cb.finalize()
    print(json.dumps({
        **metrics,
        "total_sec": round(time.time() - t0, 3),
        "element_count": filt.element_count,
        "cf_count": filt.cf_count,
        "load_factor": round(filt.load_factor(), 2),
        "memory_bytes": filt.memory_bytes(),
        "filter_path": f"{args.ckpt}/filter.bin",
    }))


if __name__ == "__main__":
    main()
