"""spark-submit entry: distributed sketch build over a parquet column.

    spark-submit --py-files cuckoofilter_spark.zip jobs/build_sketch.py \
        --input /data/events_parquet --col user_id \
        --sketch hll --out /ckpt/users_hll.bin [--p 14]

Every sketch rides the same per-partition-build → deterministic-tree-merge
pipeline as the cuckoo filter (``operators/sketch_build.build_sketch``);
the merged blob is written with the self-describing tag-byte wire format
(``sketches/base.py``), so ``jobs/query_sketch.py`` — or any library user
via ``deserialize_sketch`` — can load it without knowing the type.

Sketch types and their size knobs:
    hll          --p      (register exponent; NDV estimate)
    kll          --k      (compactor width; quantiles over numeric col)
    tdigest      --delta  (compression; quantiles over numeric col)
    cms          --depth/--width (per-key counts over int keys)
    kmv          --k      (bottom-k NDV / set ops over int keys)
    spacesaving  --k      (top-k heavy hitters over a string col)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python jobs/build_sketch.py` runs: repo root on path (under
# spark-submit, --py-files provides the package instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: sketch name -> (factory from args, input value kind for the builder)
SKETCHES = {
    "hll": (lambda a, pid: _hll(a.p), "int"),
    "kll": (lambda a, pid: _kll(a.k, seed=pid), "float"),
    "tdigest": (lambda a, pid: _tdigest(a.delta), "float"),
    "cms": (lambda a, pid: _cms(a.depth, a.width), "int"),
    "kmv": (lambda a, pid: _kmv(a.k), "int"),
    "spacesaving": (lambda a, pid: _spacesaving(a.k), "str"),
}


def _hll(p):
    from cuckoofilter_spark.sketches.hll import HyperLogLog
    return HyperLogLog(p=p)


def _kll(k, seed):
    from cuckoofilter_spark.sketches.kll import KLLSketch
    return KLLSketch(k=k, seed=seed)


def _tdigest(delta):
    from cuckoofilter_spark.sketches.tdigest import TDigest
    return TDigest(delta=delta)


def _cms(depth, width):
    from cuckoofilter_spark.sketches.countmin import CountMinSketch
    return CountMinSketch(depth=depth, width=width)


def _kmv(k):
    from cuckoofilter_spark.sketches.kmv import KMVSketch
    return KMVSketch(k=k)


def _spacesaving(k):
    from cuckoofilter_spark.sketches.spacesaving import SpaceSavingSketch
    return SpaceSavingSketch(k=k)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="parquet path")
    ap.add_argument("--col", required=True, help="value column")
    ap.add_argument("--sketch", required=True, choices=sorted(SKETCHES))
    ap.add_argument("--out", required=True, help="output blob path")
    ap.add_argument("--p", type=int, default=14, help="HLL register exponent")
    ap.add_argument("--k", type=int, default=1024,
                    help="KLL compactor width / KMV bottom-k / space-saving counters")
    ap.add_argument("--delta", type=float, default=200.0, help="t-digest compression")
    ap.add_argument("--depth", type=int, default=5, help="count-min rows")
    ap.add_argument("--width", type=int, default=8192, help="count-min columns")
    ap.add_argument("--partitions", type=int, default=None)
    return ap.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from cuckoofilter_spark.operators.sketch_build import build_sketch
    from cuckoofilter_spark.session import get_spark
    from cuckoofilter_spark.sketches.base import serialize_sketch

    spark = get_spark("sketch-build")
    df = spark.read.parquet(args.input)
    factory, values = SKETCHES[args.sketch]

    t0 = time.time()
    sk = build_sketch(df, args.col, lambda pid: factory(args, pid),
                      num_partitions=args.partitions,
                      values=values)
    blob = serialize_sketch(sk)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    tmp = args.out + ".tmp"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, args.out)

    summary = {"sketch": args.sketch, "out": args.out, "bytes": len(blob),
               "build_sec": round(time.time() - t0, 3)}
    if hasattr(sk, "estimate") and args.sketch in ("hll", "kmv"):
        summary["ndv_estimate"] = round(float(sk.estimate()), 1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
