"""10× soak of the similarity/ANN family — the embedding analog of
`soak_dedup.py`.

Deterministic synthetic embeddings matched to the sf0.1 table shape
(dim 64 float, 2 000 → 20 000 vectors) with a constant 5% planted
near-duplicate density (every 20th vector is its predecessor plus small
noise), materialized to parquet before composing plans.  Three pipelines:

- gemm — exact all-pairs blocked GEMM (`neardup_pairs_blas`): inherently
  O(n²) work; the soak MEASURES the quadratic so the exact path's scale
  limit is a recorded number, not a claim.
- lsh  — multi-table RP-LSH with bucket-local verify, with ``nbits``
  RE-SIZED per the operator's own rule (nbits ≈ log2(n/target_bucket),
  constant expected bucket occupancy) — the scale path.
- ivf  — IVF top-k with n_clusters ≈ √n and nprobe a constant fraction
  of the cells, 100 fixed queries — scan per query shrinks as
  n/√n·nprobe.

Each (pipeline, size) runs in a fresh subprocess; wall + executorCpuTime,
best-of-N.  Usage::

    python scripts/soak_ann.py
    python scripts/soak_ann.py --run-one lsh 20000
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

BASE_VECS = int(os.environ.get("SPARK_GRAFT_SOAK_VECS", "2000"))  # = sf0.1
SCALE = 10
RUNS = int(os.environ.get("SPARK_GRAFT_SOAK_RUNS", "2"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42
DIM = 64
TAU = 9000
N_QUERIES = 100


N_CENTERS = 32


def _vec_of(i: int) -> np.ndarray:
    """CLUSTERED geometry (center + noise, like real embeddings / the
    testdata table's label structure): isotropic random unit vectors are
    unclusterable — k-means degenerates, IVF probes everything, and the
    soak would measure brute force, not IVF (measured 21 s vs 1.7 s cpu
    at 2 000 vectors).  Same-cluster cosine ≈ 0.5, planted near-dup
    cosine ≈ 0.97 ≥ τ."""
    if i % 20 == 19 and i > 0:
        base = _vec_of(i - 1)
        rng = np.random.default_rng(SEED * 31 + i)
        v = base + 0.02 * rng.standard_normal(DIM)
    else:
        crng = np.random.default_rng(1000 + (i % N_CENTERS))
        c = crng.standard_normal(DIM)
        c /= np.linalg.norm(c)
        rng = np.random.default_rng((SEED << 20) ^ i)
        v = c + 0.12 * rng.standard_normal(DIM)
    return (v / np.linalg.norm(v)).astype(np.float32)


def emb_table(spark, n: int):
    import pandas as pd

    path = os.path.abspath(f".synth/soak_emb_{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        def fn(batches):
            for pdf in batches:
                ids = [int(i) for i in pdf["id"]]
                yield pd.DataFrame({
                    "vec_id": ids,
                    "embedding": [_vec_of(i).tolist() for i in ids],
                })
        (spark.range(n, numPartitions=CPUS)
         .mapInPandas(fn, schema="vec_id long, embedding array<float>")
         .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def run_one(pipeline: str, n: int) -> dict:
    import pyspark.sql.functions as F

    from cuckoofilter_spark.operators import similarity as S
    from cuckoofilter_spark.plans.profile import executor_cpu_s
    from cuckoofilter_spark.session import get_spark

    spark = get_spark(f"soak-ann-{pipeline}-{n}", master=f"local[{CPUS}]",
                      **{"spark.ui.enabled": "true",
                         "spark.ui.retainedStages": "20000"})
    try:
        emb = emb_table(spark, n)
        emb.count()  # warm scan + python workers
        if pipeline == "gemm":
            t0, c0 = time.time(), executor_cpu_s(spark)
            rows = S.neardup_pairs_blas(emb, tau_x1e4=TAU, block=512).count()
        elif pipeline == "lsh":
            # size nbits to a constant expected bucket occupancy
            # (target ~= BASE_VECS / 2^8 vectors per bucket)
            nbits = 8 + round(math.log2(n / BASE_VECS))
            t0, c0 = time.time(), executor_cpu_s(spark)
            rows = S.lsh_neardup_pairs(emb, tau_x1e4=TAU, nbits=nbits,
                                       tables=8, dim=DIM).count()
        elif pipeline == "ivf":
            queries = emb.filter(F.col("vec_id") < N_QUERIES)
            n_clusters = max(8, int(math.sqrt(n)))
            cent = S.kmeans_centroids(emb, n_clusters=n_clusters, seed=SEED,
                                      sample=min(n, 2000))
            t0, c0 = time.time(), executor_cpu_s(spark)
            rows = S.ivf_topk(emb, queries, cent, k=5,
                              nprobe=max(4, n_clusters // 4)).count()
        else:
            raise ValueError(pipeline)
        return {"sec": time.time() - t0, "cpu": executor_cpu_s(spark) - c0,
                "rows": rows}
    finally:
        spark.stop()


def run_isolated(pipeline: str, n: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--run-one", pipeline,
         str(n)],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    for line in out.stdout.splitlines():
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(out.stdout[-400:] + out.stderr[-400:])


def main() -> None:
    result: dict = {"scale": SCALE, "runs": RUNS, "cpus": CPUS, "dim": DIM,
                    "pipelines": {}}
    names = os.environ.get("SPARK_GRAFT_SOAK_PIPELINES",
                           "gemm,lsh,ivf").split(",")
    for pipeline in names:
        per = {}
        for mult in (1, SCALE):
            draws = [run_isolated(pipeline, BASE_VECS * mult)
                     for _ in range(RUNS)]
            per[f"x{mult}"] = {
                "n_vecs": BASE_VECS * mult,
                "sec": round(min(d["sec"] for d in draws), 2),
                "cpu_sec": round(min(d["cpu"] for d in draws), 2),
                "rows": draws[0]["rows"],
            }
        g_cpu = per[f"x{SCALE}"]["cpu_sec"] / max(per["x1"]["cpu_sec"], 1e-9)
        per["growth_cpu"] = round(g_cpu, 2)
        per["exponent_cpu"] = round(math.log10(max(g_cpu, 1e-9)), 2)
        result["pipelines"][pipeline] = per
    print(json.dumps(result))


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--run-one":
        print(json.dumps(run_one(sys.argv[2], int(sys.argv[3]))))
    else:
        main()
