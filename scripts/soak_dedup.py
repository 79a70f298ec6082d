"""sf0.1 → sf1 (10×) soak of the dedup family (VERDICT r3 #8).

The dedup plans are audited scale-safe on paper (bucketed LSH, prefix-
filtered exact Jaccard, hash-only shuffles); this measures the growth
exponent once at 10× before claiming 100×.  Corpora are synthesized
deterministically (no external data, north-rule style): word-salad docs
over a fixed vocab with EN stopwords (so the quality gate keeps them) and
a planted 5% near-dup rate (every 20th doc copies its predecessor with two
word substitutions) — the duplicate DENSITY stays constant as n grows, so
scaling reads the operators, not a shifting workload.

Three timed pipelines, mirroring the oracle queries' operator compositions:

- clean     — quality filter → exact dedup → prefix-Jaccard near-dup →
              anti-join survivor count (q_clean_corpus's shape)
- minhash   — MinHash(64)+LSH(16×4) + exact verify pair count
              (q_minhash_lsh's shape)
- tokens    — token-3-gram shingles → the same LSH machinery on the
              input_hint token table (q_tokens_neardup's shape)

Each (pipeline, size) runs in a FRESH subprocess (sequential sessions in
one JVM pollute timings ~3×, BENCH/BASELINE.md), best-of-N wall plus
executorCpuTime.  Growth factor = t(10×)/t(1×); exponent = log10 of that.
Usage::

    python scripts/soak_dedup.py            # full soak, one JSON line
    python scripts/soak_dedup.py --run-one clean 5000   # one measurement
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

BASE_DOCS = int(os.environ.get("SPARK_GRAFT_SOAK_DOCS", "5000"))  # = sf0.1
TOK_BASE = int(os.environ.get("SPARK_GRAFT_SOAK_TOK_DOCS", "20000"))
SCALE = 10
RUNS = int(os.environ.get("SPARK_GRAFT_SOAK_RUNS", "2"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42
TAU = 8000

#: fixed vocab: EN stopwords first (quality gate), then content words —
#: sized to the driver's documents table at sf0.1 (measured: vocab 31,
#: 10-100 words/doc avg 54, 3-gram df ≈ 10) so the shingle-collision
#: regime matches the corpus the audited plans run on
VOCABW = list(("a", "the", "and", "of", "to", "in", "is", "on", "for",
               "with")) + [
    "spark", "table", "query", "filter", "column", "row", "scan", "sort",
    "hash", "join", "group", "agg", "batch", "stream", "vector", "line",
    "part", "order", "value", "key", "fast",
]


def _text_of(i: int, seed: int = SEED) -> str:
    if i % 20 == 19 and i > 0:
        ws = _text_of(i - 1, seed).split(" ")
        rng = np.random.default_rng(seed * 31 + i)
        for _ in range(2):
            ws[int(rng.integers(0, len(ws)))] = \
                VOCABW[int(rng.integers(0, len(VOCABW)))]
        return " ".join(ws)
    rng = np.random.default_rng((seed << 20) ^ i)
    n = int(rng.integers(20, 101))  # ≥20 so every doc passes len_ok
    return " ".join(VOCABW[int(k)]
                    for k in rng.integers(0, len(VOCABW), n))


def synth_docs(spark, n_docs: int):
    """Deterministic documents table (doc_id, text, n_chars) — pure
    function of (SEED, doc_id), so any parallelism produces the same
    corpus (north rule)."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            texts = [_text_of(i) for i in ids]
            yield pd.DataFrame({"doc_id": ids, "text": texts,
                                "n_chars": [len(t) for t in texts]})

    return spark.range(n_docs, numPartitions=CPUS).mapInPandas(
        fn, schema="doc_id long, text string, n_chars long")


def docs_table(spark, n_docs: int):
    """Materialize the synthetic corpus to parquet once and scan it back —
    the real queries read parquet, and an unmaterialized Python-UDF
    subtree would otherwise be RE-GENERATED at every one of the dedup
    plan's self-references (measured ~30× inflation)."""
    path = os.path.abspath(f".synth/soak_docs_{n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_docs(spark, n_docs).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def run_one(pipeline: str, n_docs: int) -> dict:
    import pyspark.sql.functions as F

    from cuckoofilter_spark.operators import dedup as D
    from cuckoofilter_spark.operators import text as TX
    from cuckoofilter_spark.plans.profile import executor_cpu_s
    from cuckoofilter_spark.session import get_spark

    spark = get_spark(f"soak-{pipeline}-{n_docs}", master=f"local[{CPUS}]",
                      **{"spark.ui.enabled": "true",
                         "spark.ui.retainedStages": "20000"})
    try:
        if pipeline == "tokens":
            from cuckoofilter_spark.operators.dedup import token_shingle_arrays
            from cuckoofilter_spark.sources.tokens import (
                VOCAB,
                write_synth_tokens,
            )

            path = os.path.abspath(f".synth/tokens_{n_docs}")
            write_synth_tokens(spark, path, n_docs, seed=SEED,
                               num_partitions=CPUS)
            base = spark.read.parquet(path)
            idx = F.substring("doc_id", 4, 8).cast("int")
            mutated = (
                base.filter(idx % 50 == 0)
                .select(F.concat(F.lit("dup"), "doc_id").alias("doc_id"),
                        F.transform("tokens", lambda t, i: F.when(
                            i % 37 == 0, (t + 1) % VOCAB).otherwise(t))
                        .alias("tokens"), "n_tok", "source"))
            corpus = base.unionByName(mutated)
            t0, c0 = time.time(), executor_cpu_s(spark)
            arrays = token_shingle_arrays(corpus, n=3).persist()
            try:
                n = D.minhash_near_dups(corpus, tau_x1e4=7000,
                                        arrays=arrays).count()
            finally:
                arrays.unpersist()
            return {"sec": time.time() - t0, "cpu": executor_cpu_s(spark) - c0,
                    "rows": n}

        docs = docs_table(spark, n_docs)
        docs.count()  # warm: python workers + scan
        if pipeline == "minhash":
            t0, c0 = time.time(), executor_cpu_s(spark)
            arr = D.shingle_arrays(docs, 3).persist()
            try:
                n = D.minhash_near_dups(docs, tau_x1e4=TAU, n=3,
                                        arrays=arr).count()
            finally:
                arr.unpersist()
        elif pipeline == "clean_lsh":
            # the 100 TB composition: same quality → exact-dedup → near-dup
            # pipeline with MinHash-LSH candidates in place of the
            # verify-every-pair exact Jaccard (whose TRUE pair count grows
            # superlinearly on a fixed vocab — see the plain `clean` row)
            t0, c0 = time.time(), executor_cpu_s(spark)
            q = TX.quality_score(docs).filter(
                F.col("len_ok") & F.col("has_stopwords"))
            kept = docs.join(q.select("doc_id"), "doc_id", "left_semi")
            exact = D.exact_dedup(kept).select(
                F.col("keep_id").alias("doc_id"))
            kept = kept.join(exact, "doc_id", "left_semi")
            arr = D.shingle_arrays(kept, 3).persist()
            try:
                dups = D.minhash_near_dups(kept, tau_x1e4=TAU, n=3,
                                           arrays=arr).select(
                    F.col("d2").alias("doc_id")).distinct()
                n = kept.join(dups, "doc_id", "left_anti").count()
            finally:
                arr.unpersist()
        elif pipeline == "simhash":
            # q_simhash_dups's operator composition (signatures + pigeonhole
            # banding + exact popcount filter; the capped brute-force recall
            # audit is a fixture, not the operator, and is excluded)
            t0, c0 = time.time(), executor_cpu_s(spark)
            arr = D.shingle_arrays(docs, 3).persist()
            try:
                sig = D.simhash_inrow(arr)
                n = D.simhash_candidates(sig, max_hamming=3).count()
            finally:
                arr.unpersist()
        elif pipeline == "incremental":
            # continuous-ingestion path: batch (1/7 of docs) vs the
            # corpus bucket index, in-row array_intersect verification
            t0, c0 = time.time(), executor_cpu_s(spark)
            new = docs.filter(F.col("doc_id") % 7 == 0)
            corpus = docs.filter(F.col("doc_id") % 7 != 0)
            n = D.incremental_near_dups(corpus, new, tau_x1e4=TAU,
                                        n=3).count()
        elif pipeline == "cluster":
            # the driver's neardup_clusters composition (r5): MinHash-LSH
            # verified pairs → connected components (min-label propagation
            # + pointer jumping) → per-doc keep/drop representatives
            from cuckoofilter_spark.operators.components import (
                cluster_representatives,
            )

            t0, c0 = time.time(), executor_cpu_s(spark)
            arr = D.shingle_arrays(docs, 3).persist()
            try:
                pairs = D.minhash_near_dups(docs, tau_x1e4=TAU, n=3,
                                            arrays=arr)
                n = cluster_representatives(
                    pairs.select("d1", "d2")).count()
            finally:
                arr.unpersist()
        elif pipeline == "clean":
            t0, c0 = time.time(), executor_cpu_s(spark)
            q = TX.quality_score(docs).filter(
                F.col("len_ok") & F.col("has_stopwords"))
            kept = docs.join(q.select("doc_id"), "doc_id", "left_semi")
            exact = D.exact_dedup(kept).select(
                F.col("keep_id").alias("doc_id"))
            kept = kept.join(exact, "doc_id", "left_semi")
            dups = D.jaccard_pairs_prefix(D.shingles(kept, 3), TAU).select(
                F.col("d2").alias("doc_id")).distinct()
            n = kept.join(dups, "doc_id", "left_anti").count()
        else:
            raise ValueError(pipeline)
        return {"sec": time.time() - t0, "cpu": executor_cpu_s(spark) - c0,
                "rows": n}
    finally:
        spark.stop()


def run_isolated(pipeline: str, n_docs: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--run-one", pipeline,
         str(n_docs)],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    for line in out.stdout.splitlines():
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(out.stdout[-400:] + out.stderr[-400:])


def main() -> None:
    result: dict = {"scale": SCALE, "runs": RUNS, "cpus": CPUS,
                    "pipelines": {}}
    names = (os.environ.get("SPARK_GRAFT_SOAK_PIPELINES",
                            "clean,clean_lsh,minhash,tokens").split(","))
    bases = {"clean": BASE_DOCS, "clean_lsh": BASE_DOCS,
             "minhash": BASE_DOCS, "tokens": TOK_BASE,
             "cluster": BASE_DOCS, "incremental": BASE_DOCS,
             "simhash": BASE_DOCS}
    for pipeline, base in ((n, bases[n]) for n in names):
        per = {}
        for mult in (1, SCALE):
            draws = [run_isolated(pipeline, base * mult)
                     for _ in range(RUNS)]
            per[f"x{mult}"] = {
                "n_docs": base * mult,
                "sec": round(min(d["sec"] for d in draws), 2),
                "cpu_sec": round(min(d["cpu"] for d in draws), 2),
                "rows": draws[0]["rows"],
            }
        g_wall = per[f"x{SCALE}"]["sec"] / per["x1"]["sec"]
        g_cpu = per[f"x{SCALE}"]["cpu_sec"] / max(per["x1"]["cpu_sec"], 1e-9)
        per["growth_wall"] = round(g_wall, 2)
        per["growth_cpu"] = round(g_cpu, 2)
        per["exponent_cpu"] = round(math.log10(max(g_cpu, 1e-9)), 2)
        result["pipelines"][pipeline] = per
    print(json.dumps(result))


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--run-one":
        print(json.dumps(run_one(sys.argv[2], int(sys.argv[3]))))
    else:
        main()
