"""Near-dup detection directly on the input_hint token table
(operators/dedup.py:token_shingles + the shared MinHash/LSH/verify
machinery)."""

from pyspark.sql import functions as F

from cuckoofilter_spark.operators.dedup import minhash_near_dups, token_shingles


def test_token_shingles_hand_values(spark):
    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4]), ("b", [9, 9]), ("c", [1, 2, 3, 1, 2, 3])],
        "doc_id string, tokens array<int>")
    got = {(r["doc_id"], r["gram"]) for r in token_shingles(df, n=3).collect()}
    # doc a: exactly the two sliding 3-grams; doc b too short -> absent;
    # doc c: four positions, deduped to three distinct grams
    a_grams = {g for d, g in got if d == "a"}
    c_grams = {g for d, g in got if d == "c"}
    assert len(a_grams) == 2
    assert not any(d == "b" for d, _ in got)
    assert len(c_grams) == 3  # (1,2,3) twice -> once, plus (2,3,1), (3,1,2)
    assert a_grams & c_grams  # the shared (1,2,3) gram hashes identically


def test_planted_token_neardups_recovered_exactly(spark):
    from cuckoofilter_spark.sources.tokens import VOCAB, synth_tokens_df

    base = synth_tokens_df(spark, 60, seed=7, num_partitions=4)
    idx = F.substring("doc_id", 4, 8).cast("int")
    mutated = (
        base.filter(idx % 10 == 0)
        .select(F.concat(F.lit("dup"), "doc_id").alias("doc_id"),
                F.transform("tokens", lambda t, i: F.when(
                    i % 37 == 0, (t + 1) % VOCAB).otherwise(t)).alias("tokens"),
                "n_tok", "source"))
    corpus = base.unionByName(mutated)
    sh = token_shingles(corpus, n=3).persist()
    pairs = {(r["d1"], r["d2"])
             for r in minhash_near_dups(corpus, tau_x1e4=7000, sh=sh).collect()}
    sh.unpersist()
    planted = {(f"doc{i:08d}", f"dupdoc{i:08d}") for i in range(0, 60, 10)}
    assert pairs == planted


def test_incremental_near_dups_equals_full_recompute(spark, sf01_dir):
    """The incremental (batch-vs-indexed-corpus) path must return exactly
    the batch-touching subset of the full-union near-dup pair set — same
    pairs, same exact Jaccard values — whether the corpus bucket index is
    recomputed or passed in pre-built."""
    from cuckoofilter_spark.operators.dedup import (
        band_buckets,
        incremental_near_dups,
        minhash_near_dups,
        minhash_signatures_inrow,
        shingle_arrays,
    )

    docs = (spark.read.parquet(f"{sf01_dir}/documents.parquet")
            .filter(F.col("doc_id") < 1500))
    new = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)

    full = {tuple(r) for r in minhash_near_dups(docs, tau_x1e4=8000).collect()}
    want = {p for p in full if p[0] % 7 == 0 or p[1] % 7 == 0}
    got = {tuple(r) for r in
           incremental_near_dups(corpus, new, tau_x1e4=8000).collect()}
    assert got == want and want, "need planted overlap in the fixture"

    # pre-built index path is value-identical (the deployment shape:
    # band_buckets persisted/stored once per corpus)
    idx = band_buckets(
        minhash_signatures_inrow(shingle_arrays(corpus, 3), 64))
    got_idx = {tuple(r) for r in
               incremental_near_dups(corpus, new, tau_x1e4=8000,
                                     corpus_buckets=idx).collect()}
    assert got_idx == want


def test_incremental_near_dups_verifies_in_row(spark, sf01_dir):
    """Exact verification must be the in-row array_intersect over the
    gram-array relations — no exploded-shingle self-join (whose shuffle
    would carry the corpus), and no explode of the gram arrays anywhere
    in the plan (the only Generate is the band posexplode)."""
    from cuckoofilter_spark.operators.dedup import incremental_near_dups
    from cuckoofilter_spark.plans import explain_str

    docs = spark.read.parquet(f"{sf01_dir}/documents.parquet").limit(400)
    new = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    plan = explain_str(incremental_near_dups(corpus, new), "simple")
    assert "array_intersect" in plan
    assert "explode(grams" not in plan and "explode_outer(grams" not in plan
