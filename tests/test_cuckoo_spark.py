"""Distributed build + query tests: the minimum end-to-end slice of
SURVEY.md §7 Phase 1 — "which of these candidate tokens appear anywhere in
the corpus?" — plus the north_rule obligations that need a SparkSession:
parallelism invariance and exact-oracle agreement.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.core.serde import serialize_filter
from cuckoofilter_spark.operators.build import build_filter
from cuckoofilter_spark.operators.membership import cf_contains_udf, membership_df
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sources.tokens import synth_tokens_df


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_tokens_df(spark, n_docs=2_000, seed=42, num_partitions=8)
    df.cache().count()
    return df


def test_synth_corpus_deterministic_across_partitioning(spark):
    # per-row invariant (input_hint): token-array equality at any parallelism
    a = synth_tokens_df(spark, 300, seed=42, num_partitions=2).orderBy("doc_id").collect()
    b = synth_tokens_df(spark, 300, seed=42, num_partitions=7).orderBy("doc_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert all(r.n_tok == len(r.tokens) for r in a)
    assert all(32 <= r.n_tok <= 512 for r in a)


def test_build_filter_over_token_arrays_no_false_negatives(spark, corpus):
    params = CuckooParams(max_table_size=65536, bits_per_fp=16)
    filt = build_filter(corpus, "tokens", params, num_partitions=8)
    # every distinct token present in the corpus must be a member
    present = np.array(
        [r[0] for r in corpus.select(F.explode("tokens").alias("t")).distinct().collect()],
        dtype=np.int64,
    )
    assert filt.contains(present).all()
    # FPR on a disjoint domain within the chain-scaled bound
    neg = np.arange(60_000, 110_000, dtype=np.int64)
    fpr = filt.contains(neg).mean()
    assert fpr <= params.fpr_bound * filt.cf_count * 1.2
    # set semantics: one stored fingerprint per distinct token, minus the
    # rare (bucket-pair, fp) collisions between distinct tokens
    n_distinct = len(present)
    assert filt.element_count <= n_distinct
    assert filt.element_count >= n_distinct * 0.99


def test_membership_query_matches_exact_semi_join(spark, corpus):
    # flagship query vs the exact relational oracle
    params = CuckooParams(max_table_size=65536, bits_per_fp=16)
    filt = build_filter(corpus, "tokens", params, num_partitions=8)
    probes = spark.range(0, 120_000).select(F.col("id").cast("int").alias("token"))
    got = set(
        r.token for r in membership_df(spark, filt, probes, "token").collect()
    )
    exact = set(
        r.t for r in corpus.select(F.explode("tokens").alias("t")).distinct().collect()
    )
    # no false negatives
    assert exact <= got
    # bounded false positives
    n_probes = 120_000
    fp = len(got - exact)
    assert fp / max(n_probes - len(exact), 1) <= params.fpr_bound * filt.cf_count * 1.2


def test_parallelism_invariance_same_filter_bytes(spark):
    # north_rule: identical estimates at N and 4N executors.  With the input
    # partition count pinned, the build and the merge tree are pure functions
    # of partition ids -> byte-identical filters regardless of core count.
    df = synth_tokens_df(spark, 1_000, seed=7, num_partitions=16)
    params = CuckooParams(max_table_size=32768, bits_per_fp=12)
    a = build_filter(df, "tokens", params, num_partitions=16, compact=False)
    b = build_filter(df, "tokens", params, num_partitions=16, compact=False)
    assert serialize_filter(a) == serialize_filter(b)


def test_cf_contains_udf_registrable_for_sql(spark, corpus):
    params = CuckooParams(max_table_size=65536, bits_per_fp=16)
    filt = build_filter(corpus, "tokens", params, num_partitions=8)
    spark.udf.register("cf_contains", cf_contains_udf(spark, filt))
    present = corpus.select(F.explode("tokens").alias("t")).limit(100)
    present.createOrReplaceTempView("probe_tokens_v")
    n = spark.sql("SELECT count(*) AS n FROM probe_tokens_v WHERE cf_contains(t)").collect()[0].n
    assert n == 100


def test_skewed_source_build_with_salting(spark, corpus):
    # explicit repartition over a salted key spreads the 0.7-weight 'web'
    # source across tasks; answers must be unchanged vs the unsalted build
    params = CuckooParams(max_table_size=65536, bits_per_fp=16)
    salted = corpus.repartition(8, F.abs(F.hash("doc_id", F.lit(17))) % 8)
    f1 = build_filter(salted, "tokens", params, num_partitions=None)
    f2 = build_filter(corpus, "tokens", params, num_partitions=8)
    probes = np.arange(0, 60_000, dtype=np.int64)
    assert (f1.contains(probes) == f2.contains(probes)).sum() >= len(probes) - int(
        params.fpr_bound * 4 * len(probes) + 10
    )
    # and identically zero false negatives on both
    present = np.array(
        [r[0] for r in corpus.select(F.explode("tokens").alias("t")).distinct().collect()],
        dtype=np.int64,
    )
    assert f1.contains(present).all() and f2.contains(present).all()


def test_distributed_build_all_configs(spark, corpus):
    """Every legal (entries_per_bucket, bits_per_fp) config builds and
    answers through the distributed pipeline, not just the 4x16 default."""
    import numpy as np

    from cuckoofilter_spark.operators.build import build_filter
    from cuckoofilter_spark.params import LEGAL_CONFIGS, CuckooParams

    probes = np.arange(0, 2000, dtype=np.int64)
    for (epb, bits) in sorted(LEGAL_CONFIGS):
        params = CuckooParams(max_table_size=1 << 16,
                              entries_per_bucket=epb, bits_per_fp=bits)
        filt = build_filter(corpus, "tokens", params, num_partitions=4)
        assert filt.contains(probes).all(), (epb, bits)  # Zipf head present


def test_pyarrow_build_splits_row_groups(spark, tmp_path):
    """Single-file tables get row-group-level tasks: a 6-row-group file
    builds the same answers as the generic path, and the split list
    actually fans out past one task."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cuckoofilter_spark.operators.build import (
        _num_row_groups,
        build_filter,
        build_filter_from_parquet,
    )
    from cuckoofilter_spark.params import CuckooParams

    keys = np.arange(60_000, dtype=np.int64)
    f = str(tmp_path / "one_file.parquet")
    pq.write_table(pa.table({"k": keys}), f, row_group_size=10_000)
    assert _num_row_groups(f) == 6

    params = CuckooParams(max_table_size=130_000, bits_per_fp=16)
    via_rg = build_filter_from_parquet(spark, f, "k", params)
    via_jvm = build_filter(spark.read.parquet(f), "k", params, num_partitions=6)
    probes = np.arange(0, 120_000, dtype=np.int64)
    assert np.array_equal(via_rg.contains(probes), via_jvm.contains(probes))
    assert via_rg.contains(keys).all()


def test_distributed_build_all_reference_configs(spark):
    """Every legal (entries_per_bucket, bits_per_fp) reference config
    builds through the distributed path with zero false negatives and
    in-bound FPR (the reference enforces exactly these five,
    CF/cuckoo_table.h:150-168)."""
    import numpy as np
    from pyspark.sql import functions as F

    from cuckoofilter_spark.operators.build import build_filter
    from cuckoofilter_spark.params import CuckooParams

    keys = spark.range(0, 20_000).select(F.col("id").alias("k"))
    probes = np.arange(0, 20_000, dtype=np.int64)
    negs = np.arange(10_000_000, 10_050_000, dtype=np.int64)
    for epb, bits in ((4, 4), (4, 8), (4, 12), (4, 16), (2, 32)):
        params = CuckooParams(max_table_size=40_000, entries_per_bucket=epb,
                              bits_per_fp=bits)
        filt = build_filter(keys, "k", params, num_partitions=6)
        assert filt.contains(probes).all(), (epb, bits)
        fpr = filt.contains(negs).mean()
        assert fpr <= max(params.fpr_bound, 3 / len(negs)) * 3, (epb, bits, fpr)


def test_parquet_listing_skips_uncommitted_temporary_files(spark, tmp_path):
    """spark.read semantics: files under _temporary/ (or any _/.-prefixed
    directory) are uncommitted task attempts and must not enter the build."""
    import numpy as np

    from cuckoofilter_spark.operators.build import (_list_parquet_files,
                                                    build_filter_from_parquet)
    from cuckoofilter_spark.params import CuckooParams

    good = str(tmp_path / "tbl")
    spark.range(0, 1000).selectExpr("id AS k").coalesce(1).write.parquet(good)
    # drop an uncommitted attempt with DIFFERENT keys under _temporary/
    tmp_attempt = str(tmp_path / "tbl" / "_temporary" / "0" / "attempt_0")
    (spark.range(900000, 901000).selectExpr("id AS k")
     .coalesce(1).write.parquet(tmp_attempt))

    files = _list_parquet_files(good)
    assert files and all("_temporary" not in f for f in files)

    filt = build_filter_from_parquet(
        spark, good, "k", CuckooParams(max_table_size=8192, bits_per_fp=16))
    assert filt.contains(np.arange(0, 1000, dtype=np.int64)).all()
    leaked = filt.contains(np.arange(900000, 901000, dtype=np.int64)).mean()
    assert leaked <= CuckooParams(max_table_size=8192).fpr_bound * 3


def test_pyarrow_build_skips_metadata_only_and_all_null_files(spark, tmp_path):
    """A 0-row-group parquet file and a file whose ``array<int>`` column is
    all NULL, beside normal files, add no key: zero false negatives and the
    same answers as the normal files alone.  A table of only all-NULL rows
    builds an empty filter."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cuckoofilter_spark.operators.build import (_num_row_groups,
                                                    build_filter_from_parquet)
    from cuckoofilter_spark.params import CuckooParams

    ty = pa.list_(pa.int32())
    rng = np.random.default_rng(7)
    normal, mixed = tmp_path / "normal", tmp_path / "mixed"
    normal.mkdir()
    mixed.mkdir()
    keys = []
    for i in range(3):
        docs = [rng.integers(0, 50_000, int(n)).astype(np.int32).tolist()
                for n in rng.integers(0, 40, 300)]
        keys += [k for d in docs for k in d]
        for d in (normal, mixed):
            pq.write_table(pa.table({"tokens": pa.array(docs, ty)}),
                           str(d / f"part-{i}.parquet"))
    # the extra files sort between the normal ones
    empty = str(mixed / "part-0a.parquet")
    pq.ParquetWriter(empty, pa.schema([("tokens", ty)])).close()
    assert _num_row_groups(empty) == 0
    nulls = pa.table({"tokens": pa.array([None] * 500, ty)})
    pq.write_table(nulls, str(mixed / "part-1a.parquet"))

    params = CuckooParams(max_table_size=1 << 14, bits_per_fp=12)
    alone = build_filter_from_parquet(spark, str(normal), "tokens", params)
    with_edges = build_filter_from_parquet(spark, str(mixed), "tokens", params)
    members = np.unique(np.array(keys, dtype=np.int64))
    assert with_edges.contains(members).all()
    probes = np.arange(0, 100_000, dtype=np.int64)
    assert np.array_equal(with_edges.contains(probes), alone.contains(probes))

    only_nulls = tmp_path / "only_nulls"
    only_nulls.mkdir()
    pq.write_table(nulls, str(only_nulls / "part-0.parquet"))
    filt = build_filter_from_parquet(spark, str(only_nulls), "tokens", params)
    assert filt.element_count == 0
    assert not filt.contains(probes).any()
