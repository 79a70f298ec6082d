"""Checkpoint/resume obligations (north_rule): a build interrupted
mid-table resumes from per-shard lineage and yields results identical to a
single-shot build; metrics and lineage are persisted alongside blobs."""

import json
import os

import numpy as np
import pytest

from cuckoofilter_spark.operators.checkpointed_build import (
    CheckpointedBuild,
    checkpointed_build_filter,
)
from cuckoofilter_spark.params import CuckooParams

PARAMS = CuckooParams(max_table_size=4096, bits_per_fp=16)


@pytest.fixture()
def tokens_df(spark):
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    return synth_tokens_df(spark, n_docs=200, seed=42, num_partitions=4)


def probe_keys():
    return np.arange(0, 50_000, 7, dtype=np.int64)


def test_resume_equals_single_shot(spark, tokens_df, tmp_path):
    # single-shot reference
    single = checkpointed_build_filter(
        spark, tokens_df, "tokens", PARAMS, str(tmp_path / "one"), n_shards=16)

    # interrupted build: 5 shards, then resume the rest in two more runs
    cb = CheckpointedBuild(spark, str(tmp_path / "two"), PARAMS, "tokens", n_shards=16)
    m1 = cb.run(tokens_df, max_shards=5)
    assert m1["shards_built"] == 5
    with pytest.raises(RuntimeError, match="incomplete"):
        cb.finalize()
    m2 = cb.run(tokens_df, max_shards=7)
    assert m2["shards_skipped"] == 5
    m3 = cb.run(tokens_df)
    assert m3["shards_built"] == 4
    resumed = cb.finalize()

    p, r = single.contains(probe_keys()), resumed.contains(probe_keys())
    assert (p == r).all()


def test_rerun_skips_everything(spark, tokens_df, tmp_path):
    ckpt = str(tmp_path / "ck")
    checkpointed_build_filter(spark, tokens_df, "tokens", PARAMS, ckpt, n_shards=8)
    cb = CheckpointedBuild(spark, ckpt, PARAMS, "tokens", n_shards=8)
    m = cb.run(tokens_df)
    assert m["shards_built"] == 0 and m["shards_skipped"] == 8


def test_lineage_and_metrics_persisted(spark, tokens_df, tmp_path):
    ckpt = str(tmp_path / "ck")
    checkpointed_build_filter(spark, tokens_df, "tokens", PARAMS, ckpt, n_shards=8)
    assert json.load(open(os.path.join(ckpt, "lineage.json")))["completed_shards"] == list(range(8))
    lines = [json.loads(l) for l in open(os.path.join(ckpt, "metrics.jsonl"))]
    assert lines and lines[0]["shards_built"] == 8
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["n_shards"] == 8

    # final filter round-trips from disk
    filt = CheckpointedBuild.load_final(ckpt)
    assert filt.contains(np.array([0, 1, 2], dtype=np.int64)).all()


def test_config_mismatch_rejected(spark, tokens_df, tmp_path):
    ckpt = str(tmp_path / "ck")
    CheckpointedBuild(spark, ckpt, PARAMS, "tokens", n_shards=8)
    with pytest.raises(ValueError, match="different"):
        CheckpointedBuild(spark, ckpt, PARAMS, "tokens", n_shards=16)


def test_shard_assignment_is_cluster_size_invariant(spark, tokens_df, tmp_path):
    """The same data built at different parallelism/partitioning produces
    identical answers — shard identity is a function of the data only."""
    a = checkpointed_build_filter(
        spark, tokens_df.repartition(2), "tokens", PARAMS, str(tmp_path / "a"), n_shards=8)
    b = checkpointed_build_filter(
        spark, tokens_df.repartition(13), "tokens", PARAMS, str(tmp_path / "b"), n_shards=8)
    assert (a.contains(probe_keys()) == b.contains(probe_keys())).all()


def test_finalize_dedupes_double_appended_shard(spark, tmp_path):
    """Crash window: blobs appended but lineage not recorded -> the rerun
    appends the shard AGAIN.  finalize must merge each shard exactly once."""
    import numpy as np

    from cuckoofilter_spark.operators.checkpointed_build import CheckpointedBuild
    from cuckoofilter_spark.params import CuckooParams

    df = spark.range(0, 5000).selectExpr("id AS k")
    params = CuckooParams(max_table_size=32768, bits_per_fp=16)

    clean = CheckpointedBuild(spark, str(tmp_path / "clean"), params, "k",
                              n_shards=8, dedup=False)
    clean.run(df)
    ref = clean.finalize()

    crashed = CheckpointedBuild(spark, str(tmp_path / "crashed"), params, "k",
                                n_shards=8, dedup=False)
    crashed.run(df)
    # simulate the crash-after-append-before-record window: blow away the
    # lineage so the rerun rebuilds (and re-appends) every shard
    import os
    os.remove(crashed._lineage_path)
    crashed.run(df)
    got = crashed.finalize()

    probes = np.arange(0, 5000, dtype=np.int64)
    assert got.contains(probes).all()
    # the double-appended multiset build must NOT double-count
    assert got.element_count == ref.element_count


def test_null_keys_match_fast_build(spark, tmp_path):
    """A null row adds no key and a null element inside an array<int> row is
    key 0 — in the checkpointed shard build exactly as in ``build_filter``,
    never INT64_MIN (what a NaN cast to int64 gives)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cuckoofilter_spark.operators.build import build_filter

    path = str(tmp_path / "keys.parquet")
    rows = [[1, 2, 3], None, [4, None, 5], [6, 7], [], [8, 9, 10]]
    pq.write_table(pa.table({"k": pa.array(rows, pa.list_(pa.int64()))}), path)
    df = spark.read.parquet(path)

    ckpt = checkpointed_build_filter(spark, df, "k", PARAMS, str(tmp_path / "ck"),
                                     n_shards=4)
    fast = build_filter(df, "k", PARAMS)
    probes = np.array([0, np.iinfo(np.int64).min, *range(1, 11)], dtype=np.int64)
    assert fast.contains(probes[[0, *range(2, 12)]]).all()
    assert np.array_equal(ckpt.contains(probes), fast.contains(probes))


def test_null_rows_of_scalar_key_column_add_no_key(spark, tmp_path):
    """A NULL row of a scalar ``long`` key column adds no key — not key 0 —
    in ``build_filter``, in ``build_sketch`` and in the checkpointed build."""
    from cuckoofilter_spark.operators.build import build_filter
    from cuckoofilter_spark.operators.sketch_build import build_sketch
    from cuckoofilter_spark.sketches import HyperLogLog

    df = spark.createDataFrame([(1,), (None,), (2,), (None,)], "k long")
    fast = build_filter(df, "k", PARAMS)
    probes = np.array([0, 1, 2], dtype=np.int64)
    assert fast.contains(probes).tolist() == [False, True, True]
    assert fast.element_count == 2
    hll = build_sketch(df, "k", lambda pid: HyperLogLog(12))
    assert round(hll.estimate()) == 2
    ckpt = checkpointed_build_filter(spark, df, "k", PARAMS, str(tmp_path / "ck"),
                                     n_shards=4)
    assert ckpt.contains(probes).tolist() == [False, True, True]
    assert ckpt.element_count == 2


def test_golden_checkpoint_finalizes_to_recorded_filter(spark, tmp_path):
    """Frozen wire format: a complete 8-shard checkpoint written by an
    earlier version (``tests/data/golden_ckpt``, made by
    ``tests/data/make_fixtures.py``) still opens against its manifest and
    finalizes to the byte-identical ``filter.bin``."""
    import hashlib
    import shutil

    golden = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", "golden_ckpt")
    ckpt = str(shutil.copytree(golden, tmp_path / "ckpt"))
    with open(os.path.join(ckpt, "manifest.json")) as f:
        manifest = json.load(f)
    with open(os.path.join(ckpt, "expected.json")) as f:
        expected = json.load(f)

    cb = CheckpointedBuild(spark, ckpt, CuckooParams.from_tuple(tuple(manifest["params"])),
                           manifest["column"], n_shards=manifest["n_shards"],
                           dedup=manifest["dedup"])
    assert cb.done_shards() == set(range(8))
    filt = cb.finalize()
    with open(os.path.join(ckpt, "filter.bin"), "rb") as f:
        assert hashlib.md5(f.read()).hexdigest() == expected["filter_bin_md5"]
    assert filt.cf_count > 1  # the fold merged a chain, not one table
