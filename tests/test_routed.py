"""Routed (hash-partitioned) filter: the no-broadcast scale path.
Same membership contract as the global filter — zero false negatives,
bounded FPR — plus route-merge and persistence round-trips."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.operators.routed import RoutedCuckooFilter
from cuckoofilter_spark.params import CuckooParams

# sub-filter sized for ~N_KEYS / N_ROUTES keys each
N_KEYS = 200_000
N_ROUTES = 16
PARAMS = CuckooParams(max_table_size=2 * N_KEYS // N_ROUTES, bits_per_fp=16)


@pytest.fixture(scope="module")
def keys_df(spark):
    return spark.range(0, N_KEYS).select(F.col("id").alias("k")).repartition(8)


@pytest.fixture(scope="module")
def routed(spark, keys_df):
    return RoutedCuckooFilter.build(keys_df, "k", PARAMS, n_routes=N_ROUTES)


def test_no_false_negatives(spark, routed, keys_df):
    res = routed.contains(keys_df, "k")
    assert res.filter(~F.col("member")).count() == 0


def test_fpr_bounded(spark, routed):
    negs = spark.range(10_000_000, 10_100_000).select(F.col("id").alias("k"))
    n_fp = routed.contains(negs, "k").filter(F.col("member")).count()
    assert n_fp / 100_000 <= PARAMS.fpr_bound


def test_member_semi_is_exact_on_positive_probes(spark, routed, keys_df):
    sample = keys_df.filter(F.col("k") % 97 == 0)
    assert routed.member_semi(sample, "k").count() == sample.count()


def test_merge_unions_key_sets(spark, keys_df):
    a_keys = keys_df.filter(F.col("k") < N_KEYS // 2)
    b_keys = keys_df.filter(F.col("k") >= N_KEYS // 2)
    a = RoutedCuckooFilter.build(a_keys, "k", PARAMS, n_routes=N_ROUTES)
    b = RoutedCuckooFilter.build(b_keys, "k", PARAMS, n_routes=N_ROUTES)
    m = a.merge(b)
    res = m.contains(keys_df, "k")
    assert res.filter(~F.col("member")).count() == 0


def test_persist_and_load_roundtrip(spark, routed, keys_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("routed") / "state")
    saved = routed.persist(path)
    loaded = RoutedCuckooFilter.load(spark, path, PARAMS, N_ROUTES)
    for f in (saved, loaded):
        assert f.contains(keys_df, "k").filter(~F.col("member")).count() == 0
    st = loaded.stats()
    # dedup (set) semantics: distinct keys sharing a (bucket-pair, fp) are
    # stored once, so stored count can fall a hair below the key count
    assert N_KEYS * 0.999 <= st["n_keys"] <= N_KEYS
    assert st["routes_materialized"] <= N_ROUTES


def test_state_stays_small_relative_to_keys(routed):
    st = routed.stats()
    # ~2 bytes/key fingerprints + headers, zlib-packed; must be far below
    # raw key storage (8 B/key) — the point of a filter
    assert st["state_bytes"] < N_KEYS * 4


def test_routed_delete(spark):
    """Distributed delete parity (DCF/dynamic_cuckoo_filter.h:393-416 on
    the routed surface): delete evens, odds stay, evens drop to FP noise,
    element counts fall by exactly the number of deleted copies."""
    n = 50_000
    params = CuckooParams(max_table_size=2 * n // N_ROUTES, bits_per_fp=16)
    keys = spark.range(0, n).select(F.col("id").alias("k")).repartition(8)
    routed = RoutedCuckooFilter.build(keys, "k", params, n_routes=N_ROUTES,
                                      dedup=False)
    routed.state = routed.state.persist()
    evens = keys.filter(F.col("k") % 2 == 0)
    odds = keys.filter(F.col("k") % 2 == 1)
    n_before = routed.stats()["n_keys"]

    after = routed.delete(evens, "k")
    after.state = after.state.persist()
    n_after = after.stats()["n_keys"]
    assert n_before - n_after == n // 2  # every delete found its copy

    assert after.contains(odds, "k").filter(~F.col("member")).count() == 0
    still = after.contains(evens, "k").filter(F.col("member")).count()
    assert still <= max(3, int(3 * params.fpr_bound * (n // 2)))
    # untouched routes' state must survive a delete whose keys miss them:
    assert after.state.count() == routed.state.count()
    routed.state.unpersist()
    after.state.unpersist()


def test_routed_delete_on_set_semantics_removes_membership(spark):
    keys = spark.range(0, 20_000).select(F.col("id").alias("k"))
    params = CuckooParams(max_table_size=4096, bits_per_fp=16)
    routed = RoutedCuckooFilter.build(keys, "k", params, n_routes=8, dedup=True)
    sub = keys.filter(F.col("k") < 1000)
    after = routed.delete(sub, "k")
    after.state = after.state.persist()
    hits = after.contains(sub, "k").filter(F.col("member")).count()
    assert hits <= max(3, int(3 * params.fpr_bound * 1000))
    rest = keys.filter(F.col("k") >= 1000)
    assert after.contains(rest, "k").filter(~F.col("member")).count() == 0
    after.state.unpersist()


def test_partitioned_persist_prunes_routes(spark, routed, keys_df, tmp_path_factory):
    """Route-partitioned state layout: probing is still exact, and a
    route-sliced read prunes the other routes' files at the scan (the
    Iceberg-style point-lookup path)."""
    from cuckoofilter_spark.plans import read_schema_columns

    path = str(tmp_path_factory.mktemp("routedp") / "state")
    saved = routed.persist(path)
    assert saved.contains(keys_df, "k").filter(~F.col("member")).count() == 0
    one = saved.state.filter(F.col("route") == 3)
    # partition pruning: route is a partition column, not data read
    assert "route" not in read_schema_columns(one)
    assert one.count() == 1


def test_pre_dedup_build_same_answers(spark):
    """Set-semantics builds dedup map-side before the route shuffle; on a
    duplicate-heavy (Zipf-ish) stream every distinct key is a member,
    held-out probes stay within the FP bound, and each key is stored once
    at most (n_keys ≤ distinct keys; a kicked-out key may be lost only
    into the FP budget, never counted twice)."""
    keys = (spark.range(0, 200_000)
            .select(F.pmod(F.col("id") * F.col("id"), F.lit(5000)).alias("k")))
    params = CuckooParams(max_table_size=2048, bits_per_fp=16)
    routed = RoutedCuckooFilter.build(keys, "k", params, n_routes=8)
    distinct = keys.distinct()
    n_distinct = distinct.count()
    assert routed.contains(distinct, "k").filter(~F.col("member")).count() == 0
    held_out = spark.range(10_000, 20_000).select(F.col("id").alias("k"))
    n_fp = routed.contains(held_out, "k").filter(F.col("member")).count()
    assert n_fp <= max(3, int(3 * params.fpr_bound * 10_000))
    assert routed.stats()["n_keys"] <= n_distinct


def test_null_key_is_never_a_member(spark):
    """A NULL probe answers what an absent key answers: the probe row keeps
    its NULL and member=False; a NULL build key is not inserted (so 0,
    never inserted, stays a non-member)."""
    keys = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    params = CuckooParams(max_table_size=1024, bits_per_fp=16)
    routed = RoutedCuckooFilter.build(keys, "k", params, n_routes=4)
    assert routed.stats()["n_keys"] == 2
    probes = spark.createDataFrame([(None,), (0,), (1,), (5,)], "k long")
    got = {r["k"]: r["member"]
           for r in routed.contains(probes, "k").collect()}
    assert got == {None: False, 0: False, 1: True, 5: False}
