"""Driver-facing query suite: every operator exposed as
``(spark, sf_dir) -> DataFrame`` plus a DuckDB oracle SQL string.

Two query shapes:

- **exact**: the Spark plan and the oracle SQL compute the identical
  relational result (integer-scaled arithmetic, deterministic tie-breaks) —
  value-hash equality is the gate.
- **bound-check**: sketch queries emit the *exact* ground truth (computed
  in Spark) next to boolean assertions that the sketch estimate satisfies
  its published error bound (FPR ≤ ε, |NDV err| ≤ 3σ, CMS one-sided ≤ εN,
  KLL/t-digest rank error).  The oracle recomputes the ground truth in SQL
  and asserts the booleans TRUE — so a sketch outside its bound
  hash-mismatches.  This turns probabilistic guarantees into exact gates
  (everything is deterministic: fixed hash seeds, fixed data).

Reference parity notes cite /root/reference file:line in each docstring.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuckoofilter_spark.operators import dedup as D
from cuckoofilter_spark.operators import similarity as S
from cuckoofilter_spark.operators import text as TX
from cuckoofilter_spark.operators.build import build_filter, new_filter
from cuckoofilter_spark.operators.membership import cf_contains_udf, membership_df
from cuckoofilter_spark.operators.sketch_build import build_sketch
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sketches.bloom import BloomFilter
from cuckoofilter_spark.sketches.countmin import CountMinSketch
from cuckoofilter_spark.sketches.hll import HyperLogLog
from cuckoofilter_spark.sketches.kll import KLLSketch
from cuckoofilter_spark.sketches.tdigest import TDigest

NEG_LO, NEG_N = 10_000_000, 100_000  # held-out negative-probe domain


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: per-process cache of built filters keyed by (sf_dir, table, col, dedup):
#: several queries probe the same build (materialized-sketch reuse — at
#: production scale this is the persisted filter.bin, not a rebuild per query)
_BUILD_CACHE: dict[tuple, object] = {}


def _cached_filter(spark: SparkSession, sf_dir: str, table: str, col: str,
                   dedup: bool = True):
    """Build (once per process) the filter over ``table.col`` via the
    pyarrow-direct scan path — the parquet→InternalRow→Arrow re-encode of
    the generic JVM path costs ~3× the kernel+IO for one-column builds
    (NOTES_r1.md), so scalar-column builds skip the JVM entirely."""
    from cuckoofilter_spark.operators.build import build_filter_from_parquet

    key = (sf_dir, table, col, dedup)
    hit = _BUILD_CACHE.get(key)
    if hit is None:
        df = T(spark, sf_dir, table).select(col)
        params = _params_for(_ndv(df, col))
        filt = build_filter_from_parquet(
            spark, f"{sf_dir}/{table}.parquet", col, params, dedup=dedup)
        hit = (filt, params)
        _BUILD_CACHE[key] = hit
    return hit


def _ndv(df: DataFrame, col: str) -> int:
    return int(df.agg(F.approx_count_distinct(col)).collect()[0][0])


def _params_for(ndv: int) -> CuckooParams:
    # table sized to ~2× ndv slots → moderate load, FPR well under ε
    return CuckooParams(max_table_size=max(1024, 2 * ndv), bits_per_fp=16)


def _bool_row(spark: SparkSession, **cols) -> DataFrame:
    fields, vals = zip(*sorted(cols.items()))
    schema = ", ".join(
        f"{f} {'boolean' if isinstance(v, (bool, np.bool_)) else 'long'}"
        for f, v in zip(fields, vals)
    )
    vals = tuple(bool(v) if isinstance(v, (bool, np.bool_)) else int(v) for v in vals)
    return spark.createDataFrame([vals], schema)


def _await_stream(q, timeout_s: int = 300) -> None:
    """awaitTermination(timeout) returns False WITHOUT stopping the query
    on timeout — under a host steal wave (BENCH/BASELINE.md: 5-15×
    wall-time inflation) that would leave the gates evaluating a partial
    sketch and the still-running query racing tempdir cleanup.  Fail
    loudly instead."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"streaming query did not drain within {timeout_s}s "
            "(host stall?) — gates would see partial state; aborting")


# ---------------------------------------------------------------------------
# cuckoo filter membership (reference CF: insert/contains/delete,
# CF/cuckoo_filter.h:154-316)
# ---------------------------------------------------------------------------

def q_cf_member_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: which part keys appear anywhere in lineitem?  Build the
    global filter over lineitem.l_partkey (per-partition build → tree
    merge), probe part.p_partkey with the broadcast filter.  Exact because
    every probe is a true member (no false negatives — the reference's own
    core assertion, Demo/cf_demo.cpp:30-36)."""
    filt, _ = _cached_filter(spark, sf_dir, "lineitem", "l_partkey")
    probes = T(spark, sf_dir, "part").select(F.col("p_partkey").cast("long").alias("p_partkey"))
    return membership_df(spark, filt, probes, "p_partkey")


SQL_CF_MEMBER_PARTS = """
SELECT p_partkey FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
"""


def q_cf_build_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-then-contains + FPR gate (Demo/cf_demo.cpp:30-49): all
    distinct members found (zero false negatives) and measured FPR on a
    100k held-out negative domain ≤ ε = 2b/2^f (Fan et al. bound)."""
    filt, params = _cached_filter(spark, sf_dir, "lineitem", "l_partkey")
    contains = cf_contains_udf(spark, filt)

    members = T(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    # one pass: total and found together (separate counts would recompute
    # the distinct shuffle twice)
    row = members.select(contains(F.col("l_partkey")).alias("m")).agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("m").cast("long")).alias("n_found")).collect()[0]
    n_keys, n_found = int(row["n_keys"]), int(row["n_found"] or 0)
    negs = spark.range(NEG_LO, NEG_LO + NEG_N)
    n_fp = negs.filter(contains(F.col("id"))).count()
    return _bool_row(
        spark,
        n_keys=n_keys, n_found=n_found,
        zero_false_negatives=(n_found == n_keys),
        n_neg=NEG_N,
        fpr_within_bound=(n_fp / NEG_N <= params.fpr_bound),
    )


SQL_CF_BUILD_FPR = f"""
SELECT CAST(TRUE AS BOOLEAN) AS fpr_within_bound,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_found,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_keys,
       CAST({NEG_N} AS BIGINT) AS n_neg,
       CAST(TRUE AS BOOLEAN) AS zero_false_negatives
FROM lineitem
"""


def q_cf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete support (CF/cuckoo_filter.h:239-271, Demo delete phase) on
    the DISTRIBUTED surface: build a routed filter over every orderkey,
    delete every even key via the routed cogroup delete (keys shuffle by
    route, never to the driver), then probe odds/evens with the routed
    contains — every count is a Spark aggregate; only scalars reach the
    driver.

    Built with multiset semantics (``dedup=False``) — the reference's
    insert-a-copy-per-occurrence behavior is what makes "delete exactly
    what you inserted" safe: two keys colliding on (bucket-pair, fp) hold
    two copies, so deleting one never erases the other's membership."""
    from cuckoofilter_spark.operators.routed import RoutedCuckooFilter

    orders = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"))
    n_routes = 16
    even = F.col("o_orderkey") % 2 == 0
    # one scan: exact distinct counts for sizing + the even/odd split
    pre = orders.agg(
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.countDistinct(F.when(even, F.col("o_orderkey"))).alias("n_evens"),
    ).collect()[0]
    n_keys, n_evens = int(pre["n_keys"]), int(pre["n_evens"])
    n_odds = n_keys - n_evens
    params = CuckooParams(max_table_size=max(1024, 2 * n_keys // n_routes),
                          bits_per_fp=16)
    routed = RoutedCuckooFilter.build(orders, "o_orderkey", params,
                                      n_routes=n_routes, dedup=False)
    routed.state = routed.state.persist()
    try:
        n_before = routed.stats()["n_keys"]
        after = routed.delete(orders.filter(even), "o_orderkey")
        after.state = after.state.persist()
        try:
            n_deleted = n_before - after.stats()["n_keys"]
            # one probe pass for both phases: odd keys must all survive,
            # deleted evens answer positive only at FP-noise rate
            res = after.contains(orders, "o_orderkey")
            hit = res.agg(
                F.sum(F.when(~even & F.col("member"), 1).otherwise(0))
                .alias("odds_present"),
                F.sum(F.when(even & F.col("member"), 1).otherwise(0))
                .alias("deleted_still"),
            ).collect()[0]
            odds_present = int(hit["odds_present"])
            deleted_still = int(hit["deleted_still"])
        finally:
            after.state.unpersist()
    finally:
        routed.state.unpersist()
    return _bool_row(
        spark,
        n_keys=n_keys, n_deleted=n_deleted,
        all_deletes_succeeded=(n_deleted == n_evens),
        odds_all_present=(odds_present == n_odds),
        # ε over a 7.5k-probe sample allows <1 expected hit; permit the
        # Poisson small-sample tail (≤ max(3, 3εn)) so one genuine
        # fingerprint collision doesn't read as a semantics failure
        deleted_hits_within_bound=(
            deleted_still <= max(3, int(3 * params.fpr_bound * n_evens))
        ),
    )


SQL_CF_DELETE = """
SELECT CAST(TRUE AS BOOLEAN) AS all_deletes_succeeded,
       CAST(TRUE AS BOOLEAN) AS deleted_hits_within_bound,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       CAST(TRUE AS BOOLEAN) AS odds_all_present
FROM orders
"""


# ---------------------------------------------------------------------------
# companion sketches (SURVEY §2.7 / north_rule: Bloom, HLL, CMS, KLL, t-digest)
# ---------------------------------------------------------------------------

def q_dcf_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCF growth + compaction parity (Demo/dcf_demo.cpp:51-152) ON THE
    CLUSTER: the distributed build over every distinct orderkey with a
    deliberately under-sized table (capacity ≈ ndv/3) forces per-partition
    chain growth and a multi-table merged chain; ``compact()`` then merges
    sparse→full.  Membership is verified before and after by probing every
    key IN SPARK (broadcast filter + vectorized UDF) — the reference
    demo's before/after accounting, but produced by the mapInArrow build +
    tree merge rather than a driver-local loop."""
    orders = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"))
    # exact distinct count: it is both the reported n_inserted (the oracle
    # recomputes it) and the under-sizing basis.  capacity ≈ 0.9·slots ≈
    # 1.8·max_table_size, so ndv//3 guarantees a chain ≥ 2 at every SF
    # (the 'grew_chain' gate) — no floor, or small-SF tables fit in one.
    ndv = int(orders.agg(F.countDistinct("o_orderkey")).collect()[0][0])
    params = CuckooParams(max_table_size=max(64, ndv // 3), bits_per_fp=16)
    filt = build_filter(orders, "o_orderkey", params, num_partitions=8,
                        dedup=True, compact=False)

    def n_missing(f) -> int:
        contains = cf_contains_udf(spark, f)
        return orders.filter(~contains(F.col("o_orderkey"))).count()

    chain_before = filt.cf_count
    missing_before = n_missing(filt)
    filt.compact()
    chain_after = filt.cf_count
    missing_after = n_missing(filt)
    return _bool_row(
        spark,
        n_inserted=ndv,
        grew_chain=(chain_before > 1),
        compact_not_growing=(chain_after <= chain_before),
        all_present_before=(missing_before == 0),
        all_present_after=(missing_after == 0),
    )


SQL_DCF_COMPACTION = """
SELECT CAST(TRUE AS BOOLEAN) AS all_present_after,
       CAST(TRUE AS BOOLEAN) AS all_present_before,
       CAST(TRUE AS BOOLEAN) AS compact_not_growing,
       CAST(TRUE AS BOOLEAN) AS grew_chain,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_inserted
FROM orders
"""


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom insert/contains/FPR phases probed IN SPARK: the sketch rides a
    broadcast into a vectorized membership UDF (the SQL surface,
    functions/registry.py); member/negative counts are Spark aggregates —
    the distinct key set never reaches the driver."""
    from cuckoofilter_spark.functions.registry import register_sketch

    cust = T(spark, sf_dir, "orders").select("o_custkey")
    ndv = _ndv(cust, "o_custkey")
    fpp = 1e-4
    bloom = build_sketch(cust, "o_custkey",
                         lambda pid: BloomFilter.for_capacity(max(ndv, 64), fpp=fpp, seed=11),
                         num_partitions=8)
    member_udf = register_sketch(spark, bloom, "q_bloom_member")
    members = cust.distinct()
    row = members.select(member_udf(F.col("o_custkey")).alias("m")).agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("m").cast("long")).alias("n_found")).collect()[0]
    n_keys, n_found = int(row["n_keys"]), int(row["n_found"] or 0)
    negs = spark.range(NEG_LO, NEG_LO + NEG_N)
    n_fp = negs.filter(member_udf(F.col("id"))).count()
    return _bool_row(
        spark,
        n_keys=n_keys, n_found=n_found,
        zero_false_negatives=(n_found == n_keys),
        fpp_within_bound=(n_fp / NEG_N <= 3 * fpp),
    )


SQL_BLOOM_MEMBERSHIP = """
SELECT CAST(TRUE AS BOOLEAN) AS fpp_within_bound,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_found,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_keys,
       CAST(TRUE AS BOOLEAN) AS zero_false_negatives
FROM orders
"""


def q_hll_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey")
    hll = build_sketch(li, "l_orderkey", lambda pid: HyperLogLog(p=14, seed=7),
                       num_partitions=8)
    exact = li.distinct().count()
    est = hll.estimate()
    ok = abs(est - exact) / exact <= 3 * hll.rel_error
    return _bool_row(spark, exact_ndv=exact, within_3sigma=ok)


SQL_HLL_NDV = """
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_ndv,
       CAST(TRUE AS BOOLEAN) AS within_3sigma
FROM lineitem
"""


def q_hll_ndv_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch GROUP BY: per-event-type distinct users via one HLL per key
    (bounded reducer state at any key fan-in), 3σ-checked vs exact."""
    from cuckoofilter_spark.operators.sketch_groupby import ndv_by_key

    ev = T(spark, sf_dir, "events")
    got = {r["event_type"]: r["ndv_estimate"]
           for r in ndv_by_key(ev, "event_type", "user_id", p=14).collect()}
    exact = {r["event_type"]: r["ndv"] for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("ndv")).collect()}
    rel = 3 * 1.04 / (1 << 14) ** 0.5
    rows = [(k, int(e), bool(k in got and abs(got[k] - e) / e <= rel))
            for k, e in sorted(exact.items())]
    return spark.createDataFrame(
        rows, "event_type string, exact_ndv long, within_3sigma boolean")


SQL_HLL_NDV_BY_KEY = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_ndv,
       CAST(TRUE AS BOOLEAN) AS within_3sigma
FROM events GROUP BY event_type
"""


def q_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: |A ∪ B| by register-max merge and |A ∩ B| by
    inclusion–exclusion over two independently-built HLLs (A = all
    customer keys, B = customer keys appearing in orders — a real
    containment relation).  Exact counts computed in Spark and recomputed
    by the oracle; the estimates must sit within the published bounds
    (union: 3σ relative; intersection: 3σ·|A∪B| absolute — the documented
    HLL set-op limitation, sketches/hll.py:100-105)."""
    from cuckoofilter_spark.sketches.hll import (
        intersection_estimate,
        union_estimate,
    )

    cust = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"))
    ordc = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("k"))
    mk = lambda pid: HyperLogLog(p=14, seed=7)  # noqa: E731
    ha = build_sketch(cust, "k", mk, num_partitions=8)
    hb = build_sketch(ordc, "k", mk, num_partitions=8)

    n_a = cust.distinct().count()
    n_b = ordc.distinct().count()
    n_union = cust.union(ordc).distinct().count()
    n_inter = cust.distinct().join(ordc.distinct(), "k", "left_semi").count()

    rel = 3 * ha.rel_error
    est_union = union_estimate(ha, hb)
    est_inter = intersection_estimate(ha, hb)
    return _bool_row(
        spark,
        n_a=n_a, n_b=n_b, n_union=n_union, n_inter=n_inter,
        union_within_3sigma=(abs(est_union - n_union) / n_union <= rel),
        inter_within_bound=(abs(est_inter - n_inter) <= rel * n_union),
    )


SQL_HLL_SET_ALGEBRA = """
SELECT CAST(TRUE AS BOOLEAN) AS inter_within_bound,
       CAST((SELECT COUNT(DISTINCT c_custkey) FROM customer) AS BIGINT) AS n_a,
       CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS BIGINT) AS n_b,
       CAST((SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey FROM customer
             INTERSECT SELECT DISTINCT o_custkey FROM orders)) AS BIGINT) AS n_inter,
       CAST((SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
             UNION SELECT o_custkey FROM orders)) AS BIGINT) AS n_union,
       CAST(TRUE AS BOOLEAN) AS union_within_3sigma
"""


def q_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter DISCOVERY (space-saving / Misra–Gries,
    sketches/spacesaving.py): one pass over the exploded corpus words
    finds the frequent vocabulary with k labeled counters — no candidate
    list needed (CMS's gap) and no corpus-wide groupBy at 10^12 tokens.
    For each exact top-20 word the deterministic guarantee is gated:
    present in the sketch, est ≤ true ≤ est + err."""
    from cuckoofilter_spark.sketches.spacesaving import SpaceSavingSketch

    docs = T(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    sk = build_sketch(words, "w", lambda pid: SpaceSavingSketch(k=4096),
                      num_partitions=8, values="str")
    top = (words.groupBy("w").agg(F.count("*").alias("true_cnt"))
           .orderBy(F.desc("true_cnt"), F.asc("w")).limit(20).collect())
    rows = []
    for r in top:
        est = sk.estimate(r["w"])
        rows.append((r["w"], int(r["true_cnt"]),
                     bool(0 < est <= r["true_cnt"] <= est + sk.err)))
    return spark.createDataFrame(
        rows, "w string, true_cnt long, present_and_bounded boolean")


SQL_TOPK_WORDS = """
SELECT w, CAST(COUNT(*) AS BIGINT) AS true_cnt,
       CAST(TRUE AS BOOLEAN) AS present_and_bounded
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w ORDER BY true_cnt DESC, w ASC LIMIT 20
"""


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-family set operations: the KMV bottom-k sample supports
    intersection by sample agreement below the shared threshold — error
    relative to the INTERSECTION itself, where HLL inclusion–exclusion
    only bounds against the union (the reason both sketches exist,
    sketches/kmv.py).  Same A/B sets as `hll_set_algebra`; the
    intersection gate here is 3σ·|A∩B| RELATIVE — the strictly stronger
    contract."""
    from cuckoofilter_spark.sketches.kmv import (
        KMVSketch,
        kmv_intersection_estimate,
        kmv_union_estimate,
    )

    cust = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("k"))
    ordc = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("k"))
    mk = lambda pid: KMVSketch(k=4096, seed=2)  # noqa: E731
    ka = build_sketch(cust, "k", mk, num_partitions=8)
    kb = build_sketch(ordc, "k", mk, num_partitions=8)

    n_union = cust.union(ordc).distinct().count()
    n_inter = cust.distinct().join(ordc.distinct(), "k", "left_semi").count()
    rel = 3 * ka.rel_error
    est_union = kmv_union_estimate(ka, kb)
    est_inter = kmv_intersection_estimate(ka, kb)
    return _bool_row(
        spark,
        n_union=n_union, n_inter=n_inter,
        union_within_3sigma=(abs(est_union - n_union) / n_union <= rel),
        # the theta-intersection contract: relative to the intersection
        inter_within_3sigma_relative=(
            abs(est_inter - n_inter) / max(n_inter, 1) <= rel * 3
        ),
    )


SQL_KMV_SET_OPS = """
SELECT CAST((SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey FROM customer
             INTERSECT SELECT DISTINCT o_custkey FROM orders)) AS BIGINT) AS n_inter,
       CAST((SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
             UNION SELECT o_custkey FROM orders)) AS BIGINT) AS n_union,
       CAST(TRUE AS BOOLEAN) AS inter_within_3sigma_relative,
       CAST(TRUE AS BOOLEAN) AS union_within_3sigma
"""


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point-frequency on the top-10 suppliers by lineitem count:
    one-sided (est ≥ true) and est ≤ true + εN w.p. 1-δ."""
    li = T(spark, sf_dir, "lineitem").select("l_suppkey")
    cms = build_sketch(li, "l_suppkey", lambda pid: CountMinSketch(depth=5, width=8192, seed=3),
                       num_partitions=8)
    top = (
        li.groupBy("l_suppkey").agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("l_suppkey")).limit(10)
    )
    rows = top.collect()
    keys = np.array([r["l_suppkey"] for r in rows], dtype=np.int64)
    true = np.array([r["true_cnt"] for r in rows], dtype=np.int64)
    est = cms.estimate(keys)
    n_total = cms.n_items
    out = [
        (int(k), int(t), bool(e >= t), bool(e <= t + cms.eps * n_total))
        for k, t, e in zip(keys, true, est)
    ]
    return spark.createDataFrame(
        out, "l_suppkey long, true_cnt long, overestimate_ok boolean, within_eps boolean")


SQL_CMS_HEAVY_HITTERS = """
SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS true_cnt,
       CAST(TRUE AS BOOLEAN) AS overestimate_ok,
       CAST(TRUE AS BOOLEAN) AS within_eps
FROM lineitem GROUP BY l_suppkey
ORDER BY true_cnt DESC, l_suppkey ASC LIMIT 10
"""


def _quantile_check(spark: SparkSession, df: DataFrame, col: str, sketch,
                    qs: tuple[float, ...], bound: float) -> DataFrame:
    """Shared KLL/t-digest gate: the sketch's quantile estimates must have
    true rank within `bound` of q.  True ranks computed exactly in one
    Spark aggregate pass."""
    est = sketch.quantile(np.array(qs))
    n = df.count()
    aggs = [F.sum(F.when(F.col(col) <= float(v), 1).otherwise(0)).alias(f"r{i}")
            for i, v in enumerate(est)]
    ranks = df.agg(*aggs).collect()[0]
    out = [(int(round(q * 100)), bool(abs(ranks[i] / n - q) <= bound))
           for i, q in enumerate(qs)]
    return spark.createDataFrame(out, "q_x100 long, within_bound boolean")


_QS = (0.01, 0.10, 0.25, 0.50, 0.75, 0.90, 0.99)
_SQL_QUANTILES = """
SELECT * FROM (VALUES (1, TRUE), (10, TRUE), (25, TRUE), (50, TRUE),
                      (75, TRUE), (90, TRUE), (99, TRUE))
  AS t(q_x100, within_bound)
"""


def q_kll_quantiles_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key quantile sketches (GROUP BY with a KLL aggregate,
    operators/sketch_groupby.quantiles_by_key): per event type, the
    25/50/75th percentile estimates of `value` must each have true
    within-group rank within 3× the KLL rank-error bound — the exact
    ranks are computed in one Spark join+aggregate and the oracle asserts
    the gates over the same (key, q) grid."""
    from cuckoofilter_spark.operators.sketch_groupby import quantiles_by_key
    from cuckoofilter_spark.sketches.kll import KLLSketch

    ev = T(spark, sf_dir, "events").select("event_type", "value")
    est = quantiles_by_key(ev, "event_type", "value", (0.25, 0.5, 0.75), k=200)
    bound = 3 * KLLSketch(k=200).rank_error
    ranks = (
        est.join(ev, "event_type")
        .groupBy("event_type", "q_x100", "quantile_estimate")
        .agg(F.sum(F.when(F.col("value") <= F.col("quantile_estimate"), 1)
                   .otherwise(0)).alias("r"),
             F.count("*").alias("n"))
    )
    return ranks.select(
        "event_type", F.col("q_x100").cast("long").alias("q_x100"),
        (F.abs(F.col("r") / F.col("n") - F.col("q_x100") / 100.0) <= bound)
        .alias("within_bound"))


SQL_KLL_QUANTILES_BY_KEY = """
SELECT e.event_type, t.q_x100, CAST(TRUE AS BOOLEAN) AS within_bound
FROM (SELECT DISTINCT event_type FROM events) e,
     (VALUES (25), (50), (75)) AS t(q_x100)
"""


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_extendedprice")
    kll = build_sketch(li, "l_extendedprice", lambda pid: KLLSketch(k=200, seed=5),
                       num_partitions=8, values="float")
    return _quantile_check(spark, li, "l_extendedprice", kll, _QS, 3 * kll.rank_error)


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("value")
    td = build_sketch(ev, "value", lambda pid: TDigest(delta=200.0),
                      num_partitions=8, values="float")
    return _quantile_check(spark, ev, "value", td, _QS, 0.02)


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / text / similarity (exact, SQL-mirrored)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(T(spark, sf_dir, "documents"))


SQL_EXACT_DEDUP = """
SELECT md5(text) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM documents GROUP BY md5(text)
"""


INGEST_SPLIT = 400  # docs below = existing corpus, above = incoming batch


def q_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the streaming-corpus composition of the
    membership filter: build the filter over the EXISTING corpus's exact
    content hashes once (at production scale: the persisted filter.bin of
    the whole 100 TB corpus), then admit only incoming docs whose content
    is not already present (``membership_df(keep=False)`` — the
    no-false-drop-of-duplicates direction: a duplicate can never slip in;
    a genuinely new doc is wrongly dropped only at the ε FP rate, zero on
    this deterministic corpus, so the result is exact vs the anti-join
    oracle)."""
    from cuckoofilter_spark.operators.kmers import build_string_filter, hashed_key
    from cuckoofilter_spark.operators.membership import membership_df

    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < INGEST_SPLIT)
    incoming = docs.filter(F.col("doc_id") >= INGEST_SPLIT)
    params = _params_for(2 * INGEST_SPLIT)
    filt = build_string_filter(corpus, "text", params, num_partitions=8)
    kept = membership_df(spark, filt,
                         incoming.withColumn("h", hashed_key("text")),
                         "h", keep=False)
    return kept.select("doc_id")


SQL_INGEST_DEDUP = f"""
SELECT d.doc_id FROM documents d
WHERE d.doc_id >= {INGEST_SPLIT}
  AND NOT EXISTS (SELECT 1 FROM documents c
                  WHERE c.doc_id < {INGEST_SPLIT} AND c.text = d.text)
"""


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage dedup (RefinedWeb-style boilerplate
    removal): 10-word passages occurring ≥2× corpus-wide are stripped
    from every document; the md5 of each surviving document proves the
    cleaned content byte-exactly against the string-side oracle.
    Duplicate discovery shuffles 8-byte passage hashes only (map-side
    combined count); the rebuild is in-row once each doc's dup-digest
    array is attached (operators/dedup.py:passage_dedup)."""
    return D.passage_dedup(T(spark, sf_dir, "documents"),
                           passage_words=10, min_count=2)


SQL_PASSAGE_DEDUP = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ps AS (SELECT doc_id,
              list_transform(range(CAST(ceil(len(ws)/10.0) AS BIGINT)),
                             i -> array_to_string(ws[i*10+1 : (i+1)*10], ' ')) AS pl
       FROM w),
p AS (SELECT doc_id, unnest(pl) AS passage, generate_subscripts(pl, 1) AS pos
      FROM ps),
d AS (SELECT passage FROM p GROUP BY passage HAVING COUNT(*) >= 2),
j AS (SELECT p.doc_id, p.pos, p.passage, d.passage IS NOT NULL AS is_dup
      FROM p LEFT JOIN d USING (passage))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_passages,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       md5(COALESCE(string_agg(CASE WHEN NOT is_dup THEN passage END,
                               ' ' ORDER BY pos), '')) AS cleaned_digest
FROM j GROUP BY doc_id
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_stats(T(spark, sf_dir, "documents"))


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(length(text) AS BIGINT) AS n_chars_m,
       CAST(floor((length(text) - len(string_split(text, ' ')) + 1) * 10000
                  / len(string_split(text, ' '))) AS BIGINT) AS avg_word_len_x1e4,
       CAST(len(list_filter(
              regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]|\s+'),
              x -> NOT regexp_matches(x, '^\s+$'))) AS BIGINT) AS n_bpe_ish
FROM documents
"""


_SQL_STOP = "('a','the','and','of','to','in','is','on','for','with')"


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(T(spark, sf_dir, "documents"))


SQL_QUALITY = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(list_filter(ws, x -> x IN {_SQL_STOP})) AS BIGINT) AS n_stopwords,
       CAST(floor(len(list_filter(ws, x -> x IN {_SQL_STOP})) * 10000 / len(ws)) AS BIGINT)
           AS stop_ratio_x1e4,
       CAST(len(ws) >= 20 AS BOOLEAN) AS len_ok,
       CAST(len(list_filter(ws, x -> x IN {_SQL_STOP})) > 0 AS BOOLEAN) AS has_stopwords
FROM w
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.lang_id(T(spark, sf_dir, "documents"))


_SQL_DE = "('der','die','das','und','ist','ein','nicht','mit','von','zu')"
_SQL_FR = "('le','la','les','et','un','une','est','pas','pour','dans')"
SQL_LANG_ID = f"""
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
c AS (SELECT doc_id, lang,
        len(list_filter(ws, x -> x IN {_SQL_STOP})) AS en,
        len(list_filter(ws, x -> x IN {_SQL_DE})) AS de,
        len(list_filter(ws, x -> x IN {_SQL_FR})) AS fr
      FROM w)
SELECT doc_id, lang,
       CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
            WHEN de >= fr AND de > 0 THEN 'de'
            WHEN fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred,
       CAST(CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
            WHEN de >= fr AND de > 0 THEN 'de'
            WHEN fr > 0 THEN 'fr'
            ELSE 'und' END = lang AS BOOLEAN) AS lang_match
FROM c
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(T(spark, sf_dir, "documents"))


SQL_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


_SQL_SHINGLES = """
sh AS (
  SELECT DISTINCT doc_id, g AS gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(string_split(text,' ')) - 2),
             i -> string_split(text,' ')[i+1] || chr(1) ||
                  string_split(text,' ')[i+2] || chr(1) ||
                  string_split(text,' ')[i+3])) AS g
    FROM documents WHERE len(string_split(text,' ')) >= 3))
"""

_SQL_JACCARD_BODY = """
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
       CAST(sa.n_sh + sb.n_sh - inter AS BIGINT) AS union_,
       CAST(floor(inter * 10000 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_x1e4
FROM inter JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
WHERE floor(inter * 10000 / (sa.n_sh + sb.n_sh - inter)) >= {tau}
"""

JACCARD_TAU = 8000


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint under an exact gate.  The
    fingerprint value itself rides on xxhash64 (not SQL-reproducible), so
    the oracle-checked output is its defining invariants, computed exactly
    in-plan per document and asserted TRUE by the oracle:

    - ``order_sensitive``: hashing the REVERSED word sequence gives a
      different code (vacuously true when the word array is its own
      reverse — palindromes/single-word docs have nothing to detect);
    - ``rejoin_stable``: re-joining the tokenized words reproduces the
      fingerprint of the raw text (tokenize→hash is deterministic and
      whitespace-canonical on the single-space corpus)."""
    return T(spark, sf_dir, "documents").select("doc_id", *_fingerprint_gates())


def _fingerprint_gates() -> list:
    """``order_sensitive`` and ``rejoin_stable`` of q_rolling_fingerprint,
    as columns over ``text``."""
    ws = TX.words(F.col("text"))
    fwd = TX.word_fingerprint(ws)
    rev = TX.word_fingerprint(F.reverse(ws))
    rejoined = TX.word_fingerprint(TX.words(F.array_join(ws, " ")))
    palindrome = ws == F.reverse(ws)
    return [(palindrome | (fwd != rev)).alias("order_sensitive"),
            (fwd == rejoined).alias("rejoin_stable")]


SQL_ROLLING_FINGERPRINT = """
SELECT doc_id, CAST(TRUE AS BOOLEAN) AS order_sensitive,
       CAST(TRUE AS BOOLEAN) AS rejoin_stable
FROM documents
"""


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the gate: documents become deterministic
    binary media rows (payload = utf-8 text bytes), the Arrow feature
    extractor consumes payloads batch-wise, and the surviving exact fields
    (media_id, n_bytes) must equal the SQL byte lengths — proving the
    binary column round-trips the mapInPandas boundary losslessly."""
    from cuckoofilter_spark.operators.multimodal import extract_features

    docs = T(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
         .when(F.col("doc_id") % 3 == 1, "audio").otherwise("video").alias("media_type"),
        F.lit(64).alias("width"), F.lit(48).alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("n_frames"))
    return extract_features(media).select("media_id", "media_type", "n_bytes")


SQL_MEDIA_PIPELINE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(strlen(text) AS BIGINT) AS n_bytes
FROM documents
"""


#: per-process cache of the persisted 3-gram shingle relation — four
#: queries (ngram_jaccard, minhash_lsh, simhash_dups and their verify
#: stages) re-derive the identical relation from the same table; at
#: production scale this is the materialized shingle table every dedup
#: job reads, not a per-query re-explode of the corpus.
_SHINGLE_CACHE: dict[tuple, DataFrame] = {}


def _fan_out(df: DataFrame) -> DataFrame:
    """Local-input guard for compute-heavy narrow stages: a small parquet
    file with one row group scans as ONE task, so n-gram construction
    would run single-threaded no matter how many cores the session has.
    Repartition up to the session parallelism when (and only when) the
    source carries fewer partitions — at cluster scale a corpus scan has
    thousands of splits (≫ parallelism) and this is a no-op, so the
    shuffle-free property of the shingle stage is preserved exactly where
    it matters."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _shingle_arrays(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Cached per-doc gram-ARRAY relation — the one persisted artifact the
    whole dedup family derives from: in-row consumers (MinHash signatures,
    sizes) stay shuffle-free, and the exploded form is a cheap per-use
    explode of the cache."""
    key = (sf_dir, n)
    hit = _SHINGLE_CACHE.get(key)
    if hit is None:
        from pyspark import StorageLevel

        hit = D.shingle_arrays(_fan_out(T(spark, sf_dir, "documents")),
                               n).persist(StorageLevel.MEMORY_AND_DISK)
        _SHINGLE_CACHE[key] = hit
    return hit


def _shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    # explode_outer: see dedup.shingles — identical rows (arrays non-empty)
    # without InferFiltersFromGenerate's whole-expression pushdown
    return _shingle_arrays(spark, sf_dir, n).select(
        "doc_id", F.explode_outer("grams").alias("gram"))


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (every 10th frame index, metadata-only —
    the payload column is pruned from the scan) over the deterministic
    media table, composed with the resize stage to prove the
    binary-in/binary-out plumbing: emitted n_bytes must equal the exact
    resize target 64·48, which the oracle recomputes as a constant."""
    from cuckoofilter_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        resize_media,
    )

    docs = T(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
         .when(F.col("doc_id") % 3 == 1, "audio").otherwise("video").alias("media_type"),
        F.lit(640).cast("int").alias("width"), F.lit(480).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        (F.floor(F.length("text") / 50) + 1).cast("int").alias("n_frames"))
    frames = frame_sample_plan(media, every_n=10)
    resized = resize_media(media.filter(F.col("media_type") == "video"), 64, 48)
    feat = extract_features(resized).select(
        F.col("media_id"), F.col("n_bytes"))
    return (frames.join(feat, "media_id")
            .select("media_id", F.col("frame_idx").cast("long").alias("frame_idx"),
                    F.col("n_bytes").cast("long").alias("resized_bytes")))


SQL_MEDIA_FRAMES = """
SELECT doc_id AS media_id,
       CAST(unnest(generate_series(0, CAST(floor(strlen(text)/50) AS INT), 10))
            AS BIGINT) AS frame_idx,
       CAST(64 * 48 AS BIGINT) AS resized_bytes
FROM documents WHERE doc_id % 3 = 2
"""


#: cached exact Jaccard pair relation (tiny — candidate pairs ≥ τ):
#: consumed by ngram_jaccard AND the transitive clustering query
_PAIRS_CACHE: dict[tuple, DataFrame] = {}


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (sf_dir, JACCARD_TAU)
    hit = _PAIRS_CACHE.get(key)
    if hit is None:
        hit = D.jaccard_pairs_prefix(_shingles(spark, sf_dir, 3),
                                     JACCARD_TAU).persist()
        _PAIRS_CACHE[key] = hit
    return hit


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered (PPJoin-style) exact Jaccard — identical output to
    the naive self-join, radically smaller candidate set at scale."""
    return _jaccard_pairs(spark, sf_dir)


SQL_NGRAM_JACCARD = ("WITH " + _SQL_SHINGLES + ", " +
                     _SQL_JACCARD_BODY.format(tau=JACCARD_TAU))


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dup: the documents table split into an
    indexed corpus (doc_id % 7 != 0) and an incoming batch (% 7 == 0);
    the engine computes shingles/signatures for the BATCH only, joins its
    LSH band buckets against the corpus bucket index, and exact-verifies
    only the touched docs (left-semi-restricted shingling — the property
    that makes per-ingest cost ∝ batch, never corpus; plan-gated in
    pytest).  Exact: the oracle recomputes ALL exact pairs ≥ τ over the
    union and keeps the batch-touching subset — so the driver gate also
    asserts incremental LSH recall equals the exact pair set.  The
    distributed analog of the reference's incremental-growth semantics
    (DCF/dynamic_cuckoo_filter.h:333-363)."""
    docs = _fan_out(T(spark, sf_dir, "documents"))
    new = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    # both sides slice the round's shared persisted gram-array cache —
    # per-doc shingling commutes with row filters, so the slices are exact
    # and neither side re-shingles the corpus text
    arrays = _shingle_arrays(spark, sf_dir, 3)
    return D.incremental_near_dups(
        corpus, new, tau_x1e4=JACCARD_TAU, n=3,
        corpus_arrays=arrays.filter(F.col("doc_id") % 7 != 0),
        new_arrays=arrays.filter(F.col("doc_id") % 7 == 0))


SQL_INCREMENTAL_NEARDUP = (
    "WITH " + _SQL_SHINGLES + ", " + _SQL_JACCARD_BODY.format(tau=JACCARD_TAU)
    + " AND (d1 % 7 = 0 OR d2 % 7 = 0)")


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached MinHash-LSH verified pair relation (tiny — verified pairs
    ≥ τ): consumed by minhash_lsh AND the transitive clustering query."""
    key = (sf_dir, JACCARD_TAU, "lsh")
    hit = _PAIRS_CACHE.get(key)
    if hit is None:
        hit = D.minhash_near_dups(T(spark, sf_dir, "documents"),
                                  tau_x1e4=JACCARD_TAU,
                                  arrays=_shingle_arrays(spark, sf_dir, 3)
                                  ).persist()
        _PAIRS_CACHE[key] = hit
    return hit


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16×4) candidates, exact-verified at τ=0.8.  The
    oracle is ALL exact pairs ≥ τ — equality also asserts LSH recall on
    this corpus (deterministic: fixed xxhash64 seeds).  Signatures run the
    in-row shuffle-free path over the shared gram-array cache."""
    return _lsh_pairs(spark, sf_dir)


SQL_MINHASH_LSH = SQL_NGRAM_JACCARD


SIMHASH_SUBSET = 400  # brute-force recall-audit subset (quadratic probe)


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit) near-dups at Hamming ≤ 3 under an exact gate.  The
    signatures ride on xxhash64 (not SQL-reproducible), so the checked
    output is the operator's contract, each clause computed exactly in
    Spark and asserted TRUE by the oracle:

    - ``pairs_within_hamming``: every emitted pair's recomputed popcount
      distance is ≤ 3 (no false positives from the banding join);
    - ``pairs_canonical``: d1 < d2 and no duplicates;
    - ``subset_recall_complete``: the pigeonhole guarantee audited by
      brute force on the first ``SIMHASH_SUBSET`` docs — every pair with
      true Hamming ≤ 3 in that subset appears among the candidates
      (4×16-bit chunk banding must catch distance ≤ 3 exactly)."""
    # the signature relation feeds the candidate join, the pair re-check
    # and the brute-force audit — materialize it once
    sig = D.simhash_inrow(_shingle_arrays(spark, sf_dir, 3)).persist()
    cand = D.simhash_candidates(sig, max_hamming=3)
    cand = cand.persist()
    try:
        sig2 = sig.select(F.col("doc_id").alias("d"), F.col("simhash").alias("s"))
        re = (cand
              .join(sig2.withColumnRenamed("d", "d1").withColumnRenamed("s", "s1"), "d1")
              .join(sig2.withColumnRenamed("d", "d2").withColumnRenamed("s", "s2"), "d2")
              .withColumn("true_h", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))))
        agg = re.agg(
            F.count("*").alias("n"),
            F.sum(F.when((F.col("true_h") <= 3) & (F.col("true_h") == F.col("hamming")),
                         0).otherwise(1)).alias("bad_h"),
            F.sum(F.when(F.col("d1") < F.col("d2"), 0).otherwise(1)).alias("bad_ord"),
        ).collect()[0]
        n_pairs = int(agg["n"])
        dup = int(cand.select("d1", "d2").distinct().count())
        # brute-force subset audit of the pigeonhole recall guarantee
        sub = sig.filter(F.col("doc_id") < SIMHASH_SUBSET)
        a = sub.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("s1"))
        b = sub.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("s2"))
        truth = (a.join(b, F.col("d1") < F.col("d2"))
                 .withColumn("h", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
                 .filter(F.col("h") <= 3).select("d1", "d2"))
        missed = truth.join(cand.select("d1", "d2"), ["d1", "d2"], "left_anti").count()
    finally:
        cand.unpersist()
        sig.unpersist()
    return _bool_row(
        spark,
        pairs_within_hamming=(int(agg["bad_h"] or 0) == 0),
        pairs_canonical=(int(agg["bad_ord"] or 0) == 0 and dup == n_pairs),
        subset_recall_complete=(missed == 0),
    )


SQL_SIMHASH_DUPS = """
SELECT CAST(TRUE AS BOOLEAN) AS pairs_canonical,
       CAST(TRUE AS BOOLEAN) AS pairs_within_hamming,
       CAST(TRUE AS BOOLEAN) AS subset_recall_complete
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup: connected components over the Jaccard ≥ τ pair
    set (iterative min-label propagation + pointer jumping,
    operators/components.py) — each clustered doc labeled with its
    component's minimum id and the keep/drop decision.

    The pair relation is the SCALE path — MinHash-LSH candidates with
    exact verification (`_lsh_pairs`) — not the verify-every-pair PPJoin,
    whose TRUE pair count grows superlinearly on bounded vocab (n^1.44 at
    the 10× soak; VERDICT r4 #1).  Still exact vs the recursive-CTE
    oracle over ALL exact pairs: the `minhash_lsh` entry's oracle IS the
    exact pair set, so pair-set equality (LSH recall) is already
    driver-gated before this entry runs."""
    from cuckoofilter_spark.operators.components import cluster_representatives

    pairs = _lsh_pairs(spark, sf_dir)
    return cluster_representatives(pairs.select("d1", "d2")).select(
        F.col("node").cast("long").alias("node"),
        F.col("comp").cast("long").alias("comp"),
        "keep")


SQL_NEARDUP_CLUSTERS = ("WITH " + _SQL_SHINGLES + """,
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
pairs AS (SELECT d1, d2 FROM inter
          JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
          WHERE floor(i * 10000 / (sa.n_sh + sb.n_sh - i)) >= """
                        + str(JACCARD_TAU) + """),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM edges UNION SELECT a, a FROM edges
    UNION
    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
  ) SELECT * FROM r)
SELECT a AS node, CAST(MIN(b) AS BIGINT) AS comp,
       CAST(a = MIN(b) AS BOOLEAN) AS keep
FROM reach GROUP BY a
""")


def q_emb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


SQL_EMB_TOPK = """
WITH scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS nbr_id,
         CAST(floor(list_cosine_similarity(
             CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) * 10000)
           AS BIGINT) AS cos_x1e4
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10)
SELECT q_id, nbr_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_x1e4 DESC, nbr_id ASC) AS BIGINT)
         AS rank,
       cos_x1e4
FROM scored
QUALIFY rank <= 5
"""

EMB_TAU = 4000


def q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.neardup_pairs_blas(T(spark, sf_dir, "embeddings"), tau_x1e4=EMB_TAU)


SQL_EMB_NEARDUP = f"""
SELECT a.vec_id AS v1, b.vec_id AS v2,
       CAST(floor(list_cosine_similarity(
           CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) * 10000)
         AS BIGINT) AS cos_x1e4
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE floor(list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) * 10000) >= {EMB_TAU}
"""


IVF_MIN_HITS = 2  # per-query recall floor: ≥ 2 of the exact top-5 recovered


def q_emb_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors under an exact gate: recall is
    < 1 by construction (nprobe=8 of 16 cells), so the checked output is
    the per-query contract — computed exactly in Spark (the ground-truth
    top-5 comes from the exact `cosine_topk` plan) and asserted TRUE by
    the oracle:

    - ``recall_ok``: at least ``IVF_MIN_HITS`` of the exact top-5 appear
      in the IVF top-5 for that query (deterministic: hash-threshold
      centroid sampling is a pure function of ids; calibrated across
      sf0.001/0.01/0.1 — min observed hits at nprobe=8 is 2);
    - ``scores_match``: on every (query, neighbor) both plans agree on
      the integer-scaled cosine — IVF rescoring is exact."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cent = S.kmeans_centroids(emb, n_clusters=16, seed=42, sample=500)
    ivf = S.ivf_topk(emb, queries, cent, k=5, nprobe=8)
    exact = S.cosine_topk(emb, queries, k=5)
    i = ivf.select("q_id", "nbr_id", F.col("cos_x1e4").alias("ivf_cos"))
    e = exact.select("q_id", "nbr_id", F.col("cos_x1e4").alias("ex_cos"))
    per_q = (
        e.join(i, ["q_id", "nbr_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.when(F.col("ivf_cos").isNotNull(), 1).otherwise(0)).alias("n_hit"),
             F.sum(F.when(F.col("ivf_cos").isNotNull()
                          & (F.col("ivf_cos") != F.col("ex_cos")), 1)
                   .otherwise(0)).alias("n_bad"))
    )
    return per_q.select(
        "q_id",
        (F.col("n_hit") >= IVF_MIN_HITS).alias("recall_ok"),
        (F.col("n_bad") == 0).alias("scores_match"),
    )


SQL_EMB_TOPK_IVF = """
SELECT DISTINCT vec_id AS q_id, CAST(TRUE AS BOOLEAN) AS recall_ok,
       CAST(TRUE AS BOOLEAN) AS scores_match
FROM embeddings WHERE vec_id < 10
"""


LSH_RECALL_FLOOR_X1E4 = 9500  # calibrated: min observed 9970 across sf0.001/0.01/0.1


def q_emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table RP-LSH near-duplicate pairs — the *approximate scale
    path* for embedding dedup (`operators/similarity.py:lsh_neardup_pairs`)
    under an exact gate.  Where `emb_neardup` runs the exact blocked-GEMM
    all-pairs plan (O(n²), the oracle baseline), this query generates
    candidates from 32 independent 4-bit hyperplane tables (self-join on
    (table, bucket) — O(Σ bucket²) work) and exact-rescores them, so false
    positives are structurally impossible and recall is the only
    probabilistic quantity.  The checked output:

    - ``n_exact``: the exact pair count ≥ τ, computed by the GEMM plan and
      independently recomputed by the DuckDB oracle (value-checked);
    - ``recall_ok``: LSH recovered ≥ 95% of the exact pairs (deterministic:
      fixed hyperplane seed, fixed data; observed ≥ 99.7% at
      sf0.001/0.01/0.1);
    - ``no_false_positives``: every LSH pair is an exact pair with the
      identical integer-scaled cosine (gates the rescoring path end-to-end).

    At 100 TB the GEMM side of this gate is unaffordable — production runs
    LSH alone with `nbits ≈ log2(n / target_bucket)`; the gate exists so
    the approximate path's recall contract is continuously measured at
    test scale."""
    emb = T(spark, sf_dir, "embeddings")
    exact = S.neardup_pairs_blas(emb, tau_x1e4=EMB_TAU).select(
        "v1", "v2", F.col("cos_x1e4").alias("ex_cos"))
    lsh = S.lsh_neardup_pairs(emb, tau_x1e4=EMB_TAU, nbits=4, tables=32).select(
        "v1", "v2", F.col("cos_x1e4").alias("lsh_cos"))
    joined = exact.join(lsh, ["v1", "v2"], "full_outer")
    return joined.agg(
        F.sum(F.when(F.col("ex_cos").isNotNull(), 1).otherwise(0))
         .cast("long").alias("n_exact"),
        (F.sum(F.when(F.col("ex_cos").isNotNull() & F.col("lsh_cos").isNotNull(),
                      1).otherwise(0)) * 10000
         >= F.sum(F.when(F.col("ex_cos").isNotNull(), 1).otherwise(0))
            * LSH_RECALL_FLOOR_X1E4).alias("recall_ok"),
        (F.sum(F.when(F.col("lsh_cos").isNotNull()
                      & (F.col("ex_cos").isNull()
                         | (F.col("ex_cos") != F.col("lsh_cos"))), 1)
               .otherwise(0)) == 0).alias("no_false_positives"),
    )


SQL_EMB_NEARDUP_LSH = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(TRUE AS BOOLEAN) AS recall_ok,
       CAST(TRUE AS BOOLEAN) AS no_false_positives
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE floor(list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) * 10000) >= {EMB_TAU}
"""


def q_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew treatment under the gate: the two-phase salted
    grouped count (partial count by (key, salt) → final sum per key,
    operators/skew.py) must equal the plain ``GROUP BY`` exactly — the
    oracle recomputes the plain counts.  At scale the salt bounds any hot
    key's reducer input at 1/buckets of its rows."""
    from cuckoofilter_spark.operators.skew import salted_group_count

    ev = T(spark, sf_dir, "events")
    return (salted_group_count(ev, "user_id", buckets=16)
            .select(F.col("user_id").cast("long").alias("user_id"), "cnt"))


SQL_SALTED_COUNTS = """
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events GROUP BY user_id
"""


def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the first event per (user_id, event_type) — window-function
    dedup, the streaming-upsert pattern in batch form."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type")
    )


SQL_EVENTS_DEDUP = """
SELECT event_id, user_id, event_type FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline: quality gate → exact dedup →
    near-dup removal (drop the larger doc_id of every Jaccard ≥ 0.8 pair).
    Near-dup candidates come from the SCALE path — MinHash(64)+LSH(16×4)
    with exact verification — not the verify-every-pair exact join, whose
    TRUE pair count grows superlinearly on a bounded vocabulary (measured
    n^1.44 at the 10× soak, vs n^0.45 for this composition,
    SOAK_r4*.json).  Recall equality with the all-pairs relation is
    itself driver-gated: `minhash_lsh`'s oracle IS the exact pair set, so
    a recall miss would fail that entry before it could skew this one."""
    docs = _fan_out(T(spark, sf_dir, "documents"))
    q = TX.quality_score(docs).filter(F.col("len_ok") & F.col("has_stopwords"))
    kept = docs.join(q.select("doc_id"), "doc_id", "left_semi")
    exact = D.exact_dedup(kept).select(F.col("keep_id").alias("doc_id"))
    kept = kept.join(exact, "doc_id", "left_semi")
    # pre-persisted gram arrays, cached per sf_dir like _SHINGLE_CACHE
    # (minhash_near_dups no longer persists internally — ADVICE r4): one
    # bounded cache entry per sf instead of a leaked subtree per call.
    key = (sf_dir, 3, "clean_corpus")
    arrays = _SHINGLE_CACHE.get(key)
    if arrays is None:
        from pyspark import StorageLevel

        arrays = D.shingle_arrays(kept, 3).persist(StorageLevel.MEMORY_AND_DISK)
        _SHINGLE_CACHE[key] = arrays
    dups = D.minhash_near_dups(kept, tau_x1e4=JACCARD_TAU, n=3,
                               arrays=arrays).select(
        F.col("d2").alias("doc_id")).distinct()
    return (kept.join(dups, "doc_id", "left_anti")
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars")))


SQL_CLEAN_CORPUS = f"""
WITH w AS (SELECT doc_id, n_chars, text, string_split(text,' ') AS ws FROM documents),
q AS (SELECT doc_id, n_chars, text FROM w
      WHERE len(ws) >= 20 AND len(list_filter(ws, x -> x IN {_SQL_STOP})) > 0),
ex AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
kept AS (SELECT q.* FROM q JOIN ex USING (doc_id)),
{_SQL_SHINGLES.replace('FROM documents', 'FROM kept')},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
dups AS (SELECT DISTINCT d2 AS doc_id FROM inter
         JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
         WHERE floor(i * 10000 / (sa.n_sh + sb.n_sh - i)) >= {JACCARD_TAU})
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dups)
"""


def q_ngram_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-mer-style n-gram membership (FASTA workload, SURVEY §3.2): build
    the filter over every word 3-gram of the corpus (token-ized via
    xxhash64 word codes), probe the distinct 3-grams of the first 50
    documents — all true members → exact vs the SQL distinct count.

    The probe phase stays IN Spark end-to-end: probe hashes are
    enumerated with the same mapInArrow window kernel the build uses
    (``ngram_hash_df``) and answered through the broadcast
    ``cf_contains_udf`` — no document text or probe set ever visits the
    driver; only the final 1-row aggregate is collected."""
    from cuckoofilter_spark.operators.kmers import build_ngram_filter, ngram_hash_df
    from cuckoofilter_spark.operators.membership import cf_contains_udf

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.transform(F.split("text", " "),
                    lambda w: F.xxhash64(w, F.lit(77))
                    .bitwiseAND(F.lit(0x7FFFFFFF)).cast("int")).alias("tokens"))
    params = CuckooParams(max_table_size=1 << 17, bits_per_fp=16)
    filt = build_ngram_filter(toks, "tokens", n=3, params=params)

    contains = cf_contains_udf(spark, filt)
    probes = ngram_hash_df(toks.filter(F.col("doc_id") < 50), "tokens", 3).distinct()
    agg = probes.agg(
        F.count("*").alias("n_probes"),
        F.sum(F.when(contains(F.col("h")), 1).otherwise(0)).alias("n_found"),
    ).collect()[0]
    n_probes, n_found = int(agg["n_probes"]), int(agg["n_found"] or 0)
    return _bool_row(
        spark,
        n_probes=n_probes, n_found=n_found,
        zero_false_negatives=(n_found == n_probes),
    )


SQL_NGRAM_MEMBERSHIP = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           WHERE doc_id < 50),
g AS (SELECT DISTINCT gr FROM (
        SELECT unnest(list_transform(range(len(ws) - 2),
          i -> ws[i+1] || chr(1) || ws[i+2] || chr(1) || ws[i+3])) AS gr
        FROM w WHERE len(ws) >= 3))
SELECT CAST(COUNT(*) AS BIGINT) AS n_found,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(TRUE AS BOOLEAN) AS zero_false_negatives
FROM g
"""


def q_routed_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed (no-broadcast) membership: filter state lives as a
    (route, blob) table, probes co-partition by route via cogroup — the
    10^12-key scale path.  Probes are all true members → exact."""
    from cuckoofilter_spark.operators.routed import RoutedCuckooFilter

    orders = T(spark, sf_dir, "orders").select("o_custkey")
    routed = RoutedCuckooFilter.build(
        orders, "o_custkey", CuckooParams(max_table_size=4096), n_routes=16)
    probes = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("o_custkey"))
    return routed.member_semi(probes, "o_custkey").withColumnRenamed(
        "o_custkey", "c_custkey")


SQL_ROUTED_MEMBERSHIP = """
SELECT c_custkey FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


def q_streaming_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming under the gate: per-event-type distinct users
    via the stateful HLL operator (applyInPandasWithState), checked
    against the exact batch answer within the 3σ HLL bound."""
    import tempfile

    from cuckoofilter_spark.streaming.incremental import streaming_distinct_by_key

    batch = T(spark, sf_dir, "events")
    # the streaming file source requires a directory; glob-select the one
    # events file from the sf dir
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    per_key = streaming_distinct_by_key(
        stream.select("event_type", "user_id"),
        key_col="event_type", value_col="user_id", p=14)
    import uuid

    name = f"q_streaming_ndv_{uuid.uuid4().hex[:8]}"  # re-runnable in-session
    with tempfile.TemporaryDirectory() as ck:
        q = (per_key.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", ck)
             .outputMode("update").trigger(availableNow=True).start())
        _await_stream(q, 300)
    got = {r["key"]: r["ndv_estimate"]
           for r in spark.sql(f"SELECT * FROM {name}").collect()}
    exact = {r["event_type"]: r["ndv"] for r in
             batch.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("ndv")).collect()}
    rel = 3 * 1.04 / (1 << 14) ** 0.5
    rows = [(k, int(e), bool(k in got and abs(got[k] - e) / e <= rel))
            for k, e in sorted(exact.items())]
    return spark.createDataFrame(
        rows, "event_type string, exact_ndv long, within_3sigma boolean")


SQL_STREAMING_NDV = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_ndv,
       CAST(TRUE AS BOOLEAN) AS within_3sigma
FROM events GROUP BY event_type
"""


def _windowed_ndv_utc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windows under the gate: per-day distinct
    users via the windowed stateful HLL operator (``streaming/windowed.py``,
    applyInPandasWithState + EventTimeTimeout), checked against the exact
    per-window batch answer within the 3σ HLL bound.  Window starts are
    epoch seconds.  The caller pins the session tz to UTC
    (``q_streaming_sketches``): under any other tz the NTZ→LTZ cast shifts
    instants and day windows stop matching the oracle's
    ``date_trunc('day')``."""
    import uuid

    from cuckoofilter_spark.streaming.windowed import windowed_distinct

    batch = T(spark, sf_dir, "events")
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    # parquet stores TIMESTAMP_NTZ; watermarks need TIMESTAMP(_LTZ) — the
    # UTC session makes the cast instant-preserving
    win = windowed_distinct(
        stream.select(F.col("ts").cast("timestamp").alias("ts"), "user_id"),
        "ts", "user_id", window="1 day", watermark="1 hour", p=14)
    name = f"q_streaming_windowed_{uuid.uuid4().hex[:8]}"
    import tempfile

    with tempfile.TemporaryDirectory() as ck:
        q = (win.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", ck)
             .outputMode("update").trigger(availableNow=True).start())
        _await_stream(q, 300)
    # collected timestamps are naive in the session tz (pinned UTC) —
    # epoch them explicitly as UTC, never via tz-local .timestamp()
    import calendar

    def epoch_utc(dt) -> int:
        return int(calendar.timegm(dt.timetuple()))

    # last update per window (the HLL estimate is nondecreasing in data
    # absorbed, so max = the estimate after the window's final update)
    got = {}
    for r in spark.sql(f"SELECT * FROM {name}").collect():
        k = epoch_utc(r["window_start"])
        got[k] = max(got.get(k, 0), int(r["ndv_estimate"]))
    exact = {epoch_utc(r["w"]): int(r["ndv"]) for r in
             batch.groupBy(F.window(F.col("ts").cast("timestamp"), "1 day")
                           .alias("win"))
             .agg(F.countDistinct("user_id").alias("ndv"))
             .select(F.col("win.start").alias("w"), "ndv").collect()}
    rel = 3 * 1.04 / (1 << 14) ** 0.5
    rows = [(k, e, bool(k in got and abs(got[k] - e) / e <= rel))
            for k, e in sorted(exact.items())]
    return spark.createDataFrame(
        rows, "window_start_epoch long, exact_ndv long, within_3sigma boolean")


SQL_STREAMING_WINDOWED_NDV = """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start_epoch,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_ndv,
       CAST(TRUE AS BOOLEAN) AS within_3sigma
FROM events GROUP BY 1
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup under the gate (streaming/dedup.py):
    first-seen events per user flow through the per-route cuckoo-filter
    state.  Gates: at-most-once per key (hard — no false negatives), and
    under-delivery within the FP bound; the exact distinct count is
    recomputed by the oracle."""
    import tempfile
    import uuid

    from cuckoofilter_spark.streaming.dedup import streaming_dedup_by_key

    batch = T(spark, sf_dir, "events")
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    params = CuckooParams(max_table_size=4096, bits_per_fp=16)
    out = streaming_dedup_by_key(stream.select("user_id", "event_id"),
                                 "user_id", params, n_routes=8)
    name = f"q_streaming_dedup_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ck:
        q = (out.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        _await_stream(q, 300)
    passed = [r["user_id"] for r in spark.sql(f"SELECT user_id FROM {name}").collect()]
    n_exact = batch.select("user_id").distinct().count()
    eps = params.fpr_bound
    return _bool_row(
        spark,
        n_distinct_users=n_exact,
        at_most_once=(len(passed) == len(set(passed))),
        drops_within_bound=(
            len(set(passed)) >= n_exact - max(3, int(3 * eps * n_exact))
            and len(passed) <= n_exact),
    )


SQL_STREAMING_DEDUP = """
SELECT CAST(TRUE AS BOOLEAN) AS at_most_once,
       CAST(TRUE AS BOOLEAN) AS drops_within_bound,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events
"""


def q_streaming_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter discovery over an unbounded stream: the space-saving
    sketch rides the shared streaming protocol
    (``StreamingSketchBuilder`` foreachBatch — per-partition build →
    tree merge → fold into the checkpointed running sketch, the same
    create/update/merge/serialize monoid every sketch uses).  Gate
    mirrors ``topk_words``: every exact top-20 word is present in the
    streamed sketch with est ≤ true ≤ est + err — the deterministic
    space-saving guarantee, insensitive to micro-batch arrival order."""
    import tempfile

    from cuckoofilter_spark.sketches.spacesaving import SpaceSavingSketch
    from cuckoofilter_spark.streaming.incremental import StreamingSketchBuilder

    batch = T(spark, sf_dir, "documents")
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "documents.parquet").parquet(sf_dir))
    wcol = F.explode(F.split("text", " ")).alias("w")
    with tempfile.TemporaryDirectory() as tmp:
        b = StreamingSketchBuilder(
            lambda pid: SpaceSavingSketch(k=4096), "w",
            state_dir=os.path.join(tmp, "state"), values="str")
        q = (b.attach(stream.select(wcol))
             .option("checkpointLocation", os.path.join(tmp, "ck"))
             .trigger(availableNow=True).start())
        _await_stream(q, 300)
        sk = b.sketch
    top = (batch.select(wcol).groupBy("w").agg(F.count("*").alias("true_cnt"))
           .orderBy(F.desc("true_cnt"), F.asc("w")).limit(20).collect())
    rows = []
    for r in top:
        est = sk.estimate(r["w"])
        rows.append((r["w"], int(r["true_cnt"]),
                     bool(0 < est <= r["true_cnt"] <= est + sk.err)))
    return spark.createDataFrame(
        rows, "w string, true_cnt long, present_and_bounded boolean")


SQL_STREAMING_TOPK_WORDS = SQL_TOPK_WORDS


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window functions —
    lag + cumulative sum of session starts per user.  Exact."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    starts = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (ev.withColumn("s", starts)
            .withColumn("session_no", F.sum("s").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_no")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.min("event_id").cast("long").alias("first_event"))
            .select("user_id", F.col("session_no").cast("long").alias("session_no"),
                    "n_events", "first_event"))


SQL_EVENTS_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS s
  FROM events),
x AS (SELECT user_id, event_id,
        SUM(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(event_id) AS BIGINT) AS first_event
FROM x GROUP BY user_id, session_no
"""


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (status × priority hierarchy) — grouping-set
    coverage; cents-integer money so sums are exact."""
    o = T(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long"))
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("cents").cast("long").alias("total_cents"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n", "total_cents"))


SQL_ORDERS_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — all 2² grouping sets of (status, priority)."""
    o = T(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long"))
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("cents").cast("long").alias("total_cents"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n", "total_cents"))


SQL_ORDERS_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 parts by retail price within each brand,
    deterministic tie-break on partkey.  Exact."""
    from pyspark.sql import Window

    p = T(spark, sf_dir, "part").withColumn(
        "price_cents", F.round(F.col("p_retailprice") * 100).cast("long"))
    w = Window.partitionBy("p_brand").orderBy(F.desc("price_cents"), F.asc("p_partkey"))
    return (p.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("p_brand", "p_partkey", F.col("rk").cast("long").alias("rk"),
                    "price_cents"))


SQL_TOP_PARTS_PER_BRAND = """
SELECT p_brand, p_partkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
            ORDER BY CAST(round(p_retailprice*100) AS BIGINT) DESC, p_partkey) AS BIGINT) AS rk,
       CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
FROM part QUALIFY rk <= 3
"""


def q_word_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-key membership (the FASTA/CityHash workload shape,
    Tests/cf_fasta_test.cpp): build a filter over every distinct word of
    the corpus via JVM-side xxhash64 pre-hashing, probe the words of the
    first 100 documents — all true members, so exact vs the oracle."""
    from cuckoofilter_spark.operators.kmers import build_string_filter, hashed_key

    docs = T(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    filt = build_string_filter(words, "w", _params_for(_ndv(words, "w")),
                               num_partitions=8)
    contains = cf_contains_udf(spark, filt)
    probes = (docs.filter(F.col("doc_id") < 100)
              .select(F.explode(F.split("text", " ")).alias("w")).distinct())
    return probes.filter(contains(hashed_key("w"))).select("w")


SQL_WORD_MEMBERSHIP = """
SELECT DISTINCT unnest(string_split(text, ' ')) AS w
FROM documents WHERE doc_id < 100
"""


def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-only membership pruning (the zero-Python probe path): a semi
    join under Catalyst's runtime bloom filter injection.  Gates BOTH that
    the optimizer actually injected ``might_contain`` into the probe scan
    (broadcast disabled for the measurement — the 100 TB shuffle-join
    regime) and that the pruned row count equals the exact semi join's,
    which the oracle recomputes."""
    from cuckoofilter_spark.operators.jvm_prune import (
        RUNTIME_BLOOM_CONFS,
        bloom_pruned_semi_join,
        enable_runtime_bloom,
        plan_has_bloom_prune,
    )

    keys = dict(RUNTIME_BLOOM_CONFS)
    keys["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    old = {k: spark.conf.get(k, None) for k in keys}
    li = T(spark, sf_dir, "lineitem").select("l_partkey")
    sel = T(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    try:
        enable_runtime_bloom(spark)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pruned = bloom_pruned_semi_join(li, "l_partkey", sel, "p_partkey")
        n_pruned = pruned.count()
        injected = plan_has_bloom_prune(pruned)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    n_exact = li.join(sel.select("p_partkey"),
                      li["l_partkey"] == sel["p_partkey"], "left_semi").count()
    return _bool_row(
        spark,
        n_member_rows=n_pruned,
        bloom_injected=injected,
        matches_exact=(n_pruned == n_exact),
    )


SQL_BLOOM_PRUNED_JOIN = """
SELECT CAST(TRUE AS BOOLEAN) AS bloom_injected,
       CAST(TRUE AS BOOLEAN) AS matches_exact,
       CAST(COUNT(*) AS BIGINT) AS n_member_rows
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
"""


#: overridable; defaults to the committed fixture genome (the shape of the
#: reference's ``Data/ecoli_small.fna``), so both engines read a repo file
FASTA_PATH = os.environ.get("SPARK_GRAFT_FASTA", os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "data", "synth_small.fna"))
FASTA_K = 10


def q_fasta_kmers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FASTA end-to-end parity (Tests/cf_fasta_test.cpp:25-55 as a driver
    query): distributed k-mer filter build over ``FASTA_PATH`` (the shape
    of the reference's ``ecoli_small.fna``), then probe every distinct
    k-mer through the Spark-side UDF — all are true members (zero false
    negatives), so the surviving rows equal the exact distinct k-mer set
    the oracle computes by slicing the same file in SQL.  Build and scan
    both go through the one FASTA reader, the ``plan_chunks`` byte ranges:
    chunk_bytes=256 fans this 1.1 kB file into ~5 tasks (the multi-task
    shape a 3 GB genome gets at the 16 MiB default), so the oracle gates
    chunk-boundary k-mer reassembly.  The scan side is the registered
    `spark.read.format("fasta")` Python Data Source (the FastaIterator
    adapter, SURVEY §2 #30), giving the source its own driver row."""
    from cuckoofilter_spark.sources.fasta import (
        build_fasta_filter,
        cf_contains_kmer_udf,
        parse_fasta,
    )
    from cuckoofilter_spark.sources.fasta_datasource import FastaDataSource

    with open(FASTA_PATH, "rb") as fh:
        _, seq = parse_fasta(fh.read().decode("utf-8", errors="replace"))
    n = max(1, len(seq) - FASTA_K + 1)
    params = CuckooParams(max_table_size=2 * n, bits_per_fp=16)
    filt = build_fasta_filter(spark, [FASTA_PATH], FASTA_K, params,
                              dedup=False, chunk_bytes=256)
    contains = cf_contains_kmer_udf(spark, filt, FASTA_K)
    spark.dataSource.register(FastaDataSource)
    kmers = (spark.read.format("fasta")
             .option("path", FASTA_PATH).option("k", FASTA_K)
             .option("chunk_bytes", 256).load()
             .select("kmer").distinct())
    return kmers.filter(contains(F.col("kmer")))


# the oracle reproduces parse_fasta's VERBATIM semantics (matching the
# reference reader, FASTA/fasta_reader.cpp:50-60): drop everything up to and
# including the first '>' header line, then concatenate every later line —
# including later '>' lines — so impl and oracle agree on multi-record files
SQL_FASTA_KMERS = f"""
WITH f AS (SELECT string_split(content, chr(10)) AS ls
           FROM read_text('{FASTA_PATH}')),
h AS (SELECT ls, list_position(list_transform(ls, x -> substr(x, 1, 1) = '>'),
                               TRUE) AS hi FROM f),
s AS (SELECT list_aggregate(ls[hi+1:], 'string_agg', '') AS seq FROM h)
SELECT DISTINCT unnest(list_transform(range(1, length(seq) - {FASTA_K} + 2),
                                      i -> substr(seq, i, {FASTA_K}))) AS kmer
FROM s
"""


# ---------------------------------------------------------------------------
# token-table flagship (input_hint shape; rows-only — oracle cannot
# synthesize the corpus)
# ---------------------------------------------------------------------------

def q_tokens_cf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end on the input_hint table (doc_id, tokens:array<int32>,
    n_tok, source): synthesize deterministically, build the global cuckoo
    filter over all tokens, assert zero false negatives on a member sample,
    FPR ≤ ε on out-of-vocab probes, and a sane load factor.  Every output
    is a boolean gate or a synthesis constant, so the oracle reproduces the
    row exactly (the build is deterministic: fixed seed, fixed partition
    count, pid-keyed merge tree)."""
    from cuckoofilter_spark.sources.tokens import VOCAB, synth_tokens_df

    toks = synth_tokens_df(spark, n_docs=1000, seed=42, num_partitions=8)
    params = CuckooParams(max_table_size=4 * VOCAB, bits_per_fp=16)
    filt = build_filter(toks, "tokens", params, num_partitions=8)

    sample = np.arange(0, 1000, dtype=np.int64)  # Zipf head — certainly present
    found = int(filt.contains(sample).sum())
    negs = np.arange(VOCAB + NEG_LO, VOCAB + NEG_LO + NEG_N, dtype=np.int64)
    n_fp = int(filt.contains(negs).sum())
    load_pct = int(filt.load_factor() * 100)
    return _bool_row(
        spark,
        n_docs=1000,
        head_all_found=(found == len(sample)),
        fpr_within_bound=(n_fp / NEG_N <= params.fpr_bound),
        load_sane=(0 < load_pct <= 100),
    )


SQL_TOKENS_CF_BUILD = """
SELECT CAST(TRUE AS BOOLEAN) AS fpr_within_bound,
       CAST(TRUE AS BOOLEAN) AS head_all_found,
       CAST(TRUE AS BOOLEAN) AS load_sane,
       CAST(1000 AS BIGINT) AS n_docs
"""


TOKND_DOCS, TOKND_EVERY = 600, 50  # corpus size, planted-dup stride


def q_tokens_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection DIRECTLY on the input_hint token table — no text
    detour: MinHash(64) + LSH(16×4) over in-row token 3-gram shingles
    (dedup.token_shingles), exact-Jaccard verified.  Near-dup copies are
    planted IN-PLAN (every 50th sequence re-emitted with every 37th token
    incremented — J ≈ 0.82–0.92 vs its original), and the gates assert the
    detector finds exactly the planted pair set: every planted pair
    recovered at τ = 0.7 and nothing else reported (independent Zipf
    sequences share no 3-gram mass at that threshold).  Everything is
    deterministic (seeded synth, fixed hash seeds), so the booleans are
    exact; plan shape is the text-dedup family's — one signature shuffle of
    k·8 B/doc, uniform band-bucket self-join, verify restricted to
    candidates."""
    from cuckoofilter_spark.operators.dedup import (
        minhash_near_dups,
        token_shingle_arrays,
    )
    from cuckoofilter_spark.sources.tokens import VOCAB, synth_tokens_df

    base = synth_tokens_df(spark, TOKND_DOCS, seed=42, num_partitions=8)
    idx = F.substring("doc_id", 4, 8).cast("int")
    mutated = (
        base.filter(idx % TOKND_EVERY == 0)
        .select(F.concat(F.lit("dup"), "doc_id").alias("doc_id"),
                F.transform("tokens", lambda t, i: F.when(
                    i % 37 == 0, (t + 1) % VOCAB).otherwise(t)).alias("tokens"),
                "n_tok", "source"))
    corpus = base.unionByName(mutated)
    arrays = token_shingle_arrays(corpus, n=3).persist()
    try:
        pairs = minhash_near_dups(corpus, tau_x1e4=7000, arrays=arrays)
        # one aggregation pass computes every gate (planted pairs surface
        # canonically as d1="docXXXX" < d2="dupdocXXXX"); collected eagerly
        # so the shingle cache can be released before returning
        row = pairs.agg(
            F.count("*").alias("_np"),
            F.sum(F.when(F.col("d2") == F.concat(F.lit("dup"), F.col("d1")),
                         1).otherwise(0)).alias("_nr")).collect()[0]
    finally:
        arrays.unpersist()
    n_planted = TOKND_DOCS // TOKND_EVERY
    n_recovered = int(row["_nr"] or 0)
    return _bool_row(
        spark,
        n_docs=TOKND_DOCS,
        n_planted=n_planted,
        all_planted_found=(n_recovered == n_planted),
        only_planted_found=(int(row["_np"]) == n_recovered),
    )


SQL_TOKENS_NEARDUP = f"""
SELECT CAST(TRUE AS BOOLEAN) AS all_planted_found,
       CAST({TOKND_DOCS} AS BIGINT) AS n_docs,
       CAST({TOKND_DOCS // TOKND_EVERY} AS BIGINT) AS n_planted,
       CAST(TRUE AS BOOLEAN) AS only_planted_found
"""


def q_tokens_ndv_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source approximate vocabulary size on the input_hint table:
    token-id NDV per ``source`` via the per-key HLL GROUP BY
    (operators/sketch_groupby.ndv_by_key, salt_buckets=4 exercising the
    hot-key salted partial-merge path — 'web' holds ~70% of rows), each
    estimate gated within 3σ of the Spark-exact per-source count.  The
    explode is narrow; reducer state is O(2^p) per (source, salt) no
    matter how many tokens a source has."""
    from cuckoofilter_spark.operators.sketch_groupby import ndv_by_key
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    toks = synth_tokens_df(spark, 1000, seed=42, num_partitions=8)
    ex = toks.select("source", F.explode("tokens").alias("tok"))
    p = 14
    est = {r["source"]: r["ndv_estimate"]
           for r in ndv_by_key(ex, "source", "tok", p=p, salt_buckets=4)
           .collect()}
    exact = {r["source"]: r["ndv"] for r in
             ex.groupBy("source").agg(F.countDistinct("tok").alias("ndv"))
             .collect()}
    rel = 3 * 1.04 / (1 << p) ** 0.5
    rows = [(s, bool(s in est and abs(est[s] - e) / e <= rel))
            for s, e in sorted(exact.items())]
    return spark.createDataFrame(rows, "source string, within_3sigma boolean")


SQL_TOKENS_NDV_BY_SOURCE = """
SELECT s AS source, CAST(TRUE AS BOOLEAN) AS within_3sigma
FROM (VALUES ('books'), ('code'), ('web'), ('wiki')) AS t(s)
"""


TOKING_DOCS = 1000


def q_streaming_tokens_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule build as STREAMING INGEST: the pre-tokenized
    sequence table arrives as a file stream (2 files per micro-batch) and
    the global cuckoo filter is maintained incrementally through the
    shared ``StreamingSketchBuilder`` protocol — each batch runs the same
    distributed per-partition build → tree merge as the batch path, then
    folds into the running filter, whose blob is checkpointed per batch.
    Gates: the ingest really was incremental (≥2 committed batches), zero
    false negatives on the Zipf head, FPR ≤ ε on held-out negatives, and
    RESUMABILITY — a second builder pointed at the same state dir restores
    the committed batch id and answers membership identically (the
    restart-without-re-reading-history obligation)."""
    import tempfile

    from cuckoofilter_spark.sources.tokens import VOCAB, synth_tokens_df
    from cuckoofilter_spark.streaming.incremental import StreamingSketchBuilder

    params = CuckooParams(max_table_size=4 * VOCAB, bits_per_fp=16)
    head = np.arange(0, 1000, dtype=np.int64)
    negs = np.arange(VOCAB + NEG_LO, VOCAB + NEG_LO + NEG_N, dtype=np.int64)
    with tempfile.TemporaryDirectory() as td:
        src = f"{td}/src"
        (synth_tokens_df(spark, TOKING_DOCS, seed=42, num_partitions=8)
         .write.parquet(src))
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 2).parquet(src))
        b = StreamingSketchBuilder(new_filter(params), "tokens",
                                   state_dir=f"{td}/state")
        q = (b.attach(stream).option("checkpointLocation", f"{td}/ckpt")
             .trigger(availableNow=True).start())
        _await_stream(q, 300)

        found = int(b.sketch.contains(head).sum())
        n_fp = int(b.sketch.contains(negs).sum())
        b2 = StreamingSketchBuilder(new_filter(params), "tokens",
                                    state_dir=f"{td}/state")
        resume_ok = (
            b2.last_batch_id == b.last_batch_id
            and b2.sketch is not None
            and bool((b2.sketch.contains(head) == b.sketch.contains(head)).all())
            and bool((b2.sketch.contains(negs) == b.sketch.contains(negs)).all()))
        return _bool_row(
            spark,
            n_docs=TOKING_DOCS,
            multi_batch=(b.last_batch_id >= 1),
            head_all_found=(found == len(head)),
            fpr_within_bound=(n_fp / NEG_N <= params.fpr_bound),
            resume_restores_state=resume_ok,
        )


SQL_STREAMING_TOKENS_INGEST = f"""
SELECT CAST(TRUE AS BOOLEAN) AS fpr_within_bound,
       CAST(TRUE AS BOOLEAN) AS head_all_found,
       CAST(TRUE AS BOOLEAN) AS multi_batch,
       CAST({TOKING_DOCS} AS BIGINT) AS n_docs,
       CAST(TRUE AS BOOLEAN) AS resume_restores_state
"""


TOKPACK_DOCS, TOKPACK_SEQ = 400, 256


def q_tokens_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the PRE-TOKENIZED input_hint table: the
    token stream of 400 synthesized sequences (doc-index order) cut into
    256-token training chunks via the sketch-bucketed prefix sum
    (operators/pipeline.pack_chunks, tokens_col path — no text detour).
    Gates: token conservation, chunk count = ceil(total/seq_len), every
    chunk full except (at most) the final one.  The num_buckets
    PARTITIONING-INVARIANCE proof (8-bucket and 32-bucket builds produce
    byte-identical chunk relations — the packing analog of the north
    rule's identical-estimates-at-N-and-4N obligation) lives in pytest
    (`test_pipeline.test_tokens_pack_bucket_invariance`), so the oracle
    query runs ONE pack pipeline, not two."""
    from cuckoofilter_spark.operators.pipeline import pack_chunks
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    toks = (synth_tokens_df(spark, TOKPACK_DOCS, seed=42, num_partitions=8)
            .withColumn("_ord", F.substring("doc_id", 4, 8).cast("long")))
    a = pack_chunks(toks, TOKPACK_SEQ, order_col="_ord",
                    tokens_col="tokens", num_buckets=32)
    total = int(toks.agg(F.sum("n_tok")).collect()[0][0])
    sa = a.agg(
        F.count("*").alias("nc"), F.sum("n_tok").alias("st"),
        F.sum(F.when(F.col("n_tok") != TOKPACK_SEQ, 1).otherwise(0))
        .alias("npartial"),
        F.max(F.when(F.col("n_tok") != TOKPACK_SEQ, F.col("chunk_id")))
        .alias("partial_id"),
        F.max("chunk_id").alias("maxid")).collect()[0]

    want_partial = 1 if total % TOKPACK_SEQ else 0
    return _bool_row(
        spark,
        n_docs=TOKPACK_DOCS,
        seq_len=TOKPACK_SEQ,
        tokens_conserved=(int(sa["st"]) == total),
        chunk_count_ok=(int(sa["nc"]) == -(-total // TOKPACK_SEQ)),
        only_last_chunk_partial=(
            int(sa["npartial"]) == want_partial
            and (want_partial == 0 or int(sa["partial_id"]) == int(sa["maxid"]))),
    )


SQL_TOKENS_PACK = f"""
SELECT CAST(TRUE AS BOOLEAN) AS chunk_count_ok,
       CAST({TOKPACK_DOCS} AS BIGINT) AS n_docs,
       CAST(TRUE AS BOOLEAN) AS only_last_chunk_partial,
       CAST({TOKPACK_SEQ} AS BIGINT) AS seq_len,
       CAST(TRUE AS BOOLEAN) AS tokens_conserved
"""


# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# training-data pipeline: decontamination / packing / sampling / bucketing
# (operators/pipeline.py — beyond the reference surface, first-class per brief)
# ---------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 10 != 0) that
    share any word 5-gram with the held-out eval slice (doc_id % 10 == 0),
    with the overlap count.  The cuckoo filter is the scale lever: the
    eval gram set becomes a ~2 B/gram broadcast filter that prunes the
    full training gram stream in a narrow map (zero false negatives,
    CF/cuckoo_filter.h:278-301 — contamination cannot slip through)
    before the exact verify join sees a row.  Exact: the ε false
    positives are killed by the verify join, so the result equals the
    plain gram-join oracle."""
    from cuckoofilter_spark.operators.pipeline import decontaminate

    docs = _fan_out(T(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return decontaminate(spark, train, bench, n=5)


SQL_DECONTAMINATE = """
WITH sh AS (
  SELECT DISTINCT doc_id, g AS gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(string_split(text,' ')) - 4),
             i -> string_split(text,' ')[i+1] || chr(1) ||
                  string_split(text,' ')[i+2] || chr(1) ||
                  string_split(text,' ')[i+3] || chr(1) ||
                  string_split(text,' ')[i+4] || chr(1) ||
                  string_split(text,' ')[i+5])) AS g
    FROM documents WHERE len(string_split(text,' ')) >= 5))
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM sh t
JOIN (SELECT DISTINCT gram FROM sh WHERE doc_id % 10 = 0) b USING (gram)
WHERE t.doc_id % 10 <> 0
GROUP BY t.doc_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing placement: concatenate documents in doc_id order
    into one global token stream, cut into 256-token context windows;
    emit each doc's global offset and the chunk span it lands in.  The
    global exclusive prefix sum is NOT a bare ``ORDER BY`` window (which
    Spark executes in ONE task) — it is the two-phase sketch-bucketed
    prefix sum of operators/pipeline.py: KLL-balanced range buckets,
    per-bucket totals to the driver (num_buckets rows), per-bucket local
    cumsum.  Exact vs the window-function oracle."""
    from cuckoofilter_spark.operators.pipeline import pack_sequences

    docs = T(spark, sf_dir, "documents")
    wdocs = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    return pack_sequences(wdocs, seq_len=256, num_buckets=16)


SQL_PACK_SEQUENCES = """
WITH w AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
           FROM documents),
o AS (SELECT doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM w)
SELECT doc_id, n_tok, CAST(off AS BIGINT) AS offset,
       CAST(floor(off / 256) AS BIGINT) AS chunk_first,
       CAST(floor((off + greatest(n_tok, 1) - 1) / 256) AS BIGINT) AS chunk_last,
       CAST(floor((off + greatest(n_tok, 1) - 1) / 256)
            - floor(off / 256) + 1 AS BIGINT) AS n_chunks
FROM o
"""


def q_packed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized sequence packing: the corpus word stream (doc_id
    order) cut into 256-token chunks, each chunk value-proved by the md5
    of its joined token text.  One corpus-sized shuffle keyed by
    chunk_id (fixed-size chunks ⇒ skew-impossible); offsets come from
    the slim two-phase prefix sum, never moving the payload through
    Python.  Exact vs the unnest-with-ordinality oracle."""
    from cuckoofilter_spark.operators.pipeline import pack_chunks

    docs = T(spark, sf_dir, "documents")
    return pack_chunks(docs, seq_len=256, num_buckets=16)


SQL_PACKED_CHUNKS = """
WITH w AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        FROM documents)),
tok AS (
  SELECT CAST(floor((w.off + u.p - 1) / 256) AS BIGINT) AS chunk_id,
         w.off + u.p - 1 AS pos, u.w
  FROM w JOIN (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS p
    FROM documents) u USING (doc_id))
SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
       md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
FROM tok GROUP BY chunk_id
"""


def q_packed_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator composition: one training EPOCH = deterministic corpus
    shuffle (salted-hash order) feeding sequence packing — chunks are cut
    over the PERMUTED document stream, so each epoch's packed sequences
    differ by a salt change alone.  `pack_chunks(shuffle_rank(docs),
    order_col="shuffle_rank")` verbatim; md5 content proofs as in
    `packed_chunks`."""
    from cuckoofilter_spark.operators.pipeline import pack_chunks, shuffle_rank

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    ranked = shuffle_rank(docs, "doc_id", salt="epoch1", num_buckets=16)
    return pack_chunks(ranked, seq_len=256, order_col="shuffle_rank",
                       num_buckets=16)


SQL_PACKED_EPOCH = """
WITH r AS (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '|epoch1'), 1, 15),
                    doc_id) - 1 AS rk
  FROM documents),
w AS (
  SELECT rk, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY rk
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM (SELECT rk, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        FROM r)),
tok AS (
  SELECT CAST(floor((w.off + u.p - 1) / 256) AS BIGINT) AS chunk_id,
         w.off + u.p - 1 AS pos, u.w
  FROM w JOIN (
    SELECT rk, unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS p
    FROM r) u USING (rk))
SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
       md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
FROM tok GROUP BY chunk_id
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source keep rates
    (20/40/60/80% by source index mod 4) applied as an md5-threshold on
    the doc key — reproducible across runs/engines/partitionings (the
    oracle recomputes the *identical* sample in SQL, which no RNG-state
    sample could), stable under corpus growth, and shuffle-free (broadcast
    rate map + narrow filter)."""
    from cuckoofilter_spark.operators.pipeline import stratified_sample

    docs = T(spark, sf_dir, "documents")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    rates = {s: [0.2, 0.4, 0.6, 0.8][int(s[3:]) % 4] for s in sources}
    return stratified_sample(docs, "source", rates).select("doc_id", "source")


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|v1'), 1, 8) <
      CASE CAST(substr(source, 4) AS INT) % 4
        WHEN 0 THEN '33333333' WHEN 1 THEN '66666666'
        WHEN 2 THEN '99999999' ELSE 'cccccccc' END
"""


def q_sql_sketch_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketches as plain SQL TEXT: grouped-agg Arrow UDAFs
    (functions.register_sketch_aggs) make ``hll_ndv(col)`` and
    ``kll_quantile(col, q)`` first-class SQL aggregates —
    ``spark.sql("SELECT key, hll_ndv(v), kll_quantile(v, .5) …GROUP BY
    key")`` with no DataFrame code.  Gated per key: HLL within 3σ of the
    exact distinct count, and the median estimate's exact rank within
    3× KLL rank error of 0.5."""
    from cuckoofilter_spark.functions import register_sketch_aggs
    from cuckoofilter_spark.sketches.kll import KLLSketch

    register_sketch_aggs(spark)
    T(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    est = spark.sql("""
        SELECT event_type, hll_ndv(user_id) AS ndv_est,
               kll_quantile(value, 0.5) AS med_est
        FROM events_v GROUP BY event_type
    """)
    ev = T(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("ndv"), F.count("*").alias("n"))
    ranks = (est.join(ev.select("event_type", "value"), "event_type")
             .groupBy("event_type", "ndv_est", "med_est")
             .agg(F.sum(F.when(F.col("value") <= F.col("med_est"), 1)
                        .otherwise(0)).alias("r")))
    rel = 3 * 1.04 / (1 << 12) ** 0.5
    rb = 3 * KLLSketch(k=200).rank_error
    joined = ranks.join(exact, "event_type")
    return joined.select(
        "event_type", F.col("ndv").cast("long").alias("exact_ndv"),
        (F.abs(F.col("ndv_est") - F.col("ndv")) / F.col("ndv") <= rel)
        .alias("ndv_within_3sigma"),
        (F.abs(F.col("r") / F.col("n") - 0.5) <= rb)
        .alias("median_within_rank_bound"),
    ).orderBy("event_type")


SQL_SQL_SKETCH_AGG = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_ndv,
       CAST(TRUE AS BOOLEAN) AS ndv_within_3sigma,
       CAST(TRUE AS BOOLEAN) AS median_within_rank_bound
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every doc ranked by the
    salted md5 of its key — reproducible across engines (the oracle
    derives the identical permutation with a window function), epoch
    re-shuffles are a salt change.  The rank is the bucketed prefix sum
    over hash order (operators/pipeline.prefix_sum with unit weights) —
    no single-task global sort, no rand()."""
    from cuckoofilter_spark.operators.pipeline import shuffle_rank

    docs = T(spark, sf_dir, "documents").select("doc_id")
    return shuffle_rank(docs, "doc_id", salt="shuf1", num_buckets=16)


SQL_CORPUS_SHUFFLE = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '|shuf1'), 1, 15),
                  doc_id) - 1 AS BIGINT) AS shuffle_rank
FROM documents
"""


def q_balanced_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-balanced range bucketing (the engine's repartitionByRange):
    16 buckets over orders.o_totalprice from one merged KLL's boundary
    quantiles.  Gates: the buckets form a partition of the relation
    (counts sum to n), bounds strictly ascend, every realized bucket
    count is within the sketch's guarantee (each boundary rank off by
    ≤ 3ε·n ⇒ each bucket within n/16 ± 6ε·n)."""
    from cuckoofilter_spark.operators.pipeline import quantile_buckets

    B = 16
    orders = T(spark, sf_dir, "orders").select("o_totalprice")
    bounds, bucketed, sk = quantile_buckets(orders, "o_totalprice", B, k=512)
    counts = {r["bucket"]: r["cnt"] for r in
              bucketed.groupBy("bucket").agg(F.count("*").alias("cnt"))
              .collect()}
    n = sum(counts.values())
    slack = 6 * sk.rank_error * n
    return _bool_row(
        spark,
        n_rows=n,
        covers_all_rows=(orders.count() == n),
        bounds_ascending=all(a < b for a, b in zip(bounds, bounds[1:])),
        all_buckets_within_bound=all(
            abs(counts.get(b, 0) - n / B) <= slack for b in range(B)),
    )


SQL_BALANCED_BUCKETS = """
SELECT CAST(TRUE AS BOOLEAN) AS all_buckets_within_bound,
       CAST(TRUE AS BOOLEAN) AS bounds_ascending,
       CAST(TRUE AS BOOLEAN) AS covers_all_rows,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality signals (top-word
    share, duplicate 2-/3-gram share, ×1e4 integer-exact) — the
    repetition-removal family of pretraining filters.  Shuffle-FREE plan:
    per-doc multiplicities via ``array_sort`` + O(n) JVM ``aggregate``
    passes, never explode+groupBy, so at 100 TB the stage is a narrow map
    over the scan.  The oracle recomputes every ratio with explode-style
    SQL — structurally different arithmetic path, identical integers."""
    return TX.repetition_signals(T(spark, sf_dir, "documents"))


SQL_REPETITION_SIGNALS = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents),
wc AS (
  SELECT doc_id, MAX(c) AS maxw FROM (
    SELECT doc_id, w, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(ws) AS w FROM base)
    GROUP BY doc_id, w)
  GROUP BY doc_id),
g2 AS (
  SELECT doc_id, SUM(c) FILTER (WHERE c >= 2) AS dup, SUM(c) AS tot FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                     i -> ws[i] || chr(1) || ws[i + 1])) AS g
      FROM base)
    GROUP BY doc_id, g)
  GROUP BY doc_id),
g3 AS (
  SELECT doc_id, SUM(c) FILTER (WHERE c >= 2) AS dup, SUM(c) AS tot FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
                     i -> ws[i] || chr(1) || ws[i + 1] || chr(1) || ws[i + 2])) AS g
      FROM base)
    GROUP BY doc_id, g)
  GROUP BY doc_id)
SELECT b.doc_id, b.n AS n_words,
       CAST(floor(wc.maxw * 10000 / b.n) AS BIGINT) AS top_word_frac_x1e4,
       CAST(COALESCE(floor(g2.dup * 10000 / g2.tot), 0) AS BIGINT) AS dup_2gram_frac_x1e4,
       CAST(COALESCE(floor(g3.dup * 10000 / g3.tot), 0) AS BIGINT) AS dup_3gram_frac_x1e4,
       (CAST(floor(wc.maxw * 10000 / b.n) AS BIGINT) > 2000 OR
        CAST(COALESCE(floor(g3.dup * 10000 / g3.tot), 0) AS BIGINT) > 3000) AS repetitive
FROM base b JOIN wc USING (doc_id)
LEFT JOIN g2 USING (doc_id)
LEFT JOIN g3 USING (doc_id)
"""


def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (α = 0.5, the XLM-R/mT5
    p_s ∝ n_s^α re-balancing): each source keeps rate q_min/q_s with
    q_s = floor(√n_s), applied as a PURE-INTEGER comparison on a content
    hash (h·q_s < 2^32·q_min) — so the sample is bit-reproducible across
    engines/partitionings and stable under reruns, unlike RNG sampling.
    Plan: tiny per-source count agg, broadcast back, narrow filter — no
    data shuffle at 100 TB.

    The synthetic corpus is perfectly source-balanced (all rates would be
    1), so the query first folds src0–src9 into one 10×-larger 'web'
    stratum — the mixer must then keep the small sources whole while
    cutting 'web' to ≈ q_small/q_web of itself."""
    from cuckoofilter_spark.operators.pipeline import mix_sources

    docs = T(spark, sf_dir, "documents").withColumn(
        "stratum",
        F.when(F.substring("source", 4, 8).cast("int") < 10, F.lit("web"))
        .otherwise(F.col("source")))
    return mix_sources(docs, stratum_col="stratum").select(
        "doc_id", "source", "stratum")


SQL_MIX_SOURCES = """
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN CAST(substr(source, 4) AS INT) < 10
              THEN 'web' ELSE source END AS stratum
  FROM documents),
c AS (
  SELECT stratum, CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS q
  FROM d GROUP BY stratum),
m AS (SELECT MIN(q) AS qmin FROM c)
SELECT d.doc_id, d.source, d.stratum
FROM d JOIN c USING (stratum) CROSS JOIN m
WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || '|mix1'), 1, 8)) AS BIGINT) * c.q
      < 4294967296 * m.qmin
"""


def q_rare_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-conditioned rarity (CCNet perplexity-filter analog, exact):
    per-doc share of word bigrams with corpus frequency ≤ 2, integer-scaled.
    Both shuffles move 8-byte bigram hashes only; the oracle re-derives the
    same counts from bigram strings (operators/pipeline.py:rare_bigrams)."""
    from cuckoofilter_spark.operators.pipeline import rare_bigrams

    return rare_bigrams(T(spark, sf_dir, "documents"), rare_max=2)


SQL_RARE_BIGRAMS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(len(ws) - 1),
                    i -> ws[i+1] || chr(1) || ws[i+2])) AS gram
      FROM w WHERE len(ws) >= 2),
c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN c.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(floor(SUM(CASE WHEN c.cnt <= 2 THEN 1 ELSE 0 END) * 10000
                  / COUNT(*)) AS BIGINT) AS rare_ratio_x1e4
FROM g JOIN c USING (gram)
GROUP BY doc_id
"""


def q_events_asof(spark: SparkSession, sf_dir: str,
                  skew_buckets: int | None = None) -> DataFrame:
    """As-of join (operators/asof.py): each event picks up its user's most
    recent order as of the event time — ONE hash shuffle on the key via the
    union+window formulation, never the |events|×|orders-per-user| range
    explosion of the naive inequality join.  Equal-(user, orderdate) ties
    break deterministically to the max o_orderkey; money is cents-integer.
    Exact relational compare vs a DuckDB inequality-join + ROW_NUMBER
    oracle (DuckDB's native ASOF JOIN leaves ties unspecified)."""
    from cuckoofilter_spark.operators.asof import asof_join

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = (T(spark, sf_dir, "orders")
          .select(F.col("o_custkey").alias("user_id"), "o_orderdate",
                  "o_orderkey",
                  F.round(F.col("o_totalprice") * 100).cast("long")
                  .alias("order_cents")))
    joined = asof_join(ev, od, on="user_id", left_ts="ts",
                       right_ts="o_orderdate",
                       value_cols=["o_orderkey", "order_cents"],
                       right_tiebreak="o_orderkey",
                       skew_buckets=skew_buckets)
    return (joined.where(F.col("o_orderkey").isNotNull())
            .select(F.col("event_id").cast("long").alias("event_id"),
                    F.col("user_id").cast("long").alias("user_id"),
                    F.col("o_orderkey").cast("long").alias("o_orderkey"),
                    "order_cents"))


def q_events_asof_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of relation through the hot-key path: skew_buckets=8
    range-cuts the timeline so one key's rows sort across 8 tasks with a
    prefix-carried slice-summary join-back — gated against the identical
    DuckDB oracle as `events_asof`, proving the skew plan changes nothing
    but the parallelism."""
    return q_events_asof(spark, sf_dir, skew_buckets=8)


SQL_EVENTS_ASOF = """
WITH ranked AS (
  SELECT e.event_id, e.user_id, o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS order_cents,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       order_cents
FROM ranked WHERE rn = 1
"""


def q_topk_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy-hitter tokens DIRECTLY on the input_hint table:
    one space-saving sketch per ``source`` (operators/sketch_groupby.
    topk_by_key, salt_buckets=4 exercising the value-hash salted partial
    merge — 'web' holds ~70% of rows), gated per source against the
    Spark-exact top-5: every exact top-5 token present in the sketch with
    est ≤ true ≤ est + err.  The per-key `ORDER BY count DESC LIMIT m`
    that needs a full (source, token) count shuffle at 10^12 rows becomes
    k labeled counters of bounded reducer state per (source, salt)."""
    from pyspark.sql import Window

    from cuckoofilter_spark.operators.sketch_groupby import topk_by_key
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    toks = synth_tokens_df(spark, 1000, seed=42, num_partitions=8)
    ex = toks.select("source", F.explode("tokens").alias("tok"))

    sk_rows = topk_by_key(ex, "source", "tok", k=4096, m=4096,
                          salt_buckets=4).collect()
    est = {(r["source"], r["item"]): (r["est"], r["err"]) for r in sk_rows}

    w = Window.partitionBy("source").orderBy(F.desc("true_cnt"), F.asc("tok"))
    top = (ex.groupBy("source", "tok").agg(F.count("*").alias("true_cnt"))
           .withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") <= 5).collect())
    ok_found, ok_bound = {}, {}
    for r in top:
        s, key = r["source"], (r["source"], str(r["tok"]))
        e = est.get(key)
        ok_found[s] = ok_found.get(s, True) and e is not None
        ok_bound[s] = ok_bound.get(s, True) and (
            e is not None and 0 < e[0] <= r["true_cnt"] <= e[0] + e[1])
    rows = [(s, ok_found[s], ok_bound[s]) for s in sorted(ok_found)]
    return spark.createDataFrame(
        rows, "source string, top5_present boolean, bounds_hold boolean")


SQL_TOPK_TOKENS_BY_SOURCE = """
SELECT s AS source, CAST(TRUE AS BOOLEAN) AS top5_present,
       CAST(TRUE AS BOOLEAN) AS bounds_hold
FROM (VALUES ('books'), ('code'), ('web'), ('wiki')) AS t(s)
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by integer-exact TF-IDF
    rank: score = (tf · 1e8) DIV doc_freq — a monotone transform of tf/df
    (the idf log doesn't change per-document order for fixed N), kept in
    int64 so both engines agree bit-for-bit.  Plan: map-side-combined tf
    count, vocabulary-sized df aggregate joined back on the term (AQE
    broadcasts when the vocab fits), rank-limit window per doc (Spark 4
    WindowGroupLimit pushes the top-3 map-side).  Deterministic ties:
    (score desc, term asc)."""
    from pyspark.sql import Window

    docs = T(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_x1e8"), F.asc("term"))
    return (tf.join(dfreq, "term")
            .withColumn("score_x1e8",
                        F.expr("tf * 100000000L DIV doc_freq"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select(F.col("doc_id").cast("long").alias("doc_id"), "term",
                    F.col("tf").cast("long").alias("tf"),
                    F.col("doc_freq").cast("long").alias("doc_freq"),
                    F.col("score_x1e8").cast("long").alias("score_x1e8")))


SQL_TFIDF_TERMS = """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term),
s AS (SELECT doc_id, term, tf, doc_freq,
             (tf * 100000000) // doc_freq AS score_x1e8,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY (tf * 100000000) // doc_freq DESC, term ASC) AS rn
      FROM tf JOIN df USING (term))
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, CAST(tf AS BIGINT) AS tf,
       CAST(doc_freq AS BIGINT) AS doc_freq,
       CAST(score_x1e8 AS BIGINT) AS score_x1e8
FROM s WHERE rn <= 3
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary CONTAMINATION MATRIX on the input_hint
    table: Jaccard similarity of token vocabularies for every source pair,
    estimated from one KMV bottom-k sketch per source — ALL sources built
    in a single grouped sketch aggregation (``kmv_by_key``), not an
    S-job driver loop — and gated against the Spark-exact Jaccard, itself
    ONE distributed plan (vocab self-join on token → per-pair intersection
    counts), not S² per-pair jobs.  Job count is constant in S; the only
    driver-side data is S sketch blobs (S·k·8 bytes) and the S²/2 pair
    counters.  KMV intersection works on the shared bottom-k sample
    (theta-sketch style), so the error stays relative to the INTERSECTION,
    which is what a contamination check needs."""
    from cuckoofilter_spark.operators.sketch_groupby import kmv_by_key
    from cuckoofilter_spark.sketches.kmv import KMVSketch, kmv_jaccard_estimate
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    K = 4096
    toks = synth_tokens_df(spark, 1000, seed=42, num_partitions=8)
    ex = toks.select("source", F.explode("tokens").alias("tok"))
    # one job: every source's KMV sketch from one grouped aggregation
    sk = {r["source"]: KMVSketch.from_bytes(bytes(r["blob"]))
          for r in kmv_by_key(ex, "source", "tok", k=K, seed=3,
                              salt_buckets=8).collect()}
    # exact gate, one distributed plan: distinct (source, tok) vocabulary,
    # per-source sizes + token self-join for every pair's intersection
    vocab = ex.distinct().persist()
    try:
        ndv = {r["source"]: r["ndv"]
               for r in vocab.groupBy("source")
               .agg(F.count("*").alias("ndv")).collect()}
        a, b = vocab.alias("a"), vocab.alias("b")
        inter = {(r["src_a"], r["src_b"]): r["n_i"]
                 for r in a.join(b, (F.col("a.tok") == F.col("b.tok")) &
                                 (F.col("a.source") < F.col("b.source")))
                 .groupBy(F.col("a.source").alias("src_a"),
                          F.col("b.source").alias("src_b"))
                 .agg(F.count("*").alias("n_i")).collect()}
    finally:
        vocab.unpersist()
    sources = sorted(ndv)
    rows = []
    for i, sa in enumerate(sources):
        for sb in sources[i + 1:]:
            n_i = inter.get((sa, sb), 0)
            n_u = ndv[sa] + ndv[sb] - n_i  # inclusion-exclusion
            j_exact = n_i / n_u
            j_est = kmv_jaccard_estimate(sk[sa], sk[sb])
            rel = 6 * max(sk[sa].rel_error, sk[sb].rel_error)
            rows.append((sa, sb, bool(abs(j_est - j_exact) <= rel)))
    return spark.createDataFrame(
        rows, "src_a string, src_b string, within_bound boolean")


SQL_SOURCE_OVERLAP = """
SELECT src_a, src_b, CAST(TRUE AS BOOLEAN) AS within_bound
FROM (VALUES
  ('books', 'code'), ('books', 'web'), ('books', 'wiki'),
  ('code', 'web'), ('code', 'wiki'), ('web', 'wiki'))
  AS t(src_a, src_b)
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (operators/text.pii_scrub): emails / phones /
    IPv4s → typed placeholders with per-category counts, as a pure JVM
    narrow map (chained regexp_replace/regexp_count in whole-stage
    codegen — shuffle-free at any corpus size).  PII is planted IN-PLAN on
    every 10th document (both engines construct the identical augmented
    text), and the gate is the md5 of the scrubbed text itself — the
    redaction must agree byte-for-byte with DuckDB running the same
    Java∩RE2-subset patterns."""
    from cuckoofilter_spark.operators.text import pii_scrub

    docs = T(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"), F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567 from 10.0.0."),
        (F.col("doc_id") % 250).cast("string"))
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, planted)
        .otherwise(F.col("text")).alias("text"))
    return (pii_scrub(aug, "text")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_email").cast("long").alias("n_email"),
                    F.col("n_phone").cast("long").alias("n_phone"),
                    F.col("n_ip").cast("long").alias("n_ip"),
                    F.md5(F.encode("scrubbed", "UTF-8")).alias("scrubbed_md5")))


SQL_PII_SCRUB = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-123-4567 from 10.0.0.'
                   || CAST(doc_id % 250 AS VARCHAR)
              ELSE text END AS text
  FROM documents),
s AS (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')
         AS scrubbed
  FROM aug)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text,
         '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text,
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ip,
       md5(scrubbed) AS scrubbed_md5
FROM s
"""


def q_events_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup (the hypertable-style day × event_type grid):
    event count, distinct users, and cents-integer value sum per
    (day, event_type).  One map-side-combinable aggregation shuffle on the
    (day, type) grid key — grid cardinality is days × types, so the
    reduced relation is tiny at any corpus size; countDistinct adds the
    standard two-phase expand but keys stay 8-byte.  Exact."""
    ev = T(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("day", F.col("ts").cast("timestamp"))
                       .cast("date").alias("day"), "event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.sum(F.round(F.col("value") * 10000).cast("long"))
                 .cast("long").alias("value_x1e4"))
            .select(F.col("day").cast("string").alias("day"), "event_type",
                    "n_events", "n_users", "value_x1e4"))


SQL_EVENTS_RATE = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value_x1e4
FROM events
GROUP BY date_trunc('day', ts), event_type
"""


# ---------------------------------------------------------------------------
# merged driver entries — the driver's correctness artifact records at most
# 50 queries() entries (CORRECTNESS_r03 covered exactly the first 50 of 71,
# r02 all 46 of 46), so related checks are consolidated below; EVERY check
# from the unmerged suite still runs, inside a merged entry.  Three merge
# shapes, all hash-exact:
#   melt   — heterogeneous gate relations → (metric string, val string)
#            rows, one per (sub-query, key, column); Spark CAST(x AS STRING)
#            and DuckDB CAST(x AS VARCHAR) agree for the BIGINT / BOOLEAN /
#            VARCHAR columns these gates emit (floats are already banned
#            from query outputs repo-wide)
#   union  — same-schema exact relations + a discriminator column
#   join   — same-grain per-doc exact relations joined on doc_id
# The unmerged q_* / SQL_* stay as the pytest-facing building blocks.
# ---------------------------------------------------------------------------


def _melt(name: str, df: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """(metric, val) rows: one per non-key column per row, metric =
    name[.key…].column — the schema-free form that lets heterogeneous
    1-row/keyed gate relations share one driver entry."""
    out = None
    for c in df.columns:
        if c in keys:
            continue
        # NULL keys: coalesce to '' on BOTH sides (concat_ws would silently
        # SKIP a NULL segment while DuckDB's || propagates NULL — see
        # _melt_sql's COALESCE twin) so a nullable key can't hash-mismatch.
        metric = F.concat_ws(
            ".", F.lit(name),
            *[F.coalesce(F.col(k).cast("string"), F.lit("")) for k in keys],
            F.lit(c))
        part = df.select(metric.alias("metric"),
                         F.col(c).cast("string").alias("val"))
        out = part if out is None else out.unionAll(part)
    return out


def _melt_sql(name: str, sql: str, cols: list[str],
              keys: tuple[str, ...] = ()) -> str:
    """DuckDB twin of ``_melt`` over an oracle statement."""
    key_expr = " || '.' || ".join(
        f"COALESCE(CAST({k} AS VARCHAR), '')" for k in keys)
    parts = []
    for c in cols:
        if c in keys:
            continue
        metric = f"'{name}' || '.' || " \
                 + (f"{key_expr} || '.' || " if keys else "") + f"'{c}'"
        parts.append(f"SELECT {metric} AS metric, "
                     f"CAST({c} AS VARCHAR) AS val FROM ({sql})")
    return "\nUNION ALL\n".join(parts)


def q_filter_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuckoo-filter lifecycle gates in one entry: build+FPR bound,
    distributed delete, dynamic-chain growth + compaction, and the Bloom
    companion — each sub-check unchanged (see the q_* building blocks)."""
    return (_melt("cf_build_fpr", q_cf_build_fpr(spark, sf_dir))
            .unionAll(_melt("cf_delete", q_cf_delete(spark, sf_dir)))
            .unionAll(_melt("dcf_compaction", q_dcf_compaction(spark, sf_dir)))
            .unionAll(_melt("bloom_membership",
                            q_bloom_membership(spark, sf_dir))))


SQL_FILTER_GATES = "\nUNION ALL\n".join([
    _melt_sql("cf_build_fpr", SQL_CF_BUILD_FPR,
              ["fpr_within_bound", "n_found", "n_keys", "n_neg",
               "zero_false_negatives"]),
    _melt_sql("cf_delete", SQL_CF_DELETE,
              ["all_deletes_succeeded", "deleted_hits_within_bound",
               "n_deleted", "n_keys", "odds_all_present"]),
    _melt_sql("dcf_compaction", SQL_DCF_COMPACTION,
              ["all_present_after", "all_present_before",
               "compact_not_growing", "grew_chain", "n_inserted"]),
    _melt_sql("bloom_membership", SQL_BLOOM_MEMBERSHIP,
              ["fpp_within_bound", "n_found", "n_keys",
               "zero_false_negatives"]),
])


def q_sketch_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count sketch set operations in one entry: global HLL NDV,
    HLL union/intersection algebra, and theta-style KMV set ops."""
    return (_melt("hll_ndv", q_hll_ndv(spark, sf_dir))
            .unionAll(_melt("hll_set_algebra",
                            q_hll_set_algebra(spark, sf_dir)))
            .unionAll(_melt("kmv_set_ops", q_kmv_set_ops(spark, sf_dir))))


SQL_SKETCH_SET_ALGEBRA = "\nUNION ALL\n".join([
    _melt_sql("hll_ndv", SQL_HLL_NDV, ["exact_ndv", "within_3sigma"]),
    _melt_sql("hll_set_algebra", SQL_HLL_SET_ALGEBRA,
              ["inter_within_bound", "n_a", "n_b", "n_inter", "n_union",
               "union_within_3sigma"]),
    _melt_sql("kmv_set_ops", SQL_KMV_SET_OPS,
              ["n_inter", "n_union", "inter_within_3sigma_relative",
               "union_within_3sigma"]),
])


def q_quantile_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL and t-digest quantile gates — same (q_x100, within_bound)
    relation, discriminated by sketch."""
    a = q_kll_quantiles(spark, sf_dir).select(
        F.lit("kll").alias("sketch"), "*")
    b = q_tdigest_quantiles(spark, sf_dir).select(
        F.lit("tdigest").alias("sketch"), "*")
    return a.unionAll(b)


SQL_QUANTILE_SKETCHES = f"""
SELECT 'kll' AS sketch, * FROM ({_SQL_QUANTILES})
UNION ALL
SELECT 'tdigest' AS sketch, * FROM ({_SQL_QUANTILES})
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-sketch heavy hitters in one entry: count-min point
    queries (keyed by supplier) and space-saving top-k discovery (keyed by
    word)."""
    return (_melt("cms", q_cms_heavy_hitters(spark, sf_dir),
                  keys=("l_suppkey",))
            .unionAll(_melt("topk_words", q_topk_words(spark, sf_dir),
                            keys=("w",))))


SQL_HEAVY_HITTERS = "\nUNION ALL\n".join([
    _melt_sql("cms", SQL_CMS_HEAVY_HITTERS,
              ["l_suppkey", "true_cnt", "overestimate_ok", "within_eps"],
              keys=("l_suppkey",)),
    _melt_sql("topk_words", SQL_TOPK_WORDS,
              ["w", "true_cnt", "present_and_bounded"], keys=("w",)),
])


def q_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free per-doc text analytics in one entry: token/char/BPE-ish
    stats + quality ratios + language id, FUSED into one narrow projection
    (operators/text.text_signals) — one corpus scan, zero joins; a doc_id
    join of the three would plan three scans + two corpus-wide shuffles.
    The oracle joins the three sub-oracles (DuckDB side, where the cost
    doesn't matter)."""
    return TX.text_signals(T(spark, sf_dir, "documents"))


SQL_TEXT_SIGNALS = f"""
SELECT a.*, b.n_stopwords, b.stop_ratio_x1e4, b.len_ok, b.has_stopwords,
       c.lang, c.lang_pred, c.lang_match
FROM ({SQL_TOKEN_STATS}) a
JOIN ({SQL_QUALITY}) b ON a.doc_id = b.doc_id
JOIN ({SQL_LANG_ID}) c ON a.doc_id = c.doc_id
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting in one entry, FUSED into one narrow
    projection (one corpus scan, zero joins): the canonical content md5
    (expression-identical to operators/text.fingerprint) alongside the
    rolling-hash order-sensitivity / rejoin-stability gates
    (expression-identical to q_rolling_fingerprint); a doc_id join of the
    two would scan the corpus twice and shuffle it once."""
    return T(spark, sf_dir, "documents").select(
        "doc_id", TX.content_md5(F.col("text")).alias("fingerprint"),
        *_fingerprint_gates())


SQL_FINGERPRINTS = f"""
SELECT a.*, b.order_sensitive, b.rejoin_stable
FROM ({SQL_FINGERPRINT}) a
JOIN ({SQL_ROLLING_FINGERPRINT}) b ON a.doc_id = b.doc_id
"""


def q_doc_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-conditioned per-doc quality in one entry: Gopher repetition
    signals ⨝ rare-bigram share on doc_id."""
    return (q_repetition_signals(spark, sf_dir)
            .join(q_rare_bigrams(spark, sf_dir), "doc_id"))


SQL_DOC_RARITY = f"""
SELECT a.*, b.n_bigrams, b.n_rare, b.rare_ratio_x1e4
FROM ({SQL_REPETITION_SIGNALS}) a
JOIN ({SQL_RARE_BIGRAMS}) b ON a.doc_id = b.doc_id
"""


def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP and CUBE grouping-set aggregates — same schema,
    discriminated by gset."""
    a = q_orders_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("gset"), "*")
    b = q_orders_cube(spark, sf_dir).select(F.lit("cube").alias("gset"), "*")
    return a.unionAll(b)


SQL_ORDERS_GROUPING_SETS = f"""
SELECT 'rollup' AS gset, * FROM ({SQL_ORDERS_ROLLUP})
UNION ALL
SELECT 'cube' AS gset, * FROM ({SQL_ORDERS_CUBE})
"""


def q_events_asof_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of relation through BOTH physical paths — plain one-shuffle
    window and the skew_buckets=8 hot-key plan — against the same oracle
    relation twice: identical rows under each path label IS the
    plan-changes-nothing proof."""
    a = q_events_asof(spark, sf_dir).select(F.lit("plain").alias("path"), "*")
    b = q_events_asof_skewed(spark, sf_dir).select(
        F.lit("skew").alias("path"), "*")
    return a.unionAll(b)


SQL_EVENTS_ASOF_BOTH = f"""
SELECT 'plain' AS path, * FROM ({SQL_EVENTS_ASOF})
UNION ALL
SELECT 'skew' AS path, * FROM ({SQL_EVENTS_ASOF})
"""


def q_packed_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packing in one entry: the base chunk relation and the
    shuffled-epoch composition — same (chunk_id, n_tok, chunk_md5) schema,
    discriminated by stage."""
    a = q_packed_chunks(spark, sf_dir).select(
        F.lit("pack").alias("stage"), "*")
    b = q_packed_epoch(spark, sf_dir).select(
        F.lit("epoch").alias("stage"), "*")
    return a.unionAll(b)


SQL_PACKED_EPOCHS = f"""
SELECT 'pack' AS stage, * FROM ({SQL_PACKED_CHUNKS})
UNION ALL
SELECT 'epoch' AS stage, * FROM ({SQL_PACKED_EPOCH})
"""


def q_ndv_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key NDV sketch GROUP BY on both grains in one entry: per-event-
    type HLL on events and per-source salted HLL on the input_hint token
    table."""
    return (_melt("hll_by_key", q_hll_ndv_by_key(spark, sf_dir),
                  keys=("event_type",))
            .unionAll(_melt("tokens_by_source",
                            q_tokens_ndv_by_source(spark, sf_dir),
                            keys=("source",))))


SQL_NDV_BY_KEY = "\nUNION ALL\n".join([
    _melt_sql("hll_by_key", SQL_HLL_NDV_BY_KEY,
              ["event_type", "exact_ndv", "within_3sigma"],
              keys=("event_type",)),
    _melt_sql("tokens_by_source", SQL_TOKENS_NDV_BY_SOURCE,
              ["source", "within_3sigma"], keys=("source",)),
])


def q_streaming_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-equivalence gates of the four streaming operators in one
    entry: stateful per-key HLL, watermarked windowed NDV, bounded-state
    cuckoo dedup, and space-saving top-k — each micro-batch fixture runs
    unchanged, and the four streams run CONCURRENTLY (streaming queries
    are async by design; serializing availableNow fixtures just sums
    their stream-startup constants — wall is max, not sum, of the four).
    The session tz is pinned UTC around all four (not inside the windowed
    fixture) so the per-thread conf guard can't race."""
    from concurrent.futures import ThreadPoolExecutor

    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        with ThreadPoolExecutor(max_workers=4) as ex:
            f_ndv = ex.submit(q_streaming_ndv, spark, sf_dir)
            f_win = ex.submit(_windowed_ndv_utc, spark, sf_dir)
            f_dedup = ex.submit(q_streaming_dedup, spark, sf_dir)
            f_topk = ex.submit(q_streaming_topk_words, spark, sf_dir)
            ndv, win = f_ndv.result(), f_win.result()
            dedup, topk = f_dedup.result(), f_topk.result()
    finally:
        spark.conf.set(tz_key, old_tz)
    return (_melt("ndv", ndv, keys=("event_type",))
            .unionAll(_melt("windowed", win, keys=("window_start_epoch",)))
            .unionAll(_melt("dedup", dedup))
            .unionAll(_melt("topk", topk, keys=("w",))))


SQL_STREAMING_SKETCHES = "\nUNION ALL\n".join([
    _melt_sql("ndv", SQL_STREAMING_NDV,
              ["event_type", "exact_ndv", "within_3sigma"],
              keys=("event_type",)),
    _melt_sql("windowed", SQL_STREAMING_WINDOWED_NDV,
              ["window_start_epoch", "exact_ndv", "within_3sigma"],
              keys=("window_start_epoch",)),
    _melt_sql("dedup", SQL_STREAMING_DEDUP,
              ["at_most_once", "drops_within_bound", "n_distinct_users"]),
    _melt_sql("topk", SQL_STREAMING_TOPK_WORDS,
              ["w", "true_cnt", "present_and_bounded"], keys=("w",)),
])


def q_emb_approx_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN accuracy gates in one entry: per-query IVF recall/score checks
    and the RP-LSH near-dup recall/precision summary — both against their
    exact counterparts computed in-plan."""
    return (_melt("ivf", q_emb_topk_ivf(spark, sf_dir), keys=("q_id",))
            .unionAll(_melt("lsh", q_emb_neardup_lsh(spark, sf_dir))))


SQL_EMB_APPROX_GATES = "\nUNION ALL\n".join([
    _melt_sql("ivf", SQL_EMB_TOPK_IVF,
              ["q_id", "recall_ok", "scores_match"], keys=("q_id",)),
    _melt_sql("lsh", SQL_EMB_NEARDUP_LSH,
              ["n_exact", "recall_ok", "no_false_positives"]),
])


def q_pack_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline partitioning gates in one entry: token-table sequence
    packing invariants and KLL-derived balanced range bucketing."""
    return (_melt("tokens_pack", q_tokens_pack(spark, sf_dir))
            .unionAll(_melt("balanced_buckets",
                            q_balanced_buckets(spark, sf_dir))))


SQL_PACK_GATES = "\nUNION ALL\n".join([
    _melt_sql("tokens_pack", SQL_TOKENS_PACK,
              ["chunk_count_ok", "n_docs", "only_last_chunk_partial",
               "seq_len", "tokens_conserved"]),
    _melt_sql("balanced_buckets", SQL_BALANCED_BUCKETS,
              ["all_buckets_within_bound", "bounds_ascending",
               "covers_all_rows", "n_rows"]),
])


def q_corpus_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus selection in one entry, anchored on the full
    shuffle permutation: every doc's shuffle_rank, whether the stratified
    md5-threshold sample kept it, and whether (and into which stratum)
    temperature mixing kept it — all three sub-relations stay exact."""
    sh = q_corpus_shuffle(spark, sf_dir)
    st = q_stratified_sample(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("in_sample"))
    mx = q_mix_sources(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("in_mix"), "stratum")
    return (sh.join(st, "doc_id", "left").join(mx, "doc_id", "left")
            .select("doc_id", "shuffle_rank",
                    F.coalesce("in_sample", F.lit(False)).alias("in_sample"),
                    F.coalesce("in_mix", F.lit(False)).alias("in_mix"),
                    "stratum"))


SQL_CORPUS_SAMPLING = f"""
SELECT sh.doc_id, sh.shuffle_rank,
       st.doc_id IS NOT NULL AS in_sample,
       mx.doc_id IS NOT NULL AS in_mix,
       mx.stratum
FROM ({SQL_CORPUS_SHUFFLE}) sh
LEFT JOIN ({SQL_STRATIFIED_SAMPLE}) st ON sh.doc_id = st.doc_id
LEFT JOIN ({SQL_MIX_SOURCES}) mx ON sh.doc_id = mx.doc_id
"""


def q_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup in one entry: the digest-groupBy keeper relation
    (melted per fingerprint) plus the incremental-ingest survivor set."""
    surv = q_ingest_dedup(spark, sf_dir).select(
        F.concat_ws(".", F.lit("ingest"), F.col("doc_id")).alias("metric"),
        F.lit("survives").alias("val"))
    return _melt("exact", q_exact_dedup(spark, sf_dir),
                 keys=("fingerprint",)).unionAll(surv)


SQL_DEDUP_INGEST = (
    _melt_sql("exact", SQL_EXACT_DEDUP,
              ["fingerprint", "keep_id", "cnt"], keys=("fingerprint",))
    + f"""
UNION ALL
SELECT 'ingest' || '.' || doc_id AS metric, 'survives' AS val
FROM ({SQL_INGEST_DEDUP})
""")


def q_media_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing in one entry: lossless binary round-trip byte
    counts per media row plus the payload-pruned frame-sampling ×
    resize-stage grid."""
    return (_melt("pipeline", q_media_pipeline(spark, sf_dir),
                  keys=("media_id",))
            .unionAll(_melt("frames", q_media_frames(spark, sf_dir),
                            keys=("media_id", "frame_idx"))))


SQL_MEDIA_STAGES = "\nUNION ALL\n".join([
    _melt_sql("pipeline", SQL_MEDIA_PIPELINE,
              ["media_id", "media_type", "n_bytes"], keys=("media_id",)),
    _melt_sql("frames", SQL_MEDIA_FRAMES,
              ["media_id", "frame_idx", "resized_bytes"],
              keys=("media_id", "frame_idx")),
])


QUERIES = {
    "cf_member_parts": q_cf_member_parts,
    "filter_gates": q_filter_gates,
    "tokens_cf_build": q_tokens_cf_build,
    "word_membership": q_word_membership,
    "ngram_membership": q_ngram_membership,
    "routed_membership": q_routed_membership,
    "fasta_kmers": q_fasta_kmers,
    "bloom_pruned_join": q_bloom_pruned_join,
    "sketch_set_algebra": q_sketch_set_algebra,
    "ndv_by_key": q_ndv_by_key,
    "heavy_hitters": q_heavy_hitters,
    "quantile_sketches": q_quantile_sketches,
    "kll_quantiles_by_key": q_kll_quantiles_by_key,
    "sql_sketch_agg": q_sql_sketch_agg,
    "dedup_ingest": q_dedup_ingest,
    "passage_dedup": q_passage_dedup,
    "text_signals": q_text_signals,
    "fingerprints": q_fingerprints,
    "doc_rarity": q_doc_rarity,
    "pii_scrub": q_pii_scrub,
    "media_stages": q_media_stages,
    "incremental_neardup": q_incremental_neardup,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "neardup_clusters": q_neardup_clusters,
    "simhash_dups": q_simhash_dups,
    "clean_corpus": q_clean_corpus,
    "tokens_neardup": q_tokens_neardup,
    "emb_topk": q_emb_topk,
    "emb_neardup": q_emb_neardup,
    "emb_approx_gates": q_emb_approx_gates,
    "events_dedup": q_events_dedup,
    "events_sessionize": q_events_sessionize,
    "events_rate": q_events_rate,
    "events_asof": q_events_asof_both,
    "salted_counts": q_salted_counts,
    "orders_grouping_sets": q_orders_grouping_sets,
    "top_parts_per_brand": q_top_parts_per_brand,
    "decontaminate": q_decontaminate,
    "pack_sequences": q_pack_sequences,
    "packed_epochs": q_packed_epochs,
    "pack_gates": q_pack_gates,
    "corpus_sampling": q_corpus_sampling,
    "tfidf_terms": q_tfidf_terms,
    "topk_tokens_by_source": q_topk_tokens_by_source,
    "source_overlap": q_source_overlap,
    "streaming_sketches": q_streaming_sketches,
    "streaming_tokens_ingest": q_streaming_tokens_ingest,
}

ORACLES = {
    "cf_member_parts": SQL_CF_MEMBER_PARTS,
    "filter_gates": SQL_FILTER_GATES,
    "tokens_cf_build": SQL_TOKENS_CF_BUILD,
    "word_membership": SQL_WORD_MEMBERSHIP,
    "ngram_membership": SQL_NGRAM_MEMBERSHIP,
    "routed_membership": SQL_ROUTED_MEMBERSHIP,
    "fasta_kmers": SQL_FASTA_KMERS,
    "bloom_pruned_join": SQL_BLOOM_PRUNED_JOIN,
    "sketch_set_algebra": SQL_SKETCH_SET_ALGEBRA,
    "ndv_by_key": SQL_NDV_BY_KEY,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "quantile_sketches": SQL_QUANTILE_SKETCHES,
    "kll_quantiles_by_key": SQL_KLL_QUANTILES_BY_KEY,
    "sql_sketch_agg": SQL_SQL_SKETCH_AGG,
    "dedup_ingest": SQL_DEDUP_INGEST,
    "passage_dedup": SQL_PASSAGE_DEDUP,
    "text_signals": SQL_TEXT_SIGNALS,
    "fingerprints": SQL_FINGERPRINTS,
    "doc_rarity": SQL_DOC_RARITY,
    "pii_scrub": SQL_PII_SCRUB,
    "media_stages": SQL_MEDIA_STAGES,
    "incremental_neardup": SQL_INCREMENTAL_NEARDUP,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "minhash_lsh": SQL_MINHASH_LSH,
    "neardup_clusters": SQL_NEARDUP_CLUSTERS,
    "simhash_dups": SQL_SIMHASH_DUPS,
    "clean_corpus": SQL_CLEAN_CORPUS,
    "tokens_neardup": SQL_TOKENS_NEARDUP,
    "emb_topk": SQL_EMB_TOPK,
    "emb_neardup": SQL_EMB_NEARDUP,
    "emb_approx_gates": SQL_EMB_APPROX_GATES,
    "events_dedup": SQL_EVENTS_DEDUP,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "events_rate": SQL_EVENTS_RATE,
    "events_asof": SQL_EVENTS_ASOF_BOTH,
    "salted_counts": SQL_SALTED_COUNTS,
    "orders_grouping_sets": SQL_ORDERS_GROUPING_SETS,
    "top_parts_per_brand": SQL_TOP_PARTS_PER_BRAND,
    "decontaminate": SQL_DECONTAMINATE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "packed_epochs": SQL_PACKED_EPOCHS,
    "pack_gates": SQL_PACK_GATES,
    "corpus_sampling": SQL_CORPUS_SAMPLING,
    "tfidf_terms": SQL_TFIDF_TERMS,
    "topk_tokens_by_source": SQL_TOPK_TOKENS_BY_SOURCE,
    "source_overlap": SQL_SOURCE_OVERLAP,
    "streaming_sketches": SQL_STREAMING_SKETCHES,
    "streaming_tokens_ingest": SQL_STREAMING_TOKENS_INGEST,
}
