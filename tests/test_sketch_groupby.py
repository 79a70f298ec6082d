"""Per-key sketch aggregation (batch sketch GROUP BY) and HLL set-operation
estimates."""

import numpy as np
import pyspark.sql.functions as F

from cuckoofilter_spark.operators.sketch_groupby import ndv_by_key
from cuckoofilter_spark.sketches.hll import (
    HyperLogLog,
    intersection_estimate,
    union_estimate,
)


def test_ndv_by_key_within_bound(spark, sf01_dir):
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    got = {r["event_type"]: r["ndv_estimate"]
           for r in ndv_by_key(ev, "event_type", "user_id", p=12).collect()}
    exact = {r["event_type"]: r["ndv"] for r in
             ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("ndv")).collect()}
    rel = 3 * 1.04 / np.sqrt(1 << 12)
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert abs(got[k] - e) / e <= rel


def test_salted_variant_identical_estimates(spark, sf01_dir):
    """Register-max merge is exact: the two-level hot-key variant must
    return the identical estimate per key."""
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    plain = {r["event_type"]: r["ndv_estimate"]
             for r in ndv_by_key(ev, "event_type", "user_id", p=12).collect()}
    salted = {r["event_type"]: r["ndv_estimate"]
              for r in ndv_by_key(ev, "event_type", "user_id", p=12,
                                  salt_buckets=8).collect()}
    assert plain == salted


def test_hll_set_operations():
    a, b = HyperLogLog(p=13, seed=1), HyperLogLog(p=13, seed=1)
    a.update(np.arange(0, 60_000))
    b.update(np.arange(40_000, 100_000))
    u = union_estimate(a, b)
    i = intersection_estimate(a, b)
    assert abs(u - 100_000) / 100_000 <= 3 * a.rel_error
    # intersection error is on the union's scale
    assert abs(i - 20_000) <= 3 * a.rel_error * 100_000
    # non-mutating
    assert abs(a.estimate() - 60_000) / 60_000 <= 3 * a.rel_error


def test_quantiles_by_key_within_rank_bound(spark, sf01_dir):
    from pyspark.sql import functions as F

    from cuckoofilter_spark.operators.sketch_groupby import quantiles_by_key
    from cuckoofilter_spark.sketches.kll import KLLSketch

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet").select("event_type", "value")
    est = quantiles_by_key(ev, "event_type", "value", (0.25, 0.5, 0.75), k=200)
    rows = est.collect()
    assert len(rows) == ev.select("event_type").distinct().count() * 3
    bound = 3 * KLLSketch(k=200).rank_error
    pdf = ev.toPandas()
    for r in rows:
        grp = pdf[pdf["event_type"] == r["event_type"]]["value"]
        rank = (grp <= r["quantile_estimate"]).mean()
        assert abs(rank - r["q_x100"] / 100.0) <= bound, r


def test_sql_udaf_surface(spark, sf01_dir):
    """Grouped-agg Arrow UDAFs registered for SQL: hll_ndv / kll_quantile
    usable in plain SQL GROUP BY text, estimates within bound."""
    from cuckoofilter_spark.functions import register_sketch_aggs
    from pyspark.sql import functions as F

    register_sketch_aggs(spark)
    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    ev.createOrReplaceTempView("events_udaf_t")
    got = spark.sql(
        "SELECT event_type, hll_ndv(user_id) AS ndv,"
        "       kll_quantile(value, 0.5) AS med "
        "FROM events_udaf_t GROUP BY event_type").collect()
    exact = {r["event_type"]: (r["ndv"], r["n"]) for r in
             ev.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("ndv"),
                 F.count("*").alias("n")).collect()}
    rel = 3 * 1.04 / (1 << 12) ** 0.5
    assert len(got) == len(exact)
    for r in got:
        ndv, n = exact[r["event_type"]]
        assert abs(r["ndv"] - ndv) / ndv <= rel
        rank = ev.filter((F.col("event_type") == r["event_type"])
                         & (F.col("value") <= r["med"])).count()
        assert abs(rank / n - 0.5) <= 3 * 2.21 / 200


def test_sql_hll_ndv_ignores_nulls(spark):
    """COUNT(DISTINCT) semantics: NULL is not a value — it must neither
    count as an extra distinct nor conflate with a genuine 0."""
    from cuckoofilter_spark.functions import register_sketch_aggs

    register_sketch_aggs(spark, name_ndv="hll_ndv_nulltest",
                         name_quantile="kll_q_nulltest")
    rows = ("VALUES ('a', 1), ('a', CAST(NULL AS BIGINT)), ('a', 1),"
            " ('b', CAST(NULL AS BIGINT)) t(k, v)")
    got = spark.sql(
        "SELECT k, hll_ndv_nulltest(v) AS ndv, kll_q_nulltest(v, 0.5) AS q"
        f" FROM {rows} GROUP BY k ORDER BY k").collect()
    assert [(r["k"], r["ndv"]) for r in got] == [("a", 1), ("b", 0)]
    # an all-NULL group has no quantile: NULL, as in quantiles_by_key
    assert [(r["k"], r["q"]) for r in got] == [("a", 1.0), ("b", None)]
    # the same answers over a window
    win = spark.sql(
        "SELECT DISTINCT k, hll_ndv_nulltest(v) OVER (PARTITION BY k) AS ndv,"
        f" kll_q_nulltest(v, 0.5) OVER (PARTITION BY k) AS q FROM {rows}"
        " ORDER BY k").collect()
    assert [(r["k"], r["ndv"], r["q"]) for r in win] == [("a", 1, 1.0), ("b", 0, None)]



def test_ndv_by_key_ignores_nulls(spark):
    """The per-key sketches follow the same rule: NULL is not a value, so
    ndv_by_key agrees with COUNT(DISTINCT), salted or not, and an all-NULL
    key still gets quantiles_by_key's rows, with NULL estimates."""
    from cuckoofilter_spark.operators.sketch_groupby import quantiles_by_key

    df = spark.sql(
        "SELECT * FROM VALUES ('a', 1), ('a', CAST(NULL AS BIGINT)), ('a', 1),"
        " ('b', CAST(NULL AS BIGINT)) t(k, v)")
    for salt in (None, 4):
        got = ndv_by_key(df, "k", "v", salt_buckets=salt).orderBy("k").collect()
        assert [(r["k"], r["ndv_estimate"]) for r in got] == [("a", 1), ("b", 0)]
    q = quantiles_by_key(df, "k", "v").filter("k = 'b'").orderBy("q_x100")
    assert [(r["q_x100"], r["quantile_estimate"]) for r in q.collect()] == [
        (25, None), (50, None), (75, None)]

def _topk_exact(ex):
    return {(r["source"], str(r["tok"])): r["c"] for r in
            ex.groupBy("source", "tok").agg(F.count("*").alias("c")).collect()}


def test_topk_by_key_guarantee_and_top_present(spark):
    """Every emitted (key, item) honors est ≤ true ≤ est + err, and each
    key's exact top-3 is present — under a k small enough to force prunes."""
    from cuckoofilter_spark.operators.sketch_groupby import topk_by_key
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    ex = (synth_tokens_df(spark, 300, seed=11, num_partitions=4)
          .select("source", F.explode("tokens").alias("tok")))
    exact = _topk_exact(ex)
    rows = topk_by_key(ex, "source", "tok", k=64, m=64).collect()
    assert any(r["err"] > 0 for r in rows)  # prunes actually happened
    by_key = {}
    for r in rows:
        true = exact[(r["source"], r["item"])]
        assert 0 < r["est"] <= true <= r["est"] + r["err"]
        by_key.setdefault(r["source"], set()).add(r["item"])
    for src in by_key:
        top3 = sorted(((c, k) for (s, k), c in exact.items() if s == src),
                      reverse=True)[:3]
        assert {k for _, k in top3} <= by_key[src]


def test_topk_by_key_salted_guarantee_holds(spark):
    """Value-hash salting keeps per-value partial counts exact, so the
    merged sketch still honors the deterministic bound per key."""
    from cuckoofilter_spark.operators.sketch_groupby import topk_by_key
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    ex = (synth_tokens_df(spark, 300, seed=11, num_partitions=4)
          .select("source", F.explode("tokens").alias("tok")))
    exact = _topk_exact(ex)
    for r in topk_by_key(ex, "source", "tok", k=64, m=64,
                         salt_buckets=4).collect():
        true = exact[(r["source"], r["item"])]
        assert 0 < r["est"] <= true <= r["est"] + r["err"]



def test_topk_by_key_salted_partials_fold_in_salt_order(spark):
    """Space-saving merge depends on order, so the salted per-key merge
    folds the (key, salt) partials in ascending salt order, never in
    shuffle-arrival order: a local fold of the same partials by ascending
    salt reproduces the operator's rows exactly, and the reverse order
    gives a different answer on this data."""
    from cuckoofilter_spark.operators.sketch_groupby import topk_by_key
    from cuckoofilter_spark.sketches.spacesaving import SpaceSavingSketch
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    ex = (synth_tokens_df(spark, 300, seed=11, num_partitions=4)
          .select("source", F.explode("tokens").alias("tok")))
    parts = {}
    for r in (ex.groupBy("source", F.pmod(F.xxhash64("tok"), F.lit(4)).alias("salt"))
              .agg(F.collect_list("tok").alias("vs")).collect()):
        parts.setdefault(r["source"], {})[r["salt"]] = r["vs"]

    def fold(reverse):
        rows = []
        for src, by_salt in parts.items():
            acc = None
            for salt in sorted(by_salt, reverse=reverse):
                sk = SpaceSavingSketch(k=8)
                sk.update(np.asarray(by_salt[salt]))
                acc = sk if acc is None else acc.merge(sk)
            rows += [(src, str(i), c, acc.err) for i, c in acc.top(8)]
        return sorted(rows)

    got = sorted((r["source"], r["item"], r["est"], r["err"]) for r in
                 topk_by_key(ex, "source", "tok", k=8, m=8,
                             salt_buckets=4).collect())
    assert any(err > 0 for *_, err in got)  # prunes actually happened
    assert got == fold(reverse=False)
    assert got != fold(reverse=True)

def test_topk_by_key_no_prune_is_exact(spark):
    """k larger than the key's value cardinality → est == true, err == 0."""
    from cuckoofilter_spark.operators.sketch_groupby import topk_by_key

    df = spark.createDataFrame(
        [("a", i % 7) for i in range(100)] + [("b", 1)] * 10, "k string, v int")
    rows = topk_by_key(df, "k", "v", k=64, m=64).collect()
    exact = {(r["k"], str(r["v"])): r["c"] for r in
             df.groupBy("k", "v").agg(F.count("*").alias("c")).collect()}
    assert len(rows) == len(exact)
    for r in rows:
        assert r["err"] == 0 and r["est"] == exact[(r["k"], r["item"])]


def test_kmv_by_key_salted_bit_identical_and_merge_exact(spark, sf01_dir):
    """kmv_by_key (VERDICT r3 #2's single-job per-key KMV build): the
    salted hot-key variant returns BIT-IDENTICAL blobs per key (KMV merge
    is a set union), and each key's sketch equals a local bottom-k build
    over that key's exact value set."""
    from cuckoofilter_spark.operators.sketch_groupby import kmv_by_key
    from cuckoofilter_spark.sketches.kmv import KMVSketch

    ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
    plain = {r["event_type"]: bytes(r["blob"]) for r in
             kmv_by_key(ev, "event_type", "user_id", k=256, seed=3).collect()}
    salted = {r["event_type"]: bytes(r["blob"]) for r in
              kmv_by_key(ev, "event_type", "user_id", k=256, seed=3,
                         salt_buckets=8).collect()}
    assert plain == salted and len(plain) >= 3

    vals = {r["event_type"]: r["vs"] for r in
            ev.groupBy("event_type")
            .agg(F.collect_set("user_id").alias("vs")).collect()}
    for key, blob in plain.items():
        local = KMVSketch(k=256, seed=3)
        local.update(np.asarray(sorted(vals[key]), dtype=np.int64))
        assert KMVSketch.from_bytes(blob).to_bytes() == local.to_bytes()
