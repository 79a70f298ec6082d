"""Multimodal plumbing (stubbed codec, real Spark machinery) and the SQL
registration surface."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_features,
    frame_sample_plan,
    media_stats,
)


@pytest.fixture()
def media_df(spark):
    rows = []
    rng = np.random.default_rng(1)
    for i in range(50):
        mt = ["image", "audio", "video"][i % 3]
        payload = bytes(rng.integers(0, 256, size=200 + i, dtype=np.uint8))
        rows.append((i, payload, mt, 64, 48, 16000 if mt == "audio" else None,
                     30 if mt == "video" else None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(4)


def test_extract_features_shape_and_determinism(spark, media_df):
    out = extract_features(media_df).collect()
    assert len(out) == 50
    for r in out:
        assert len(r["features"]) == FEATURE_DIM
        assert r["n_bytes"] >= 200
    # deterministic across runs / partitionings
    out2 = {r["media_id"]: r["features"] for r in
            extract_features(media_df.repartition(7)).collect()}
    for r in out:
        assert out2[r["media_id"]] == r["features"]


def test_strict_mode_marks_codec_boundary(spark, media_df):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        extract_features(media_df, decode="strict").collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError)


def test_frame_sample_plan(spark, media_df):
    out = frame_sample_plan(media_df, every_n=10).collect()
    vids = media_df.filter(F.col("media_type") == "video").count()
    # 30 frames, every 10th → indices 0,10,20 per video
    assert len(out) == vids * 3


def test_media_stats_prunes_payload(spark, media_df, tmp_path):
    # via parquet so the scan's ReadSchema is observable
    p = str(tmp_path / "media")
    media_df.write.parquet(p)
    df = media_stats(spark.read.parquet(p))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan  # binary column pruned from the scan
    assert df.count() == 3


def test_register_filter_sql(spark, sf_dir):
    from cuckoofilter_spark.functions import register_filter
    from cuckoofilter_spark.operators.build import build_filter
    from cuckoofilter_spark.params import CuckooParams

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_partkey")
    filt = build_filter(li, "l_partkey", CuckooParams(max_table_size=4096),
                        num_partitions=4)
    register_filter(spark, filt, "corpus_contains")
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView("part_v")
    n = spark.sql(
        "SELECT count(*) AS n FROM part_v WHERE corpus_contains(p_partkey)"
    ).collect()[0]["n"]
    assert n == spark.table("part_v").count()  # all parts are members


def test_register_sketch_sql(spark, sf_dir):
    from cuckoofilter_spark.functions import register_sketch
    from cuckoofilter_spark.operators.sketch_build import build_sketch
    from cuckoofilter_spark.sketches.countmin import CountMinSketch

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_suppkey")
    cms = build_sketch(li, "l_suppkey",
                       lambda pid: CountMinSketch(depth=5, width=4096, seed=3),
                       num_partitions=4)
    register_sketch(spark, cms, "supp_freq")
    li.createOrReplaceTempView("li_v")
    rows = spark.sql("""
        SELECT l_suppkey, count(*) AS true_cnt, supp_freq(l_suppkey) AS est
        FROM li_v GROUP BY l_suppkey ORDER BY true_cnt DESC LIMIT 5
    """).collect()
    for r in rows:
        assert r["est"] >= r["true_cnt"]
        assert r["est"] <= r["true_cnt"] + cms.eps * cms.n_items


def test_sketch_udf_cache_does_not_alias_same_header_sketches(spark):
    """Two same-param Bloom (or cuckoo) filters share their serialized
    header; the one per-process probe cache must key on the FULL blob or
    one silently serves the other's answers."""
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.functions.registry import register_sketch
    from cuckoofilter_spark.operators.membership import cf_contains_udf
    from cuckoofilter_spark.params import CuckooParams
    from cuckoofilter_spark.sketches.bloom import BloomFilter

    a = BloomFilter.for_capacity(10_000, fpp=1e-4, seed=11)
    b = BloomFilter.for_capacity(10_000, fpp=1e-4, seed=11)
    ca = DynamicCuckooFilter(CuckooParams(max_table_size=4096))
    cb = DynamicCuckooFilter(CuckooParams(max_table_size=4096))
    for s, lo in ((a, 0), (b, 50_000), (ca, 0), (cb, 50_000)):
        s.update(np.arange(lo, lo + 1000, dtype=np.int64))
    probes = spark.range(0, 1000)
    for ua, ub in ((register_sketch(spark, a, "alias_a"),
                    register_sketch(spark, b, "alias_b")),
                   (cf_contains_udf(spark, ca), cf_contains_udf(spark, cb))):
        assert probes.filter(ua(F.col("id"))).count() == 1000
        assert probes.filter(ub(F.col("id"))).count() <= 3  # FP noise only


def _point_query(spark, shape):
    """(UDF, the probed value that is in its state) for each point-query
    shape; every state holds key 0 (the k-mer placeholder hashes to 0)."""
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.functions.registry import register_sketch
    from cuckoofilter_spark.operators.membership import cf_contains_udf
    from cuckoofilter_spark.params import CuckooParams
    from cuckoofilter_spark.sketches.bloom import BloomFilter
    from cuckoofilter_spark.sketches.countmin import CountMinSketch
    from cuckoofilter_spark.sources.fasta import cf_contains_kmer_udf

    zeros = np.zeros(7, dtype=np.int64)
    if shape in ("cf_contains", "kmer"):
        f = DynamicCuckooFilter(CuckooParams(max_table_size=1024))
        f.update(zeros)
        if shape == "kmer":
            return cf_contains_kmer_udf(spark, f, 4), "\x00" * 4
        return cf_contains_udf(spark, f), 0
    s = (BloomFilter.for_capacity(1000, seed=3) if shape == "bloom"
         else CountMinSketch(depth=4, width=256, seed=3))
    s.update(zeros)
    return register_sketch(spark, s, f"nulltest_{shape}"), 0


@pytest.mark.parametrize("shape", ["cf_contains", "kmer", "bloom", "cms"])
def test_point_query_null_answers_absent(spark, shape):
    """Every build drops NULLs, so every point query answers a NULL probe
    as an absent key — False / 0 — even when its state holds key 0."""
    udf, member = _point_query(spark, shape)
    absent = 0 if shape == "cms" else False
    present = 7 if shape == "cms" else True
    if shape == "cf_contains":
        spark.udf.register("cf_contains_nulltest", udf)
        got = spark.sql(
            "SELECT cf_contains_nulltest(k) AS a FROM VALUES (1, 0L),"
            " (2, CAST(NULL AS BIGINT)), (3, CAST(NULL AS BIGINT)) t(i, k)"
            " ORDER BY i").collect()
    else:
        ktype = "string" if shape == "kmer" else "long"
        df = spark.createDataFrame([(1, member), (2, None), (3, None)],
                                   f"i long, k {ktype}")
        got = df.select(udf(F.col("k")).alias("a")).orderBy("i").collect()
    assert [r["a"] for r in got] == [present, absent, absent]


def test_point_queries_and_aggs_are_arrow_udfs(spark):
    """One Arrow path: every point query is an iterator Arrow UDF and the
    SQL sketch aggregates are grouped-agg Arrow UDAFs — no pandas UDF."""
    from pyspark.util import PythonEvalType

    from cuckoofilter_spark.functions import register_sketch_aggs

    for shape in ("cf_contains", "kmer", "bloom", "cms"):
        udf, _ = _point_query(spark, shape)
        assert udf.evalType == PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF, shape
    for agg in register_sketch_aggs(spark, name_ndv="hll_ndv_evaltest",
                                    name_quantile="kll_q_evaltest"):
        assert agg.evalType == PythonEvalType.SQL_GROUPED_AGG_ARROW_UDF


def test_resize_media_plumbing(spark):
    """binary-in/binary-out resize stage: output payload is exactly
    width*height bytes, deterministic from input, metadata rewritten;
    strict mode raises at the codec boundary."""
    import pytest
    from pyspark.sql import functions as F

    from cuckoofilter_spark.operators.multimodal import resize_media

    docs = spark.range(0, 20).select(
        F.col("id").alias("media_id"),
        F.encode(F.concat(F.lit("payload"), F.col("id")), "UTF-8").alias("payload"),
        F.lit("image").alias("media_type"),
        F.lit(640).cast("int").alias("width"), F.lit(480).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("n_frames"))
    out = resize_media(docs, 64, 48).collect()
    assert all(len(bytes(r["payload"])) == 64 * 48 for r in out)
    assert all(r["width"] == 64 and r["height"] == 48 for r in out)
    again = {r["media_id"]: bytes(r["payload"])
             for r in resize_media(docs, 64, 48).collect()}
    assert all(bytes(r["payload"]) == again[r["media_id"]] for r in out)
    with pytest.raises(Exception, match="NotImplementedError|resampler"):
        resize_media(docs, 8, 8, decode="strict").collect()


def test_stub_features_identical_across_processes():
    """Feature determinism must not depend on PYTHONHASHSEED propagation:
    the stub seeds from a content digest, so two fresh interpreters with
    different hash seeds emit identical vectors (VERDICT r2)."""
    import json
    import os
    import subprocess
    import sys

    prog = ("import json, sys; sys.path.insert(0, '/root/repo'); "
            "from cuckoofilter_spark.operators.multimodal import _stub_decode; "
            "print(json.dumps(_stub_decode(b'payload-bytes-42', 'image').tolist()))")
    outs = []
    for seed in ("1", "1337"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        outs.append(json.loads(subprocess.run(
            [sys.executable, "-c", prog], capture_output=True, text=True,
            check=True, env=env).stdout))
    assert outs[0] == outs[1] and len(outs[0]) == 32
