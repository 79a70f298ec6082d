"""Structured Streaming: incremental sketch build equals batch build;
per-key stateful HLL matches exact distinct counts within bound."""

import numpy as np
import pytest

from cuckoofilter_spark.sketches.hll import HyperLogLog
from cuckoofilter_spark.streaming.incremental import (
    StreamingSketchBuilder,
    streaming_distinct_by_key,
)


@pytest.fixture()
def token_files(spark, tmp_path):
    """Token corpus written as several parquet files → file-per-trigger
    stream."""
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    path = str(tmp_path / "stream_src")
    synth_tokens_df(spark, n_docs=400, seed=42, num_partitions=4).write.parquet(path)
    return path


def test_incremental_hll_equals_batch(spark, token_files, tmp_path):
    batch_df = spark.read.parquet(token_files)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1).parquet(token_files)
    )

    b = StreamingSketchBuilder(lambda pid: HyperLogLog(p=12, seed=9), "tokens",
                               state_dir=str(tmp_path / "state"))
    q = (b.attach(stream_df)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    # register-max merge is order-invariant → streaming == batch, exactly
    from cuckoofilter_spark.operators.sketch_build import build_sketch

    ref = build_sketch(batch_df, "tokens", lambda pid: HyperLogLog(p=12, seed=9),
                       num_partitions=4)
    assert b.sketch is not None
    assert (b.sketch.registers == ref.registers).all()
    assert b.sketch.estimate() == ref.estimate()


def test_streaming_builder_resumes_from_disk(spark, token_files, tmp_path):
    batch_df = spark.read.parquet(token_files)
    state = str(tmp_path / "state")
    b1 = StreamingSketchBuilder(lambda pid: HyperLogLog(p=12, seed=9), "tokens",
                                state_dir=state)
    b1.process_batch(batch_df, 0)
    # fresh instance (process restart) picks the persisted sketch back up
    b2 = StreamingSketchBuilder(lambda pid: HyperLogLog(p=12, seed=9), "tokens",
                                state_dir=state)
    assert b2.sketch is not None
    assert (b2.sketch.registers == b1.sketch.registers).all()


def test_streaming_distinct_by_key(spark, token_files, tmp_path):
    import pyspark.sql.functions as F

    batch_df = spark.read.parquet(token_files)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 2).parquet(token_files)
    )
    per_key = streaming_distinct_by_key(
        stream_df.select("source", F.explode("tokens").alias("token")),
        key_col="source", value_col="token", p=12)
    q = (per_key.writeStream.format("memory").queryName("ndv_by_key")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)

    # last update per key vs exact
    got = {
        r["key"]: r["ndv_estimate"]
        for r in spark.sql("SELECT * FROM ndv_by_key").collect()
    }
    exact = {
        r["source"]: r["ndv"]
        for r in (batch_df.select("source", F.explode("tokens").alias("t"))
                  .groupBy("source").agg(F.countDistinct("t").alias("ndv")).collect())
    }
    rel = 3 * 1.04 / np.sqrt(1 << 12)
    for k, e in exact.items():
        assert k in got
        assert abs(got[k] - e) / e <= rel, (k, got[k], e)


def test_streaming_distinct_drops_nulls(spark, tmp_path):
    """NULL is not a value: key a = {1, 2, NULL} counts 2 and an all-NULL
    key counts 0 through both streaming HLL operators, exactly as
    countDistinct does (an error of +1 hides inside the HLL bound of the
    ~1000-distinct tests above)."""
    import pyspark.sql.functions as F

    from cuckoofilter_spark.streaming.windowed import windowed_distinct

    src = str(tmp_path / "nulls")
    t0 = 1_700_000_000
    rows = [("a", t0, 1), ("a", t0 + 1, 2), ("a", t0 + 2, None),
            ("b", t0 + 3600, None), ("b", t0 + 3601, None)]
    (spark.createDataFrame(rows, "key string, t long, v long")
     .select("key", F.timestamp_seconds("t").alias("ts"), "v")
     .coalesce(1).write.parquet(src))
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    def run(df, name):
        q = (df.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", str(tmp_path / name))
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(300)
        return spark.sql(f"SELECT * FROM {name}").collect()

    exact = {r["key"]: r["n"] for r in
             batch.groupBy("key").agg(F.countDistinct("v").alias("n")).collect()}
    assert exact == {"a": 2, "b": 0}
    by_key = {r["key"]: r["ndv_estimate"] for r in
              run(streaming_distinct_by_key(stream, "key", "v"), "null_by_key")}
    assert by_key == exact
    by_window = {r["window_start"]: r["ndv_estimate"] for r in
                 run(windowed_distinct(stream, "ts", "v", window="10 minutes",
                                       watermark="6 hours"), "null_by_window")}
    assert sorted(by_window.values()) == [0, 2]


def test_windowed_distinct_with_watermark(spark, tmp_path):
    """Tumbling 10-min windows over event time: per-window streaming NDV
    matches exact distinct counts within the HLL bound."""
    import pyspark.sql.functions as F

    from cuckoofilter_spark.streaming.windowed import windowed_distinct

    src = str(tmp_path / "ev")
    # 3 windows x ~2000 events, several files so the stream has triggers
    (spark.range(6000)
     .select(
         F.timestamp_seconds(1_700_000_000 + (F.col("id") * 3)).alias("ts"),
         (F.col("id") % 997).alias("uid"))
     .repartition(4).write.parquet(src))
    batch = spark.read.parquet(src)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    # files arrive in arbitrary order → a tight watermark would (correctly)
    # drop whole files as late; cover the full disorder so every event is
    # on-time and the accuracy assertion is exact-comparable
    out = windowed_distinct(stream, "ts", "uid", window="10 minutes",
                            watermark="6 hours", p=12)
    q = (out.writeStream.format("memory").queryName("win_ndv")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {}
    for r in spark.sql("SELECT * FROM win_ndv").collect():
        got[r["window_start"]] = r["ndv_estimate"]  # last update per window
    exact = {
        r["w"]["start"]: r["ndv"]
        for r in (batch.groupBy(F.window("ts", "10 minutes").alias("w"))
                  .agg(F.countDistinct("uid").alias("ndv")).collect())
    }
    assert set(got) == set(exact)
    import numpy as np

    rel = 3 * 1.04 / np.sqrt(1 << 12)
    for w, e in exact.items():
        assert abs(got[w] - e) / e <= rel, (w, got[w], e)


def test_sliding_windowed_distinct(spark, tmp_path):
    """10-minute windows sliding every 5: overlapping windows each hold
    their own sketch state; estimates match exact per window."""
    import numpy as np
    import pyspark.sql.functions as F

    from cuckoofilter_spark.streaming.windowed import windowed_distinct

    src = str(tmp_path / "ev")
    (spark.range(4000)
     .select(F.timestamp_seconds(1_700_000_000 + (F.col("id") * 3)).alias("ts"),
             (F.col("id") % 701).alias("uid"))
     .repartition(3).write.parquet(src))
    batch = spark.read.parquet(src)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = windowed_distinct(stream, "ts", "uid", window="10 minutes",
                            slide="5 minutes", watermark="6 hours", p=12)
    q = (out.writeStream.format("memory").queryName("slide_ndv")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {r["window_start"]: r["ndv_estimate"]
           for r in spark.sql("SELECT * FROM slide_ndv").collect()}
    exact = {r["w"]["start"]: r["ndv"] for r in
             (batch.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
              .agg(F.countDistinct("uid").alias("ndv")).collect())}
    assert set(got) == set(exact)
    assert len(exact) > 3  # overlapping windows actually produced
    rel = 3 * 1.04 / np.sqrt(1 << 12)
    for w, e in exact.items():
        assert abs(got[w] - e) / e <= rel, (w, got[w], e)


def test_replayed_batch_is_not_double_counted(spark, token_files, tmp_path):
    """foreachBatch is at-least-once: replaying a committed batch_id must
    be a no-op (guard persisted atomically with the blob), or CMS-family
    sketches double-count after crash recovery."""
    from cuckoofilter_spark.sketches.countmin import CountMinSketch

    b = StreamingSketchBuilder(
        lambda pid: CountMinSketch(depth=5, width=1 << 12, seed=3),
        "tokens", state_dir=str(tmp_path / "cms_state"))
    batch = spark.read.parquet(token_files)
    b.process_batch(batch, 0)
    once = b.sketch.estimate(np.arange(50, dtype=np.int64)).copy()
    b.process_batch(batch, 0)  # replay of the same micro-batch
    assert np.array_equal(b.sketch.estimate(np.arange(50, dtype=np.int64)), once)
    b.process_batch(batch, 1)  # a genuinely new batch still merges
    assert b.sketch.estimate(np.arange(50, dtype=np.int64)).sum() > once.sum()
    # restart from disk: last_batch_id survives, replay still skipped
    b2 = StreamingSketchBuilder(
        lambda pid: CountMinSketch(depth=5, width=1 << 12, seed=3),
        "tokens", state_dir=str(tmp_path / "cms_state"))
    assert b2.last_batch_id == 1
    twice = b2.sketch.estimate(np.arange(50, dtype=np.int64)).copy()
    b2.process_batch(batch, 1)
    assert np.array_equal(b2.sketch.estimate(np.arange(50, dtype=np.int64)), twice)


def test_streaming_dedup_by_key(spark, tmp_path):
    """Bounded-state streaming dedup: at-most-once per key guaranteed
    (no key twice in the output); under-delivery bounded by the filter's
    FPR; state survives across micro-batches."""
    import uuid

    from pyspark.sql import functions as F

    from cuckoofilter_spark.params import CuckooParams
    from cuckoofilter_spark.streaming.dedup import streaming_dedup_by_key

    src = str(tmp_path / "dedup_src")
    # 3 files => 3 micro-batches; keys repeat across batches
    for i in range(3):
        (spark.range(i * 2000, i * 2000 + 6000)
         .select((F.col("id") % 9000).alias("k"), F.lit(i).alias("batch"))
         .coalesce(1).write.mode("append").parquet(src))
    batch = spark.read.parquet(src)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    params = CuckooParams(max_table_size=2048, bits_per_fp=16)
    out = streaming_dedup_by_key(stream, "k", params, n_routes=8)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = spark.sql(f"SELECT k FROM {name}").collect()
    seen = [r["k"] for r in got]
    assert len(seen) == len(set(seen))  # HARD guarantee: at most once
    n_exact = batch.select("k").distinct().count()
    eps = params.fpr_bound
    # every distinct key passes except FP drops (<= ~3*eps*n + slack)
    assert len(seen) <= n_exact
    assert len(seen) >= n_exact - max(3, int(3 * eps * n_exact))


def test_unversioned_state_blob_fails_loudly(tmp_path):
    """A state file without the magic marker (pre-versioning format or
    corruption) must raise a clear format error, not misparse its first
    bytes as a batch id (ADVICE r2)."""
    import pytest

    from cuckoofilter_spark.sketches.hll import HyperLogLog
    from cuckoofilter_spark.streaming.incremental import StreamingSketchBuilder

    state = tmp_path / "st"
    state.mkdir()
    (state / "sketch.bin").write_bytes(b"\x03\x00\x00\x00\x00\x00\x00\x00junk")
    with pytest.raises(ValueError, match="unrecognized sketch-state format"):
        StreamingSketchBuilder(lambda pid: HyperLogLog(p=10), "v",
                               state_dir=str(state))
