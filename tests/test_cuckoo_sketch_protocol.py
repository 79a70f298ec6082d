"""The cuckoo filter itself rides the generic sketch drivers (batch
build, streaming foreachBatch) like every other sketch: it has ``update``
and ``merge``, and ``build.encode``/``decode`` carry its blob."""

import numpy as np

from cuckoofilter_spark.operators.build import decode, encode, new_filter
from cuckoofilter_spark.params import CuckooParams

PARAMS = CuckooParams(max_table_size=65536, bits_per_fp=16)


def test_protocol_roundtrip():
    s = new_filter(PARAMS)(1)
    s.update(np.arange(10_000))
    t = decode(encode(s))
    assert t.contains(np.arange(10_000)).all()
    assert t.element_count == s.element_count


def test_generic_sketch_build_driver(spark):
    from cuckoofilter_spark.operators.sketch_build import build_sketch
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    toks = synth_tokens_df(spark, n_docs=200, seed=42, num_partitions=4)
    cs = build_sketch(toks, "tokens", new_filter(PARAMS), num_partitions=4)
    assert cs.contains(np.arange(0, 500, dtype=np.int64)).all()  # Zipf head
    negs = np.arange(10**8, 10**8 + 50_000, dtype=np.int64)
    assert cs.contains(negs).mean() <= PARAMS.fpr_bound


def test_streaming_cuckoo_build(spark, tmp_path):
    from cuckoofilter_spark.sources.tokens import synth_tokens_df
    from cuckoofilter_spark.streaming.incremental import StreamingSketchBuilder

    src = str(tmp_path / "src")
    synth_tokens_df(spark, n_docs=200, seed=42, num_partitions=4).write.parquet(src)
    batch_df = spark.read.parquet(src)
    stream_df = (spark.readStream.schema(batch_df.schema)
                 .option("maxFilesPerTrigger", 1).parquet(src))
    b = StreamingSketchBuilder(new_filter(PARAMS), "tokens",
                               state_dir=str(tmp_path / "state"))
    q = (b.attach(stream_df)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert b.sketch is not None
    assert b.sketch.contains(np.arange(0, 500, dtype=np.int64)).all()


def test_read_table_parquet_fallback(spark, sf_dir):
    from cuckoofilter_spark.sources.table import iceberg_available, read_table

    df = read_table(spark, f"{sf_dir}/lineitem.parquet")
    assert df.count() > 0
    assert isinstance(iceberg_available(spark), bool)
