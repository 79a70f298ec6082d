"""``sketch_build.build_sketch`` over a small bare parquet scan reads the
files itself (``build.fold_parquet`` over ``sketch_build._pack_splits``
units); any other DataFrame keeps the JVM scan (``build.fold_partitions``).  Order-free
sketch bytes are the same on both paths, quantile sketches keep their rank
gates, the unit plan is a pure function of the files, and NULL rows and
list elements are no value on either path."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from cuckoofilter_spark.operators import build, sketch_build
from cuckoofilter_spark.operators.sketch_build import build_sketch
from cuckoofilter_spark.sketches import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    KMVSketch,
    TDigest,
    serialize_sketch,
)

#: the order-free sketches: their bytes do not depend on how rows are split
ORDER_FREE = {
    "hll": lambda pid: HyperLogLog(p=12, seed=3),
    "cms": lambda pid: CountMinSketch(4, 2048, seed=3),
    "bloom": lambda pid: BloomFilter(1 << 16, 5, seed=3),
    "kmv": lambda pid: KMVSketch(k=256, seed=3),
}
LIST_INT = pa.list_(pa.int32())


def _write_parts(d, n_files=12, seed=5):
    """``n_files`` one-row-group files of Zipf token lists; returns every
    token written."""
    rng = np.random.default_rng(seed)
    d.mkdir(exist_ok=True)
    keys = []
    for i in range(n_files):
        docs = [np.minimum(rng.zipf(1.2, int(n)), 5000).astype(np.int32).tolist()
                for n in rng.integers(0, 30, 400)]
        keys += [k for doc in docs for k in doc]
        pq.write_table(pa.table({"tokens": pa.array(docs, LIST_INT),
                                 "doc": np.arange(len(docs))}),
                       str(d / f"part-{i:02d}.parquet"))
    return np.array(keys, dtype=np.int64)


@pytest.fixture(scope="module")
def parts(tmp_path_factory):
    d = tmp_path_factory.mktemp("direct") / "t"
    return str(d), _write_parts(d)


@pytest.fixture
def paths(monkeypatch):
    """Records which fold each ``build_sketch`` call runs, and the unit
    list of each direct one."""
    seen = []
    real_parquet, real_partitions = sketch_build.fold_parquet, sketch_build.fold_partitions

    def fold_parquet(spark, units, *args, **kwargs):
        seen.append(("direct", units))
        return real_parquet(spark, units, *args, **kwargs)

    def fold_partitions(*args, **kwargs):
        seen.append(("jvm", None))
        return real_partitions(*args, **kwargs)

    monkeypatch.setattr(sketch_build, "fold_parquet", fold_parquet)
    monkeypatch.setattr(sketch_build, "fold_partitions", fold_partitions)
    return seen


def _bytes(df, col, factories, **kwargs):
    return {name: serialize_sketch(build_sketch(df, col, fac, **kwargs))
            for name, fac in factories.items()}


def test_order_free_bytes_equal_the_jvm_scan(spark, parts, paths):
    path, _ = parts
    df = spark.read.parquet(path)
    direct = _bytes(df, "tokens", ORDER_FREE)
    assert [p for p, _ in paths] == ["direct"] * len(ORDER_FREE)
    paths.clear()
    jvm = _bytes(df, "tokens", ORDER_FREE, num_partitions=5)
    assert [p for p, _ in paths] == ["jvm"] * len(ORDER_FREE)
    assert direct == jvm


def test_quantile_sketches_keep_their_rank_gates(spark, parts, paths):
    path, keys = parts
    df = spark.read.parquet(path).select("tokens")
    kll = build_sketch(df, "tokens", lambda pid: KLLSketch(200, seed=pid), values="float")
    td = build_sketch(df, "tokens", lambda pid: TDigest(delta=200.0), values="float")
    assert [p for p, _ in paths] == ["direct", "direct"]
    srt = np.sort(keys)
    for q in (0.1, 0.5, 0.9, 0.99):
        for est, tol in ((kll.quantile(q), 2 * kll.rank_error), (td.quantile(q), 0.02)):
            lo = np.searchsorted(srt, est, "left") / len(srt)
            hi = np.searchsorted(srt, est, "right") / len(srt)
            assert lo - tol <= q <= hi + tol, (q, est, lo, hi)


def test_non_bare_dataframes_take_the_jvm_scan(spark, parts, paths, tmp_path):
    path, _ = parts
    base = spark.read.parquet(path)
    pdir = tmp_path / "by_parity"
    (base.limit(200).withColumn("parity", F.col("doc") % 2)
     .write.partitionBy("parity").parquet(str(pdir)))
    cast_dir = tmp_path / "int32"
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int32())}), str(cast_dir))
    # the first file matches the column type; a later one is int32, or has
    # no such column (the JVM scan widens the one and reads NULL for the other)
    later_dir, missing_dir = tmp_path / "later_int32", tmp_path / "missing"
    for d, last in ((later_dir, {"k": pa.array([3], pa.int32())}),
                    (missing_dir, {"j": pa.array([3], pa.int64())})):
        d.mkdir()
        pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), str(d / "a.parquet"))
        pq.write_table(pa.table(last), str(d / "b.parquet"))
    n = sketch_build.DIRECT_MAX_SPLITS + 1
    many_groups = str(tmp_path / "many_groups.parquet")
    pq.write_table(pa.table({"k": np.arange(n)}), many_groups, row_group_size=1)
    many_files = tmp_path / "many_files"
    many_files.mkdir()
    for i in range(n):
        pq.write_table(pa.table({"k": [i]}), str(many_files / f"part-{i:02d}.parquet"))
    cases = {
        "filter": (base.where("doc >= 0"), "tokens", {}),
        "alias": (base.select(F.col("tokens").alias("t")), "t", {}),
        "limit": (base.limit(1000), "tokens", {}),
        "partitioned": (spark.read.parquet(str(pdir)), "tokens", {}),
        "num_partitions": (base, "tokens", {"num_partitions": 3}),
        "type_mismatch": (spark.read.schema("k long").parquet(str(cast_dir)), "k", {}),
        "later_file_type": (spark.read.schema("k long").parquet(str(later_dir)), "k", {}),
        "missing_column": (spark.read.option("mergeSchema", "true").parquet(str(missing_dir)),
                           "k", {}),
        "too_many_row_groups": (spark.read.parquet(many_groups), "k", {}),
        "too_many_files": (spark.read.parquet(str(many_files)), "k", {}),
    }
    for name, (df, col, kwargs) in cases.items():
        paths.clear()
        assert build_sketch(df, col, ORDER_FREE["hll"], **kwargs).estimate() > 0, name
        assert paths == [("jvm", None)], name
    paths.clear()
    build_sketch(base, "tokens", ORDER_FREE["hll"])
    assert [p for p, _ in paths] == ["direct"]


@pytest.mark.parametrize("parallelism", [1, 3, 64])
def test_unit_plan_and_bytes_ignore_parallelism(spark, parts, paths, monkeypatch, parallelism):
    path, _ = parts
    df = spark.read.parquet(path)
    factories = {**ORDER_FREE, "kll": lambda pid: KLLSketch(200, seed=pid)}
    ref_units = sketch_build._pack_splits(sketch_build._parquet_scan(df, "tokens"))
    ref = {name: serialize_sketch(build_sketch(df, "tokens", fac,
                                               values="float" if name == "kll" else "int"))
           for name, fac in factories.items()}
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda self: parallelism))
    paths.clear()
    got = {name: serialize_sketch(build_sketch(df, "tokens", fac,
                                               values="float" if name == "kll" else "int"))
           for name, fac in factories.items()}
    assert got == ref
    assert all(units == ref_units for _, units in paths)
    assert len(ref_units) == build.FANIN  # 12 splits: no executor merge level


def test_metadata_only_and_all_null_files_add_nothing(spark, tmp_path, paths):
    normal, mixed = tmp_path / "normal", tmp_path / "mixed"
    _write_parts(normal, n_files=3)
    _write_parts(mixed, n_files=3)
    schema = pq.read_schema(str(normal / "part-00.parquet"))
    empty = str(mixed / "part-00a.parquet")
    pq.ParquetWriter(empty, schema).close()
    assert build._num_row_groups(empty) == 0
    pq.write_table(pa.table({"tokens": pa.array([None] * 300, LIST_INT),
                             "doc": np.arange(300)}, schema=schema),
                   str(mixed / "part-01a.parquet"))
    alone = _bytes(spark.read.parquet(str(normal)), "tokens", ORDER_FREE)
    with_edges = _bytes(spark.read.parquet(str(mixed)), "tokens", ORDER_FREE)
    assert [p for p, _ in paths] == ["direct"] * 2 * len(ORDER_FREE)
    assert with_edges == alone


def test_null_list_elements_are_no_value(spark, tmp_path):
    """``[[1, NULL], [2], NULL]`` sketches as ``[1, 2]`` on both paths (the
    direct read, and the JVM scan that ``num_partitions`` asks for): a NULL
    row and a NULL list element add no key (not key 0)."""
    path = str(tmp_path / "nulls.parquet")
    pq.write_table(pa.table({"k": pa.array([[1, None], [2], None], pa.list_(pa.int64()))}),
                   path)
    want = {}
    for name, fac in ORDER_FREE.items():
        s = fac(0)
        s.update(np.array([1, 2], dtype=np.int64))
        want[name] = serialize_sketch(s)
    df = spark.read.parquet(path)
    for kwargs in ({}, {"num_partitions": 2}):
        got = _bytes(df, "k", ORDER_FREE, **kwargs)
        assert got == want, kwargs
        cms = build_sketch(df, "k", ORDER_FREE["cms"], **kwargs)
        assert cms.estimate(np.array([0]))[0] == 0


def _unopenable(fpath):
    raise pa.ArrowInvalid(f"Unrecognized filesystem type in URI: {fpath}")


@pytest.mark.parametrize("how", ["dbfs_uri", "arrow_invalid"])
def test_files_pyarrow_cannot_open_take_the_jvm_scan(spark, parts, paths, monkeypatch, how):
    """A file URI pyarrow does not resolve on the driver (``dbfs:/``, or a
    scheme ``FileSystem.from_uri`` refuses) sends the build to the JVM
    scan, which reads the table as before: same bytes, no error."""
    from pyspark.sql.classic.dataframe import DataFrame

    path, _ = parts
    df = spark.read.parquet(path)
    ref = _bytes(df, "tokens", ORDER_FREE)
    if how == "dbfs_uri":
        monkeypatch.setattr(DataFrame, "inputFiles",
                            lambda self: ["dbfs:/tables/t/part-00.parquet"])
    else:
        monkeypatch.setattr(sketch_build, "_parquet_file", _unopenable)
    assert sketch_build._parquet_scan(df, "tokens") is None
    paths.clear()
    assert _bytes(df, "tokens", ORDER_FREE) == ref
    assert [p for p, _ in paths] == ["jvm"] * len(ORDER_FREE)


def test_pack_splits_is_contiguous_and_bounded():
    for n in (1, 3, 8, 12, 16, sketch_build.DIRECT_MAX_SPLITS):
        units = sketch_build._pack_splits(list(range(n)))
        assert [s for u in units for s in u] == list(range(n))
        assert all(units) and max(map(len, units)) - min(map(len, units)) <= 1
        assert len(units) == min(n, build.FANIN)
        assert max(map(len, units)) <= sketch_build.DIRECT_MAX_SPLITS // build.FANIN
