"""``operators/build.map_units`` packs its units into
``min(n_units, max(ceil(n_units / UNITS_PER_TASK), defaultParallelism))``
tasks, and the packing must not reach the output: every unit is still its
own blob (pid = unit id, kick rng seeded by it), so the merge tree and the
final bytes are the same at any parallelism.  Parallelism is varied by patching
``SparkContext.defaultParallelism`` in one session; the map stage's task
count is read from the status tracker under a job group."""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext

from cuckoofilter_spark.core.serde import serialize_filter
from cuckoofilter_spark.operators.build import UNITS_PER_TASK, build_filter_from_parquet
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sources.fasta import build_fasta_filter, plan_chunks

FNA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "synth_small.fna")
PARALLELISMS = (1, 3, 64)
N_FILES = 16


def _run_at(spark, monkeypatch, name, parallelism, build):
    """(md5 of ``serialize_filter(build())``, task count of the map stage)
    with ``defaultParallelism`` patched to ``parallelism``; ``name`` keeps
    the job group of each build its own."""
    sc = spark.sparkContext
    group = f"map-units-{name}-p{parallelism}"
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: parallelism))
    sc.setJobGroup(group, "map_units packing")
    try:
        filt = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.undo()
    st = sc.statusTracker()
    stage_ids = [s for j in st.getJobIdsForGroup(group)
                 for s in st.getJobInfo(j).stageIds]
    # the map stage runs first; the merge level reads its shuffle
    map_stage = st.getStageInfo(min(stage_ids))
    return hashlib.md5(serialize_filter(filt)).hexdigest(), map_stage.numTasks


def _assert_packing_invariant(spark, monkeypatch, name, n_units, build):
    runs = {p: _run_at(spark, monkeypatch, name, p, build) for p in PARALLELISMS}
    assert len({md5 for md5, _ in runs.values()}) == 1, runs
    assert {p: tasks for p, (_, tasks) in runs.items()} == {
        p: min(n_units, max(-(-n_units // UNITS_PER_TASK), p)) for p in PARALLELISMS}


@pytest.fixture(scope="module")
def parquet_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("units16")
    rng = np.random.default_rng(11)
    for i in range(N_FILES):
        keys = pa.array(list(rng.integers(0, 1 << 40, size=(300, 8))),
                        pa.list_(pa.int64()))
        # one row group per file: one unit (one blob) per file
        pq.write_table(pa.table({"tokens": keys}), str(d / f"part-{i:02d}.parquet"))
    return str(d)


def test_parquet_build_bytes_independent_of_packing(spark, monkeypatch, parquet_dir):
    params = CuckooParams(max_table_size=4096, bits_per_fp=12)
    _assert_packing_invariant(
        spark, monkeypatch, "parquet", N_FILES,
        lambda: build_filter_from_parquet(spark, parquet_dir, "tokens", params))


def test_fasta_build_bytes_independent_of_packing(spark, monkeypatch):
    k, chunk_bytes = 10, 64
    n_units = len(plan_chunks([FNA], chunk_bytes))
    assert n_units > max(PARALLELISMS[:-1])
    params = CuckooParams(max_table_size=2048, bits_per_fp=16)
    _assert_packing_invariant(
        spark, monkeypatch, "fasta", n_units,
        lambda: build_fasta_filter(spark, [FNA], k, params, chunk_bytes=chunk_bytes))
