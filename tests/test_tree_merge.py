"""The one merge tree (``operators/build.tree_merge_blobs``) driven with
hand-made blob rows: more than ``FANIN`` of them, so executor merge levels
run.  Its result must equal, bit for bit, an in-process fold that follows
the same tree — groups of ``pid // FANIN`` folded in pid order, level by
level, then the ordered driver fold.  Fold order matters for both states
tested (cuckoo kick placement, KLL compaction), so a wrong grouping or
order shows up as different bytes."""

import numpy as np
import pytest

from cuckoofilter_spark.operators.build import (
    BLOB_SCHEMA,
    FANIN,
    FilterCodec,
    _merge_group,
    emit_blob,
    tree_merge_blobs,
)
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sketches import KLLSketch
from cuckoofilter_spark.sketches.base import SketchCodec

#: two executor levels (70 → 9 → 2) before the driver fold
N_BLOBS = 70


def _fold(codec, blobs):
    acc = None
    for blob in blobs:
        state = codec.decode(blob)
        acc = state if acc is None else acc.merge(state)
    return acc


def _in_process_tree(codec, blobs):
    level = dict(enumerate(blobs))
    while len(level) > FANIN:
        groups = {}
        for pid in sorted(level):
            groups.setdefault(pid // FANIN, []).append(level[pid])
        level = {gid: codec.encode(_fold(codec, bs)) for gid, bs in groups.items()}
    return _fold(codec, [level[pid] for pid in sorted(level)])


def _cuckoo_state(pid):
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter

    f = DynamicCuckooFilter(CuckooParams(max_table_size=256, bits_per_fp=16),
                            rng_seed=pid, dedup=True)
    f.update(np.random.default_rng(pid).integers(0, 20_000, 300))
    return f


def _kll_state(pid):
    s = KLLSketch(k=40, seed=pid)
    s.update(np.random.default_rng(pid).normal(pid, 10.0, 400))
    return s


@pytest.mark.parametrize("codec,make_state", [(FilterCodec, _cuckoo_state),
                                              (SketchCodec, _kll_state)],
                         ids=["cuckoo", "kll"])
def test_tree_merge_equals_in_process_tree(spark, codec, make_state):
    blobs = [codec.encode(make_state(pid)) for pid in range(N_BLOBS)]
    # rows arrive in scrambled order over several partitions: the tree
    # must depend on the pids only
    perm = np.random.default_rng(0).permutation(N_BLOBS).tolist()
    rows = [(pid, blobs[pid], 1, pid) for pid in perm]
    df = spark.createDataFrame(rows, BLOB_SCHEMA).repartition(3)

    got, n_rows, n_items = tree_merge_blobs(df, codec)
    want = _in_process_tree(codec, blobs)
    assert codec.encode(got) == codec.encode(want)
    assert (n_rows, n_items) == (N_BLOBS, sum(range(N_BLOBS)))
    # ... and the flat pid-order fold (no tree) gives different bytes, so
    # the comparison above really checks the tree
    assert codec.encode(_fold(codec, blobs)) != codec.encode(want)


def test_merge_group_folds_each_group_it_holds():
    """A level partition that holds several merge groups (pids with gaps
    fold to gids that meet modulo the level's partition count) emits one
    row per group, in gid order, each folded in pid order."""
    pids = [17, 3, 20, 1, 16, 2]  # groups 0 (1, 2, 3) and 2 (16, 17, 20)
    blobs = {pid: FilterCodec.encode(_cuckoo_state(pid)) for pid in pids}
    batches = [emit_blob(pid, blobs[pid], 1, pid) for pid in pids]
    out = list(_merge_group(FilterCodec)(iter(batches)))
    rows = [b.to_pylist()[0] for b in out]
    assert [(r["pid"], r["n_rows"], r["n_items"]) for r in rows] == [(0, 3, 6), (2, 3, 53)]
    for r, group in zip(rows, ([1, 2, 3], [16, 17, 20])):
        want = _fold(FilterCodec, [blobs[pid] for pid in group])
        assert r["blob"] == FilterCodec.encode(want)


def test_tree_merge_of_no_blobs_is_none(spark):
    empty = spark.createDataFrame([], BLOB_SCHEMA)
    assert tree_merge_blobs(empty, FilterCodec) == (None, 0, 0)


def test_merge_levels_run_one_task_per_group(spark):
    """A level of g merge groups runs as g tasks: 70 blobs read from 3
    source partitions take a 9-task level, then a 2-task level.  Keyed on
    ``groupBy``, adaptive execution coalesced each small blob shuffle
    into one task."""
    blobs = [FilterCodec.encode(_cuckoo_state(pid)) for pid in range(N_BLOBS)]
    rows = [(pid, blobs[pid], 1, pid) for pid in range(N_BLOBS)]
    sc = spark.sparkContext
    df = spark.createDataFrame(sc.parallelize(rows, 3), BLOB_SCHEMA)
    group = "test-merge-level-tasks"
    sc.setJobGroup(group, "tree merge levels")
    try:
        got, _, _ = tree_merge_blobs(df, FilterCodec, N_BLOBS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stage_ids = sorted({s for j in tracker.getJobIdsForGroup(group)
                        for s in tracker.getJobInfo(j).stageIds})
    # a stage AQE reuses shows up again in a later job, with no task run
    ran = [info.numCompletedTasks for info in map(tracker.getStageInfo, stage_ids)
           if info is not None and info.numCompletedTasks]
    assert ran == [3, 9, 2]  # the source stage, then one stage per level
    assert FilterCodec.encode(got) == FilterCodec.encode(_in_process_tree(FilterCodec, blobs))
