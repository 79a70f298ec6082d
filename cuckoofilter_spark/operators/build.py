"""Distributed build: per-partition Arrow fold → deterministic tree merge.

This is the Spark-native replacement for the reference's single-threaded
insert loop (``Demo/cf_demo.cpp:16-27``) and the distributed analog of DCF
chain growth + compaction (SURVEY.md §3.3).  Every filter and sketch build
of the library rides the three pieces defined here:

- ``fold_batches``: one task folds its Arrow record batches into one
  mergeable state (``new_state(pid)``, then ``state.update(keys)``) — NumPy
  batch kernels, no per-row Python;
- ``emit_blob``: that state leaves the task as ONE ``BLOB_SCHEMA`` row;
- ``tree_merge_blobs``: each level sends merge group ``pid // FANIN`` to
  its own partition (``repartitionById``) and folds it in ascending pid
  order inside ``mapInArrow``, until ≤ FANIN blobs remain; the driver folds
  those, again in pid order.

A blob is ``encode(state)``: filter bytes (magic ``CKF2``) or tagged sketch
bytes, which ``decode`` tells apart by their first byte
(``serde.is_filter_blob``), so no caller names a format.

``fold_partitions`` runs the fold over the partitions of a DataFrame
(``build_filter``, ``kmers.build_ngram_filter``, and
``sketch_build.build_sketch`` on any DataFrame but a bare parquet scan);
``map_units`` runs it over a driver-planned unit list, up to
``UNITS_PER_TASK`` units per task and one blob per unit.  Its callers are
``sources.fasta.build_fasta_filter`` and ``fold_parquet``, the one pyarrow
reader of parquet splits (``parquet_splits``), which serves
``build_filter_from_parquet`` (one unit per split, so filter bytes follow
the split list) and ``build_sketch`` over a small bare parquet scan (its
splits packed into at most ``FANIN`` contiguous units).  The checkpointed shard build calls ``fold_batches`` from its own
grouped map.

Unlike ``RDD.treeAggregate`` (whose reduce order follows task completion),
the tree shape and fold order are pure functions of the partition ids — the
same at local[8] and local[32], which is what makes "identical estimates at
N and 4N executors" (north_rule) hold by construction rather than by
commutativity luck.

Scale notes (100 TB / ~10^6 input partitions):
- stage 1 emits ONE row per input partition — the shuffle into the merge
  stage moves sketch state, never data rows;
- each merge level reduces the blob count by ``FANIN`` (8): 10^6 blobs →
  6 levels; a level runs ceil(n_blobs/FANIN) tasks, one per merge group,
  all executor-side;
- the driver only ever folds the final ≤ FANIN blobs;
- column pruning: only the key column is selected before the UDF, so the
  parquet/Iceberg scan reads one column (check ``ReadSchema`` in explain).

Closures shipped to Spark reach the serde functions only through the
module-level ``encode``/``decode``, which look them up in this module at
call time, never as a captured function object: the benchmark's traced run
patches ``deserialize_filter`` in this module on the driver, and a captured
wrapper would be pickled into the job.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame

from cuckoofilter_spark.core.cuckoo_filter import CuckooFilter
from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import deserialize_filter, is_filter_blob, serialize_filter
from cuckoofilter_spark.params import CuckooParams
from cuckoofilter_spark.sketches.base import deserialize_sketch, serialize_sketch

BLOB_SCHEMA = "pid long, blob binary, n_rows long, n_items long"

#: merge-tree fanin: blobs per executor merge group, and the most blobs the
#: driver ever folds.  A constant, so the tree is a pure function of the
#: blob count — never of cluster size or of a caller's choice.
FANIN = 8

#: row-group splitting cutoff for the pyarrow-direct build: a CONSTANT so
#: split granularity is a pure function of the data layout, never of
#: cluster size (the merge tree must be identical at N and 4N executors)
ROW_GROUP_SPLIT_MAX_FILES = 48

#: most units ``map_units`` packs into one task.  Packing pays a Python
#: task's fixed cost once for several units; the cap keeps what a straggler
#: or a retried task redoes to a few units, and keeps the task count of a
#: long unit list independent of how many cores are up at submit time.
UNITS_PER_TASK = 4


def encode(state) -> bytes:
    """The blob of a filter (plain ``serialize_filter`` bytes, the
    checkpoint wire format) or of a sketch (``serialize_sketch``'s tagged
    bytes)."""
    if isinstance(state, (CuckooFilter, DynamicCuckooFilter)):
        return serialize_filter(state)
    return serialize_sketch(state)


def decode(blob: bytes):
    """The filter or sketch ``encode`` wrote into *blob*."""
    return deserialize_filter(blob) if is_filter_blob(blob) else deserialize_sketch(blob)


def _keys_from_arrow(col) -> np.ndarray:
    """Flatten an Arrow scalar-int or list<int> column to int64 — zero-copy
    offsets arithmetic, no per-row Python.  This path is ~10× faster than
    pandas list-of-array handling and is where "vectorized Arrow UDFs, no
    per-row Python" (north_star) is actually won or lost.  A null list row
    adds no key; a null scalar row or list element becomes key 0, which
    keeps a probe batch row-aligned.  Builds drop null rows before this
    (``fold_batches``)."""
    import pyarrow as pa

    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    if col.null_count:
        col = col.fill_null(0)
    # keep the native integer width (int32 stays int32 — hash64 widens
    # lazily); avoiding the int64 copy halves the bandwidth of this path
    return col.to_numpy(zero_copy_only=False)


def emit_blob(pid: int, blob: bytes, n_rows: int, n_items: int):
    """The one ``BLOB_SCHEMA`` record batch: a state's blob and its counts."""
    import pyarrow as pa

    return pa.record_batch({
        "pid": pa.array([pid], pa.int64()),
        "blob": pa.array([blob], pa.binary()),
        "n_rows": pa.array([n_rows], pa.int64()),
        "n_items": pa.array([n_items], pa.int64()),
    })


def fold_batches(state, batches, extract=_keys_from_arrow) -> tuple[int, int]:
    """Fold record batches into ``state``: column 0 of each batch, its
    null rows dropped (NULL is not a value), goes through ``extract`` into
    ``state.update``.  Returns (n_rows, n_items); n_rows counts null rows."""
    n_rows = 0
    n_items = 0
    for b in batches:
        col = b.column(0)
        keys = extract(col.drop_null() if col.null_count else col)
        n_rows += b.num_rows
        n_items += len(keys)
        if len(keys):
            state.update(keys)
    return n_rows, n_items


def new_filter(params: CuckooParams, dedup: bool = True):
    """State factory of the cuckoo builds: task ``pid``'s empty filter,
    its kick rng seeded by the pid.

    ``dedup=True`` (set semantics) is the scale default: corpus token
    streams are heavily skewed (Zipf), and a multiset filter would need one
    slot per *occurrence* of a hot token — unbounded chain growth.  Set
    semantics stores each distinct (bucket-pair, fp) once; membership
    answers are identical."""
    ptuple = params.to_tuple()
    return lambda pid: DynamicCuckooFilter(CuckooParams.from_tuple(ptuple),
                                           rng_seed=pid, dedup=dedup)


def finish_filter(filt, params: CuckooParams, dedup: bool,
                  compact: bool = True) -> DynamicCuckooFilter:
    """The merged filter — an empty one when there were no blobs —
    compacted unless ``compact=False``."""
    if filt is None:
        filt = DynamicCuckooFilter(params, dedup=dedup)
    if compact:
        filt.compact()
    return filt


def _fold_blobs(pids, blobs):
    """Decode and merge blobs in ascending pid order: the fold of one merge
    group and of the driver alike."""
    acc = None
    for _, blob in sorted(zip(pids, blobs), key=lambda pb: pb[0]):
        state = decode(bytes(blob))
        acc = state if acc is None else acc.merge(state)
    return acc


def _merge_group(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """mapInArrow fold of one merge-level partition: each merge group it
    holds (``gid = pid // FANIN``), in ascending gid order, folds in pid
    order into one blob row whose pid is ``gid``, the next level's pid."""
    groups = {}
    for b in batches:
        cols = b.to_pydict()
        for row in zip(cols["pid"], cols["blob"], cols["n_rows"], cols["n_items"]):
            groups.setdefault(row[0] // FANIN, []).append(row)
    for gid in sorted(groups):
        pids, blobs, n_rows, n_items = zip(*groups[gid])
        yield emit_blob(gid, encode(_fold_blobs(pids, blobs)), sum(n_rows), sum(n_items))


def tree_merge_blobs(blobs_df: DataFrame, n_blobs: int | None = None):
    """Deterministically fold a ``BLOB_SCHEMA`` DataFrame down to one state.
    Executor-side levels while > FANIN blobs remain, then a driver-side
    ordered fold of the last ≤ FANIN.  Returns (state, n_rows, n_items);
    state is None when there are no blobs.

    ``n_blobs``: pass the known blob count (one per input partition) to
    avoid a ``count()`` action — counting would EXECUTE the whole upstream
    build once, then ``collect()`` would execute it again.

    Why a small fanin matters for scaling: the fold's work is proportional
    to the *sum of stored fingerprints across folded blobs*.  A flat
    driver-side fold of P partition filters costs Σ_P (grows with cluster
    parallelism — inverse scaling!); a fanin-f tree does that work in
    parallel executor stages and the driver only ever folds ≤ f blobs, so
    the critical path is ~f·(per-blob fingerprints)·log_f(P).

    A level is ``repartitionById`` into one partition per merge group (the
    id must be an INT), then ``mapInArrow``: its task count is
    ceil(n/FANIN), a pure function of the blob count.  Keyed on
    ``groupBy(gid)`` instead, the level hash-shuffled into
    ``spark.sql.shuffle.partitions`` partitions and adaptive execution
    coalesced that KB-to-MB blob shuffle by bytes, so every level ran as
    one task and its groups folded one after another."""
    import pyspark.sql.functions as F

    df = blobs_df
    n = n_blobs if n_blobs is not None else df.count()
    while n > FANIN:
        n = -(-n // FANIN)
        df = (df.repartitionById(n, (F.col("pid") / FANIN).cast("int"))
              .mapInArrow(_merge_group, BLOB_SCHEMA))
    rows = df.collect()
    acc = _fold_blobs([r["pid"] for r in rows], [r["blob"] for r in rows])
    return acc, sum(r["n_rows"] for r in rows), sum(r["n_items"] for r in rows)


def fold_partitions(df: DataFrame, col: str, new_state,
                    extract=_keys_from_arrow, num_partitions: int | None = None):
    """Fold each partition of ``df[col]`` into ``new_state(pid)`` inside
    ``mapInArrow`` and tree-merge the blobs; returns what
    ``tree_merge_blobs`` returns.

    ``num_partitions``: fix the build parallelism explicitly.  Fixing it
    (rather than inheriting the scan's split count) pins the shape of the
    merge tree, not what each partition holds: ``repartition`` deals rows
    round-robin from the upstream layout, which the scan's split size
    decides.  Order-free states and membership answers come out identical
    either way; the bytes of order-sensitive states (KLL) do not.
    Salting/skew is irrelevant here because the build is a narrow map (no
    shuffle by key); repartition only balances bytes."""
    proj = df.select(col)  # column pruning reaches the scan
    if num_partitions is not None:
        proj = proj.repartition(num_partitions)
        n_blobs = num_partitions
    else:
        n_blobs = proj.rdd.getNumPartitions()

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        state = new_state(pid)
        n_rows, n_items = fold_batches(state, batches, extract)
        yield emit_blob(pid, encode(state), n_rows, n_items)

    return tree_merge_blobs(proj.mapInArrow(fn, schema=BLOB_SCHEMA), n_blobs)


def map_units(spark, units: list, build_unit):
    """One blob per unit of a driver-planned list, several units per task:
    ``spark.range`` hands each task a contiguous run of unit ids; for each
    ``uid`` in order the task builds ``build_unit(units[uid], uid) ->
    (filter, n_rows, n_items)`` and emits its blob with pid ``uid``; returns
    what ``tree_merge_blobs`` returns.  The unit list is broadcast once.

    The task count is ``ceil(n / UNITS_PER_TASK)``, raised to
    ``defaultParallelism`` (capped at ``n``) so every core seen at submit
    time gets a task.  Runs are static, so with uneven units a task can
    finish up to ``UNITS_PER_TASK - 1`` units behind the others.  Blobs,
    merge tree and result depend only on the unit list; parallelism decides
    only how units are packed into tasks."""
    bc = spark.sparkContext.broadcast(units)

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        ulist = bc.value
        for b in batches:
            for uid in b.column(0).to_pylist():
                filt, n_rows, n_items = build_unit(ulist[uid], uid)
                yield emit_blob(uid, encode(filt), n_rows, n_items)

    n = len(units)
    n_tasks = max(-(-n // UNITS_PER_TASK), spark.sparkContext.defaultParallelism)
    ids = spark.range(0, n, numPartitions=min(n, n_tasks))
    return tree_merge_blobs(ids.mapInArrow(fn, schema=BLOB_SCHEMA), n)


def parquet_splits(files: list[str]) -> list[tuple[str, int]]:
    """The (file, row group) splits of a sorted file list, row group -1
    meaning the whole file: one split per row group when the table has at
    most ``ROW_GROUP_SPLIT_MAX_FILES`` files (the footer reads that takes
    are one per file, affordable exactly when files are few), else one per
    file.  The cutoff is a constant, so the split list is a pure function of
    the data layout, never of cluster size (a ``defaultParallelism``-based
    cutoff would silently change the merge tree with the cluster)."""
    if len(files) > ROW_GROUP_SPLIT_MAX_FILES:
        return [(f, -1) for f in files]
    return [s for f in files for s in row_group_splits(f, _num_row_groups(f))]


def row_group_splits(fpath: str, num_row_groups: int) -> list[tuple[str, int]]:
    """One split per row group of ``fpath``; a metadata-only file (0 row
    groups) keeps one whole-file split, so a split list is never empty."""
    return [(fpath, rg) for rg in range(num_row_groups)] or [(fpath, -1)]


def fold_parquet(spark, units: list[list], col: str, new_state,
                 extract=_keys_from_arrow):
    """Fold each unit (a list of ``parquet_splits`` splits) into
    ``new_state(uid)`` through ``map_units``, reading ``col`` with pyarrow
    in ~8k-row batches (≈ 9 MB of tokens: decode scratch stays
    cache-resident; whole-file reads measured ~10× slower under 32-way
    concurrency).  Returns what ``tree_merge_blobs`` returns."""

    def build_unit(unit, uid):
        state = new_state(uid)
        batches = (b for split in unit for b in _read_split(split, col))
        return (state, *fold_batches(state, batches, extract))

    return map_units(spark, units, build_unit)


def _read_split(split, col: str):
    fpath, rg = split
    return _parquet_file(fpath).iter_batches(
        columns=[col], batch_size=8192, row_groups=None if rg < 0 else [rg])


def build_filter_from_parquet(spark, path: str, col: str, params: CuckooParams,
                              compact: bool = True,
                              dedup: bool = True) -> DynamicCuckooFilter:
    """Scale-path build: Spark distributes parquet *file splits*; each task
    reads its splits directly with pyarrow (column-pruned, zero-copy list
    flatten) and builds one filter per split — the JVM never materializes
    the token column.

    Why: the generic path ships every token through parquet→InternalRow→
    Arrow-IPC→Python (measured ~3× slower than the kernel+IO cost).  For a
    one-column build over 10^12 tokens that re-encode IS the job, so the
    specialized source reads Arrow-native, exactly like Python-native table
    readers (Petastorm etc.).  Works against any pyarrow filesystem
    (local/HDFS/S3) since executors read their own splits.

    The split list is sorted-deterministic (``parquet_splits``) and each
    split is its own unit and blob, so the merge tree and the per-split rng
    seeds are pinned regardless of cluster size (north_rule invariance)."""
    files = sorted(_list_parquet_files(path))
    if not files:
        # an empty filter answers "non-member" to everything — a silent
        # wrong-path/permissions bug must not masquerade as that
        raise ValueError(f"no parquet files found under {path!r}")
    units = [[split] for split in parquet_splits(files)]
    filt, _, _ = fold_parquet(spark, units, col, new_filter(params, dedup))
    return finish_filter(filt, params, dedup, compact)


def _parquet_file(fpath: str):
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    if "://" in fpath:
        rfs, rpath = pafs.FileSystem.from_uri(fpath)
        return pq.ParquetFile(rfs.open_input_file(rpath))
    return pq.ParquetFile(fpath)


def _num_row_groups(fpath: str) -> int:
    return _parquet_file(fpath).metadata.num_row_groups


def _list_parquet_files(path: str) -> list[str]:
    """List .parquet data files under *path* on any pyarrow filesystem
    (local path or URI — file://, hdfs://, s3://): executors re-open the
    returned paths with the same ``from_uri`` resolution."""
    import os

    from pyarrow import fs as pafs

    filesystem, rel = pafs.FileSystem.from_uri(path) if "://" in path else (
        pafs.LocalFileSystem(), os.path.abspath(path))
    info = filesystem.get_file_info(rel)
    if info.type == pafs.FileType.File:
        # local paths go back absolute: executors re-open them and must not
        # depend on sharing the driver's cwd (only true in local mode)
        return [path if "://" in path else os.path.abspath(path)]
    sel = pafs.FileSelector(rel, recursive=True, allow_not_found=True)
    prefix = path.rstrip("/") if "://" in path else rel.rstrip("/")
    out = []
    for f in filesystem.get_file_info(sel):
        name = f.base_name
        relp = os.path.relpath(f.path, rel).replace(os.sep, "/")
        # skip hidden/underscore names at ANY path level (spark.read
        # semantics): _temporary/ holds uncommitted task attempts of a
        # crashed or in-flight write — including them would insert keys
        # from duplicate/aborted attempts
        hidden = any(p.startswith(("_", ".")) for p in relp.split("/"))
        if (f.type == pafs.FileType.File and name.endswith(".parquet")
                and not hidden):
            # re-root on the caller's path form so URI schemes survive
            out.append(prefix + "/" + relp)
    return out


def build_filter(df: DataFrame, col: str, params: CuckooParams,
                 num_partitions: int | None = None,
                 compact: bool = True, dedup: bool = True) -> DynamicCuckooFilter:
    """Build a global DynamicCuckooFilter over ``df[col]`` (int column or
    array<int> column); ``num_partitions`` pins the merge tree (see
    ``fold_partitions``)."""
    filt, _, _ = fold_partitions(df, col, new_filter(params, dedup),
                                 num_partitions=num_partitions)
    return finish_filter(filt, params, dedup, compact)
