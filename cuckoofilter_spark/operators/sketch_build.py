"""Generic distributed sketch build: the build driver of
``operators/build.py`` parameterized over the ``Sketch`` protocol
(Bloom/HLL/count-min/KLL/t-digest all ride it).

Two paths, one fold (``build.fold_batches``, the same extract) and one
merge tree:
- **direct**: when ``df`` is a bare parquet scan of at most
  ``DIRECT_MAX_SPLITS`` row groups that pyarrow opens on the driver
  (``_parquet_scan``) and no ``num_partitions`` is asked for, the tasks
  read the files themselves with pyarrow (``build.fold_parquet``), so no
  token goes through the JVM's parquet → InternalRow → Arrow re-encode.
  One partial aggregate per unit of contiguous row-group splits
  (``_pack_splits``): at most ``build.FANIN`` units, so the blobs skip the
  executor merge level;
- **JVM scan**: any other DataFrame, a larger table included, through
  ``build.fold_partitions``, one partial aggregate per input partition.

Merge levels shrink the blob count by ``build.FANIN``; fold order inside
each group is ascending unit or partition id, so the merge tree is a pure
function of the unit list or the partition count.  What holds across
paths, scan splits and cluster sizes: the bytes of order-free states (HLL,
count-min, Bloom, KMV) and every membership answer are identical.  What
does not: the bytes of order-sensitive states (KLL, t-digest) follow the
unit plan on the direct path (a pure function of the sorted file list and
its footers) and the partition layout on the JVM path, which the scan's
split size decides (``spark.sql.files.maxPartitionBytes`` 128m vs 1m over
one token corpus at local[4]: 4 vs 16 partitions, different KLL bytes, the
same HLL bytes).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame

from cuckoofilter_spark.operators.build import (
    FANIN,
    _parquet_file,
    fold_parquet,
    fold_partitions,
    row_group_splits,
)

#: most row-group splits a bare parquet scan may have for ``build_sketch``
#: to read it directly: ``FANIN`` units of at most 4 splits each, the
#: layouts measured against the JVM scan.  A larger table keeps the JVM
#: scan, which splits it by ``spark.sql.files.maxPartitionBytes``.
DIRECT_MAX_SPLITS = 4 * FANIN


def _values_from_arrow(col) -> np.ndarray:
    """Flatten an Arrow scalar or list column to a NumPy array in its own
    dtype (ints stay ints, strings become an object array for labeled
    sketches), NULL rows and NULL list elements dropped: NULL is not a
    value to a sketch.  A filter build instead keeps a NULL element as key
    0 (``build._keys_from_arrow``, row-aligned for probes)."""
    import pyarrow as pa

    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    if col.null_count:
        col = col.drop_null()
    return col.to_numpy(zero_copy_only=False)


def _numeric_from_arrow(col) -> np.ndarray:
    """``_values_from_arrow`` as float64, for quantile sketches."""
    return _values_from_arrow(col).astype(np.float64, copy=False)


def _parquet_scan(df: DataFrame, col: str):
    """The (file, row group) splits of ``df``'s sorted files when
    ``build_sketch`` can read them directly, else None.  That takes a bare
    parquet scan: the optimized plan is a parquet ``LogicalRelation`` with
    no partition columns, at most under a ``Project`` of plain column
    references (no filter, alias or limit).  It also takes at most
    ``DIRECT_MAX_SPLITS`` splits, every footer opened by pyarrow on the
    driver, and ``col`` of the Arrow type Spark would hand a Python task in
    every file, so no task meets a file the JVM scan would read and it
    would not.  One footer read per file gives both the type and the row
    groups."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        exprs = plan.projectList()
        if any(exprs.apply(i).getClass().getSimpleName() != "AttributeReference"
               for i in range(exprs.size())):
            return None
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
            or rel.partitionSchema().nonEmpty()):
        return None
    fields = [f for f in df.schema.fields if f.name == col]
    files = sorted(df.inputFiles())
    if len(fields) != 1 or not 0 < len(files) <= DIRECT_MAX_SPLITS:
        return None
    try:
        want = to_arrow_type(fields[0].dataType)
    except TypeError:  # a type Arrow cannot carry takes the JVM path
        return None
    splits = []
    for f in files:
        try:
            pf = _parquet_file(f)
        except (pa.ArrowException, OSError):
            # a scheme pyarrow does not resolve (s3a://, dbfs:/, ...) or a
            # file it cannot open: the JVM scan reads it
            return None
        with pf:
            i = pf.schema_arrow.get_field_index(col)
            if i < 0 or pf.schema_arrow.field(i).type != want:
                return None
            splits += row_group_splits(f, pf.metadata.num_row_groups)
    return splits if len(splits) <= DIRECT_MAX_SPLITS else None


def _pack_splits(splits: list) -> list[list]:
    """At most ``FANIN`` contiguous runs of ``splits``, sizes within one of
    each other: a pure function of the split list."""
    n = len(splits)
    k = min(n, FANIN)
    return [splits[i * n // k:(i + 1) * n // k] for i in range(k)]


def build_sketch(df: DataFrame, col: str, factory: Callable[[int], object],
                 num_partitions: int | None = None, values: str = "int"):
    """Build one global sketch over ``df[col]``.

    ``factory(unit_or_partition_id)`` returns a fresh sketch (seed
    partition-local randomness off the id).  ``values``: "int" for key
    sketches (Bloom/HLL/CMS), "float" for quantile sketches (KLL/t-digest),
    "str" for labeled sketches (space-saving top-k).  A small bare parquet
    scan is read directly from its files unless ``num_partitions`` is given
    (module docstring).
    """
    extract = {"int": _values_from_arrow, "float": _numeric_from_arrow,
               "str": _values_from_arrow}[values]
    splits = _parquet_scan(df, col) if num_partitions is None else None
    if splits is None:
        sk, _, _ = fold_partitions(df, col, factory, extract, num_partitions)
    else:
        sk, _, _ = fold_parquet(df.sparkSession, _pack_splits(splits), col, factory,
                                extract)
    return sk
