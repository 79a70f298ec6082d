"""Generic distributed sketch build: the build driver of
``operators/build.py`` parameterized over the ``Sketch`` protocol
(Bloom/HLL/count-min/KLL/t-digest all ride it).

One partial aggregate per input partition; merge levels shrink the blob
count by ``build.FANIN``; fold order inside each group is ascending
partition id, so the merge tree is a pure function of the partition count.
What holds across scan splits and cluster sizes: the bytes of order-free
states (HLL, count-min, Bloom, KMV) and every membership answer are
identical.  What does not: the bytes of order-sensitive states (KLL,
t-digest) follow the partition layout, which the scan's split size
decides (``spark.sql.files.maxPartitionBytes`` 128m vs 1m over one token
corpus at local[4]: 4 vs 16 partitions, different KLL bytes, the same HLL
bytes).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame

from cuckoofilter_spark.operators.build import _keys_from_arrow, fold_partitions


def _numeric_from_arrow(col) -> np.ndarray:
    """Flatten an Arrow scalar/list numeric column to float64 (nulls → NaN,
    dropped by quantile sketches); zero-copy offset arithmetic."""
    import pyarrow as pa

    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    return col.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)


def _strings_from_arrow(col) -> np.ndarray:
    """Flatten an Arrow string (or list<string>) column to an object array
    — for labeled sketches (top-k heavy hitters keep the actual keys)."""
    import pyarrow as pa

    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    if col.null_count:
        col = col.drop_null()
    return col.to_numpy(zero_copy_only=False)


def build_sketch(df: DataFrame, col: str, factory: Callable[[int], object],
                 num_partitions: int | None = None, values: str = "int"):
    """Build one global sketch over ``df[col]``.

    ``factory(partition_id)`` returns a fresh sketch (seed partition-local
    randomness off the id).  ``values``: "int" for key sketches
    (Bloom/HLL/CMS), "float" for quantile sketches (KLL/t-digest),
    "str" for labeled sketches (space-saving top-k).
    """
    extract = {"int": _keys_from_arrow, "float": _numeric_from_arrow,
               "str": _strings_from_arrow}[values]
    sk, _, _ = fold_partitions(df, col, factory, extract, num_partitions)
    return sk
