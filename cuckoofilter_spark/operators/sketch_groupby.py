"""Per-key sketch aggregation: the batch GROUP BY whose aggregation value
is a sketch — `SELECT key, approx_ndv(value)` at any key cardinality.

State per key is bounded by the sketch (O(2^p) bytes for HLL) — reducer
memory is bounded regardless of how many values a key has, which is the
entire point at 10^12 rows (an exact distinct per key materializes the
full value set per reducer).

Every public function here only names its sketch factory and how one
sketch becomes output rows; ``_by_key`` is the one driver.  It runs
``groupBy(key).applyInArrow`` and updates one sketch per group, once, with
the group's non-NULL values — NULL is not a value (``COUNT(DISTINCT)``
semantics), so an all-NULL group emits the empty sketch's rows.

Skew: a hot key's values all route to one group.  ``salt_buckets`` builds
one partial sketch per (key, ``pmod(xxhash64(value), salt_buckets)``),
ships it as one ``build.encode`` blob, and folds the partials per key
with ``build._fold_blobs`` in ascending salt order — never shuffle-arrival
order, which matters for merges that depend on order (space-saving).
Each distinct value lands wholly in one salt, so reducer input is bounded
by ~1/salt_buckets of a hot key and per-value partial state is exact.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.operators.build import _fold_blobs, encode
from cuckoofilter_spark.sketches import (
    HyperLogLog,
    KLLSketch,
    KMVSketch,
    SpaceSavingSketch,
)


def _keyed(table, key: str, cols: dict):
    """Output rows of one group: ``cols`` behind the group's key value."""
    n = len(next(iter(cols.values())))
    return pa.table({key: table.column(key).take([0] * n), **cols})


def _by_key(df: DataFrame, key: str, value: str, new_sketch, emit,
            out_cols: str, salt_buckets: int | None = None) -> DataFrame:
    """(key, *``out_cols``) — one ``new_sketch()`` per key, updated with
    the key's non-NULL values and turned into columns by ``emit(sketch)``
    (a dict of equal-length Arrow arrays); salted partials are merged as
    the module docstring says."""
    key_t = dict(df.dtypes)[key]
    schema = f"{key} {key_t}, {out_cols}"

    def sketch_of(table):
        sk = new_sketch()
        vals = table.column(value).drop_null()
        if len(vals):
            sk.update(vals.to_numpy())
        return sk

    def direct(table):
        return _keyed(table, key, emit(sketch_of(table)))

    if not salt_buckets:
        return df.select(key, value).groupBy(key).applyInArrow(direct, schema=schema)

    def partial(table):
        return _keyed(table, key, {
            "_salt": table.column("_salt").slice(0, 1),
            "blob": pa.array([encode(sketch_of(table))], pa.binary())})

    def merge(table):
        return _keyed(table, key, emit(_fold_blobs(
            table.column("_salt").to_pylist(), table.column("blob").to_pylist())))

    salt = F.pmod(F.xxhash64(value), F.lit(salt_buckets)).alias("_salt")
    return (df.select(key, value, salt).groupBy(key, "_salt")
            .applyInArrow(partial, schema=f"{key} {key_t}, _salt long, blob binary")
            .groupBy(key).applyInArrow(merge, schema=schema))


def ndv_by_key(df: DataFrame, key: str, value: str, p: int = 12, seed: int = 7,
               salt_buckets: int | None = None) -> DataFrame:
    """(key, ndv_estimate) — one HLL per key.  Salted estimates equal the
    unsalted ones (HLL merge is exact on register state)."""
    return _by_key(
        df, key, value, lambda: HyperLogLog(p=p, seed=seed),
        lambda sk: {"ndv_estimate": pa.array([int(sk.estimate())], pa.int64())},
        "ndv_estimate long", salt_buckets)


def quantiles_by_key(df: DataFrame, key: str, value: str,
                     qs: tuple[float, ...] = (0.25, 0.5, 0.75),
                     k: int = 200, seed: int = 5) -> DataFrame:
    """(key, q_x100, quantile_estimate) — one KLL sketch per key, the
    `GROUP BY` whose aggregate is a quantile sketch.  State per key is
    O(k·log(n/k)) floats regardless of group size (an exact per-key
    percentile sorts every group).  Rank error ≤ ~1.7/k per the KLL bound,
    checked against exact per-key ranks in tests and the driver oracle.
    An all-NULL key's estimates are NULL."""
    qarr = np.asarray(qs, dtype=np.float64)

    def emit(sk):
        # from_pandas: the empty sketch's NaN estimates become NULL
        return {"q_x100": pa.array((qarr * 100).astype(np.int64)),
                "quantile_estimate": pa.array(sk.quantile(qarr), pa.float64(),
                                              from_pandas=True)}

    return _by_key(df, key, value, lambda: KLLSketch(k=k, seed=seed), emit,
                   "q_x100 long, quantile_estimate double")


def topk_by_key(df: DataFrame, key: str, value: str, k: int = 1024,
                m: int = 10, salt_buckets: int | None = None) -> DataFrame:
    """(key, item, est, err) — per-key heavy-hitter DISCOVERY: one
    space-saving sketch per key, emitting its top-``m`` counters plus the
    key-level deterministic error bound (est ≤ true ≤ est + err for every
    item of that key; any item with true > err is present).

    The `GROUP BY key ORDER BY count DESC LIMIT m` that at 10^12 rows
    needs a full (key, value) count shuffle becomes k labeled counters of
    reducer state per key.  Salted partials hold exact per-value counts,
    so the per-key merge (pointwise sum, err adds) preserves the
    space-saving guarantee.

    ``item`` is stringified (labels survive the sketch — mixed int/str keys
    normalize); callers gate against exact counts via str(value).
    """
    def emit(sk):
        top = sk.top(m)
        return {"item": pa.array([str(i) for i, _ in top], pa.string()),
                "est": pa.array([c for _, c in top], pa.int64()),
                "err": pa.array([sk.err] * len(top), pa.int64())}

    return _by_key(df, key, value, lambda: SpaceSavingSketch(k=k), emit,
                   "item string, est long, err long", salt_buckets)


def kmv_by_key(df: DataFrame, key: str, value: str, k: int = 1024,
               seed: int = 0, salt_buckets: int | None = None) -> DataFrame:
    """(key, blob) — one KMV bottom-k distinct sketch per key, built in
    ONE grouped aggregation job (vs a per-key driver loop of builds, which
    is S separate Spark jobs at S keys).  The blobs (``KMVSketch.to_bytes``)
    support the theta-sketch set operations (`sketches.kmv`): union /
    intersection / Jaccard between any two keys from the collected S·k·8
    bytes.  KMV merge is a set union, so the salted result is
    bit-identical to the unsalted one.
    """
    return _by_key(
        df, key, value, lambda: KMVSketch(k=k, seed=seed),
        lambda sk: {"blob": pa.array([sk.to_bytes()], pa.binary())},
        "blob binary", salt_buckets)
