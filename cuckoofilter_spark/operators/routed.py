"""Routed (hash-partitioned) cuckoo filter: the scale path for key domains
too large for one broadcastable filter.

A single global filter works while it fits an executor broadcast (vocab- or
entity-sized domains, ≲ a few hundred MB).  For 10^12 distinct keys (doc
ids) the filter itself is TBs — it must be distributed.  The routed design
makes the *filter state a table*:

    route(key) = pmod(xxhash64(key, ROUTE_SEED), n_routes)
    state      = DataFrame[(route int, blob binary)]   # one sub-filter per route

Each route owns an independent cuckoo filter over its disjoint key slice,
so sub-filters build in parallel with no cross-talk, merge by route, and
FPR math is unchanged (each key is hashed into exactly one sub-filter).

Probing is a co-partitioned join, not a broadcast: probes shuffle by route
(one shuffle of the probe keys — unavoidable at this scale) and meet their
sub-filter in ``cogroup().applyInPandas``.  Shuffle volume is O(probes) +
O(filter state ÷ once), never O(corpus).

Route uniformity comes from hashing, so the build shuffle is skew-free even
when the raw key distribution is Zipf (hot keys still land on one route,
but a *key* is one fingerprint — dedup semantics — so no route is heavy).

The route column is computed JVM-side (``xxhash64``) for both build and
probe, keeping route assignment engine-deterministic and pushdown-friendly;
the in-filter hashing stays our NumPy Dietzfelbinger hash — the two layers
are independent, like the reference's separation of table index vs
fingerprint hash (``CF/cuckoo_filter.h:165-178``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
from cuckoofilter_spark.params import CuckooParams

ROUTE_SEED = 0xC0
STATE_SCHEMA = "route long, blob binary, n_keys long"


def _route_col(col: str, n_routes: int):
    return F.pmod(F.xxhash64(F.col(col), F.lit(ROUTE_SEED)), F.lit(n_routes)).alias("route")


class RoutedCuckooFilter:
    """Handle over a (route, blob) state DataFrame."""

    def __init__(self, state: DataFrame, params: CuckooParams, n_routes: int,
                 dedup: bool = True):
        self.state = state
        self.params = params
        self.n_routes = n_routes
        self.dedup = dedup

    # -- build -------------------------------------------------------------
    @classmethod
    def build(cls, df: DataFrame, col: str, params: CuckooParams,
              n_routes: int = 64, dedup: bool = True) -> "RoutedCuckooFilter":
        """One shuffle by route; each route group builds its sub-filter.
        ``params`` sizes each SUB-filter — size for ndv/n_routes keys.

        Set-semantics builds (``dedup``) insert a map-side-combined
        ``distinct()`` before the route shuffle.  Shuffling every
        OCCURRENCE would move 10^6 copies of one 8-byte key for a Zipf
        stream's hottest key; the heavy shuffle then carries only distinct
        keys, at the cost of one extra shuffle of the distinct set — a win
        whenever the duplication factor exceeds ~2, which is every real
        corpus.  Under set semantics the distinct changes no answer;
        multiset builds keep every occurrence."""
        ptuple = params.to_tuple()

        def build_route(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            route = int(key[0])
            p = CuckooParams.from_tuple(ptuple)
            filt = DynamicCuckooFilter(p, rng_seed=route, dedup=dedup)
            keys = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
            if len(keys):
                filt.insert(keys)
            return pd.DataFrame({"route": [route], "blob": [serialize_filter(filt)],
                                 "n_keys": [filt.element_count]})

        # NULL is not a key: it is never inserted (nor deleted, nor a member)
        keyed = df.select(F.col(col)).where(F.col(col).isNotNull())
        if dedup:
            keyed = keyed.distinct()
        state = (
            keyed.select(F.col(col), _route_col(col, n_routes))
            .groupBy("route")
            .applyInPandas(build_route, schema=STATE_SCHEMA)
        )
        return cls(state, params, n_routes, dedup)

    def persist(self, path: str) -> "RoutedCuckooFilter":
        """Materialize the state table as parquet PARTITIONED BY route
        (the Iceberg-style layout): a probe job that touches a subset of
        routes — point lookups, route-sliced audits — prunes every other
        route's state at the scan instead of reading all blobs."""
        self.state.write.mode("overwrite").partitionBy("route").parquet(path)
        spark = self.state.sparkSession
        return self.load(spark, path, self.params, self.n_routes, self.dedup)

    @classmethod
    def load(cls, spark: SparkSession, path: str, params: CuckooParams,
             n_routes: int, dedup: bool = True) -> "RoutedCuckooFilter":
        # partition-column inference types `route` as int — restore long so
        # cogroup keys line up with the probe side's pmod(xxhash64) output
        state = spark.read.parquet(path).withColumn(
            "route", F.col("route").cast("long"))
        return cls(state, params, n_routes, dedup)

    # -- probe -------------------------------------------------------------
    def contains(self, probes: DataFrame, col: str) -> DataFrame:
        """Annotate *probes* with a ``member`` boolean.  Probes shuffle by
        route and meet their sub-filter via cogroup — no broadcast, no
        driver materialization of the filter."""
        out_schema = f"{col} long, member boolean"

        def probe_route(key: tuple, probe_pdf: pd.DataFrame,
                        state_pdf: pd.DataFrame) -> pd.DataFrame:
            keys = probe_pdf[col]
            member = np.zeros(len(keys), dtype=bool)  # empty route / NULL
            valid = keys.notna().to_numpy()
            if len(state_pdf) and valid.any():
                filt = deserialize_filter(bytes(state_pdf["blob"].iloc[0]))
                member[valid] = filt.contains(
                    keys[valid].to_numpy(dtype=np.int64))
            return pd.DataFrame({col: keys, "member": member})

        p = probes.select(F.col(col).cast("long").alias(col),
                          _route_col(col, self.n_routes))
        s = self.state
        return (
            p.groupBy("route")
            .cogroup(s.groupBy("route"))
            .applyInPandas(probe_route, schema=out_schema)
        )

    def member_semi(self, probes: DataFrame, col: str) -> DataFrame:
        """Rows of *probes* that are possibly-members (no false drops)."""
        return self.contains(probes, col).filter(F.col("member")).select(col)

    # -- delete ------------------------------------------------------------
    def delete(self, keys: DataFrame, col: str) -> "RoutedCuckooFilter":
        """Distributed delete (``deleteElement``,
        ``DCF/dynamic_cuckoo_filter.h:393-416`` lifted to the routed
        surface): the delete keys shuffle by route — never to the driver —
        and meet their sub-filter via cogroup; each touched route's blob is
        rewritten in place.  Routes with no delete keys pass their state
        through unchanged.  Returns a NEW handle (the state DataFrame is
        immutable lineage — at production scale, a new snapshot of the
        state table).

        Deletion semantics follow the underlying filter: multiset
        (``dedup=False``) removes one stored copy per delete; set mode
        removes membership.  The number of successful deletes is observable
        as the drop in ``stats()['n_keys']``."""
        ptuple = self.params.to_tuple()

        def delete_route(key: tuple, del_pdf: pd.DataFrame,
                         state_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(state_pdf) == 0:
                # keys routed to a route that never had state: no-op
                return pd.DataFrame({"route": pd.Series([], dtype="int64"),
                                     "blob": pd.Series([], dtype=object),
                                     "n_keys": pd.Series([], dtype="int64")})
            filt = deserialize_filter(bytes(state_pdf["blob"].iloc[0]))
            if len(del_pdf):
                ks = del_pdf[col].to_numpy(dtype=np.int64)
                filt.delete(ks)
            return pd.DataFrame({"route": [int(key[0])],
                                 "blob": [serialize_filter(filt)],
                                 "n_keys": [filt.element_count]})

        k = (keys.where(F.col(col).isNotNull())
             .select(F.col(col).cast("long").alias(col),
                     _route_col(col, self.n_routes)))
        state = (
            k.groupBy("route")
            .cogroup(self.state.groupBy("route"))
            .applyInPandas(delete_route, schema=STATE_SCHEMA)
        )
        return RoutedCuckooFilter(state, self.params, self.n_routes, self.dedup)

    # -- merge -------------------------------------------------------------
    def merge(self, other: "RoutedCuckooFilter") -> "RoutedCuckooFilter":
        """Union two routed filters (same routing config): per-route blob
        merge — state-only shuffle, keys are never touched."""
        if (self.n_routes, self.params.to_tuple()) != (other.n_routes, other.params.to_tuple()):
            raise ValueError("merge: routing config (n_routes, params) differs")

        def merge_route(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("n_keys", ascending=False)
            acc = None
            for blob in pdf["blob"]:
                f = deserialize_filter(bytes(blob))
                acc = f if acc is None else acc.merge(f)
            return pd.DataFrame({"route": [int(key[0])],
                                 "blob": [serialize_filter(acc)],
                                 "n_keys": [acc.element_count]})

        state = (
            self.state.unionByName(other.state)
            .groupBy("route")
            .applyInPandas(merge_route, schema=STATE_SCHEMA)
        )
        return RoutedCuckooFilter(state, self.params, self.n_routes, self.dedup)

    # -- stats -------------------------------------------------------------
    def stats(self) -> dict:
        row = self.state.agg(
            F.count("*").alias("routes"), F.sum("n_keys").alias("keys"),
            F.sum(F.length("blob")).alias("bytes")).collect()[0]
        return {"routes_materialized": row["routes"], "n_keys": row["keys"],
                "state_bytes": row["bytes"]}
