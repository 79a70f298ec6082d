"""JVM-only membership pruning — the zero-Python alternative probe path.

Our cuckoo/broadcast probe (``operators/membership.py``) crosses into an
Arrow Python UDF; it is vectorized and cached, but some users want a
pruning path that never leaves the JVM and are happy with *Bloom*
semantics (no delete, no counting).  Spark 4 does not register
``bloom_filter_agg``/``might_contain`` as callable SQL functions — they
are optimizer-internal — so the idiomatic JVM-only path is Catalyst's own
**runtime bloom filter injection** (SPARK-32268): enable it and write the
membership check as a plain semi join; the optimizer builds the bloom over
the build side and pushes ``might_contain(xxhash64(key))`` into the probe
side's scan filter, all inside whole-stage codegen.

This fires exactly in the regime where it matters: a non-broadcast
(shuffle) join whose build side is selective — at 100 TB both sides are
big, the join shuffles, and the injected bloom drops non-candidate probe
rows BEFORE the shuffle (shuffle volume falls by the filter's selectivity
× probe size).  For broadcast-sized build sides Spark skips the bloom
because the broadcast hash join already prunes for free.

Semantics: the final semi join is exact — the bloom only pre-filters, so
false positives cost shuffle, never correctness (same contract as our
``membership_df(keep=False)`` no-false-drop direction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: confs that let Catalyst inject a runtime bloom filter on shuffle joins.
#: applicationSideScanSizeThreshold=0 lets small test tables qualify; at
#: production scale the default (10GB) is sensible.
RUNTIME_BLOOM_CONFS: dict[str, str] = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
}


def enable_runtime_bloom(spark: SparkSession) -> None:
    for k, v in RUNTIME_BLOOM_CONFS.items():
        spark.conf.set(k, v)


def bloom_pruned_semi_join(probes: DataFrame, probe_col: str,
                           members: DataFrame, member_col: str) -> DataFrame:
    """Exact membership semi join written so the optimizer can inject a
    runtime bloom filter into the probe scan (call ``enable_runtime_bloom``
    first; injection requires a non-broadcast join).  Returns the probe
    rows whose key appears in *members* — exact, with JVM-side bloom
    pre-pruning when Catalyst deems it profitable."""
    m = members.select(member_col)
    return probes.join(m, probes[probe_col] == m[member_col], "left_semi")


def plan_has_bloom_prune(df: DataFrame) -> bool:
    """True when the executed plan contains the injected bloom probe
    (``might_contain`` over the build-side ``bloom_filter_agg``)."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return "might_contain" in plan
