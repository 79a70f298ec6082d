"""The four workloads: inputs, the timed call, correctness gates, quality
metrics and the single-process replay used by the traced run.

Every workload drives the program only through its public functions
(``operators.build``, ``operators.membership``, ``operators.sketch_build``,
``core``, ``hashing``, ``sketches``).  Sizes are chosen so that one timed call
takes one to three seconds at local[4], several calls fit in one run for a
median, and generating the inputs for a new seed takes a few seconds.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

#: rows per Arrow batch handed to a pandas UDF (the session's
#: spark.sql.execution.arrow.maxRecordsPerBatch)
ARROW_BATCH_ROWS = 20_000
#: batch size of the pyarrow reader inside build_filter_from_parquet
PARQUET_BATCH_ROWS = 8192
#: parquet files per input, one row group each: build_filter_from_parquet
#: runs one task per file, and the 16 blobs take one executor merge level
#: (fanin 8) before the driver folds the last two.  Every task pays a fixed
#: Python-worker start-up, so the file count sets most of a call's wall.
N_FILES = 16
#: merge fanin of build_filter_from_parquet (its default)
FANIN = 8


def _md5(*arrays) -> str:
    h = hashlib.md5()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


def cuckoo_params():
    """2^15 buckets x 4 slots of 16 bits, capacity 117_964: the 50_000-token
    vocabulary fits one table, distinct_build's 200_000 keys chain to two."""
    from cuckoofilter_spark.params import CuckooParams

    return CuckooParams(max_table_size=50_000, bits_per_fp=16)


class Gate:
    """Outcome of the correctness gates on one call's answer."""

    def __init__(self, ok: bool, digest: str, why: str = ""):
        self.ok, self.digest, self.why = ok, digest, why


class CuckooBuild:
    """Shared by ``tokens_build`` and ``distinct_build``: a
    ``build_filter_from_parquet`` call over ``self.ds``."""

    #: untimed calls in set-up.  The first spawns the Python workers; calls
    #: keep getting cheaper for a few more (measured: flat from the third)
    warmup_calls = 2
    col = "tokens"
    #: non-members probed once per run for ``fpr``: a few hundred to ~1500
    #: false positives at the workload's load, so the rate is read to a few %
    fpr_probes = 1 << 22

    def members(self) -> np.ndarray:
        raise NotImplementedError

    def nonmembers(self, n: int, start: int = 0) -> np.ndarray:
        raise NotImplementedError

    def prepare_program(self, spark) -> None:
        from cuckoofilter_spark.operators.build import build_filter_from_parquet

        self.p = cuckoo_params()
        self._build = build_filter_from_parquet
        m = self.members()
        self.check_keys = np.concatenate([m, self.nonmembers(50_000)])
        self.n_members = len(m)

    def call(self, spark):
        return self._build(spark, self.ds.path, self.col, self.p)

    def gate(self, filt) -> Gate:
        """Zero false negatives; the answers digest covers the members and
        the FIXTURES section 2 non-members.  The fpr bound is checked once per
        run, on ``fpr_probes`` non-members (``quality``): calls with equal
        digests hold the same filter."""
        ans = filt.contains(self.check_keys)
        fn = int((~ans[:self.n_members]).sum())
        return Gate(fn == 0, _md5(ans), f"{fn} false negatives" if fn else "")

    def quality(self, filt) -> dict:
        fp = 0
        for lo in range(0, self.fpr_probes, 1 << 20):
            chunk = self.nonmembers(min(1 << 20, self.fpr_probes - lo), lo)
            fp += int(filt.contains(chunk).sum())
        fpr = fp / self.fpr_probes
        bound = filt.cf_count * self.p.fpr_bound
        return {"fpr": fpr, "fpr_ok": fpr <= bound,
                "filter_bytes_per_key": filt.memory_bytes() / self.n_members}

    def final_filter(self, result):
        return result

    def replay_files(self) -> list[str]:
        return self.ds.files


class TokensBuild(CuckooBuild):
    """FIXTURES section 1 Zipf corpus -> one global filter (the headline path)."""

    name = "tokens_build"
    item_unit = "tokens"

    def __init__(self, cache: str, seed: int, scale: float):
        self.ds = gen.tokens(cache, seed, max(N_FILES, int(20_000 * scale)), N_FILES)
        self.items = self.ds.manifest["n_tokens"]
        self.counts = gen.token_counts(self.ds)
        self.fpr_probes = int(self.fpr_probes * min(1.0, scale))

    def members(self):
        return np.nonzero(self.counts)[0].astype(np.int64)

    def nonmembers(self, n, start=0):
        return gen.nonmember_tokens(n, start)


class DistinctBuild(CuckooBuild):
    """Distinct int64 keys (a dedup index) -> a filter that must chain."""

    name = "distinct_build"
    item_unit = "keys"
    col = "key"

    def __init__(self, cache: str, seed: int, scale: float):
        self.seed = seed
        self.n_keys = max(N_FILES, int(200_000 * scale))
        self.ds = gen.distinct(cache, seed, self.n_keys, N_FILES)
        self.items = self.n_keys
        self.fpr_probes = int((1 << 23) * min(1.0, scale))

    def members(self):
        return gen.distinct_keys(self.seed, self.n_keys)

    def nonmembers(self, n, start=0):
        return gen.distinct_nonmembers(self.seed, self.n_keys, n, start)


class Probe:
    """Broadcast probe of a prebuilt multi-MB filter, counted by is_member."""

    name = "probe"
    item_unit = "probes"
    warmup_calls = 2

    def __init__(self, cache: str, seed: int, scale: float):
        self.seed = seed
        self.n_keys = max(1024, int(1_000_000 * scale))
        n_rows = max(1024, int(2_000_000 * scale))
        self.keys_ds = gen.distinct(cache, seed, self.n_keys, N_FILES)
        self.ds = gen.probe(cache, seed, self.n_keys, n_rows, 8)
        self.items = n_rows
        self.n_members = self.ds.manifest["n_members"]
        self.n_nonmembers = n_rows - self.n_members

    def prepare_program(self, spark) -> None:
        from cuckoofilter_spark.operators.build import build_filter_from_parquet
        from cuckoofilter_spark.operators.membership import membership_df
        from cuckoofilter_spark.params import CuckooParams

        # 12-bit fingerprints: 16x the false positives of 16-bit, so the
        # rate is measured to a few % on the probe table's own non-members
        self.p = CuckooParams(max_table_size=1 << 20, bits_per_fp=12)
        self.filt = build_filter_from_parquet(spark, self.keys_ds.path, "key", self.p)
        self.probes = spark.read.parquet(self.ds.path)
        self._membership_df = membership_df

    def call(self, spark):
        rows = (self._membership_df(spark, self.filt, self.probes, "key")
                .groupBy("is_member").count().collect())
        return {bool(r["is_member"]): int(r["count"]) for r in rows}

    def gate(self, counts) -> Gate:
        kept_members = counts.get(True, 0)
        fpr = counts.get(False, 0) / self.n_nonmembers
        bound = self.filt.cf_count * self.p.fpr_bound
        why = []
        if kept_members != self.n_members:
            why.append(f"{self.n_members - kept_members} false negatives")
        if fpr > bound:
            why.append(f"fpr {fpr} > {bound}")
        return Gate(not why, _md5(np.array([kept_members, counts.get(False, 0)])),
                    "; ".join(why))

    def quality(self, counts) -> dict:
        fpr = counts.get(False, 0) / self.n_nonmembers
        return {"fpr": fpr, "fpr_ok": fpr <= self.filt.cf_count * self.p.fpr_bound,
                "filter_bytes_per_key": self.filt.memory_bytes() / self.n_keys}

    def final_filter(self, result):
        return self.filt

    def replay_files(self) -> list[str]:
        return self.keys_ds.files


class Sketches:
    """The token corpus through the JVM scan -> HLL, count-min and KLL."""

    name = "sketches"
    item_unit = "token-updates"
    #: the JVM scan keeps getting cheaper for longer (measured: flat from the
    #: fifth call)
    warmup_calls = 4
    HLL_P = 14
    CMS_DEPTH, CMS_WIDTH = 5, 1 << 16
    KLL_K = 200
    QUANTILES = (0.5, 0.9, 0.99)

    def __init__(self, cache: str, seed: int, scale: float):
        self.ds = gen.tokens(cache, seed, max(N_FILES, int(20_000 * scale)), N_FILES)
        self.counts = gen.token_counts(self.ds)
        self.n_tokens = self.ds.manifest["n_tokens"]
        self.items = 3 * self.n_tokens  # every token updates all three sketches
        self.head = np.argsort(-self.counts, kind="stable")[:100]
        self.nonmember = gen.nonmember_tokens(50_000)
        self.cum = np.cumsum(self.counts)

    def prepare_program(self, spark) -> None:
        from cuckoofilter_spark.operators.sketch_build import build_sketch
        from cuckoofilter_spark.sketches import CountMinSketch, HyperLogLog, KLLSketch

        # filter parameters the replay's cuckoo layers use on this corpus
        self.p = cuckoo_params()
        self.df = spark.read.parquet(self.ds.path).select("tokens")
        self._build = build_sketch
        p, d, w, k = self.HLL_P, self.CMS_DEPTH, self.CMS_WIDTH, self.KLL_K
        self.factories = {
            "hll": (lambda pid: HyperLogLog(p), "int"),
            "cms": (lambda pid: CountMinSketch(d, w), "int"),
            "kll": (lambda pid: KLLSketch(k, seed=pid), "float"),
        }

    def call(self, spark):
        return {name: self._build(self.df, "tokens", fac, values=vals)
                for name, (fac, vals) in self.factories.items()}

    def _answers(self, sk):
        hll = sk["hll"].estimate()
        cms_head = sk["cms"].estimate(self.head)
        cms_neg = sk["cms"].estimate(self.nonmember)
        kll = np.asarray(sk["kll"].quantile(list(self.QUANTILES)))
        return hll, cms_head, cms_neg, kll

    def gate(self, sk) -> Gate:
        hll, cms_head, cms_neg, kll = self._answers(sk)
        why = []
        exact = float((self.counts > 0).sum())
        if abs(hll - exact) > 4 * sk["hll"].rel_error * exact:
            why.append(f"hll {hll} vs exact {exact}")
        true = self.counts[self.head]
        if (cms_head < true).any():
            why.append("count-min under-estimate")
        cms = sk["cms"]
        over = int((cms_head > true + cms.eps * cms.n_items).sum())
        if over > int(np.ceil(3 * np.exp(-cms.depth) * len(true))):
            why.append(f"count-min: {over} estimates over the eps*N bound")
        n = self.cum[-1]
        tol = 2 * sk["kll"].rank_error
        for q, v in zip(self.QUANTILES, kll):
            v = int(v)
            lo = (self.cum[v - 1] if v > 0 else 0) / n
            hi = self.cum[v] / n
            if not lo - tol <= q <= hi + tol:
                why.append(f"kll q{q}={v} has rank [{lo}, {hi}]")
        return Gate(not why, _md5(np.array([hll]), cms_head, cms_neg, kll), "; ".join(why))

    def quality(self, sk) -> dict:
        from cuckoofilter_spark.sketches import serialize_sketch

        _, _, cms_neg, _ = self._answers(sk)
        nbytes = sum(len(serialize_sketch(s)) for s in sk.values())
        # count-min read as a membership test: "estimate > 0" on never-seen tokens
        return {"fpr": float((cms_neg > 0).mean()),
                "filter_bytes_per_key": nbytes / float((self.counts > 0).sum()),
                "fpr_ok": True}

    def final_filter(self, result):
        return None

    def replay_files(self) -> list[str]:
        return self.ds.files


WORKLOADS = {w.name: w for w in (TokensBuild, DistinctBuild, Probe, Sketches)}


# -- single-process replay (traced run) ------------------------------------

def install_layer_wrappers(tracer) -> None:
    """Wrap the program functions one build split, merge, probe batch or
    sketch update calls.  Only for the replay: no Spark job may be built
    while these are installed."""
    from cuckoofilter_spark.core import dynamic_filter as dfm
    from cuckoofilter_spark.core import serde
    from cuckoofilter_spark.core.cuckoo_table import CuckooTable
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.operators import membership
    from cuckoofilter_spark.sketches import CountMinSketch, HyperLogLog, KLLSketch

    n0 = lambda a, k, r: {"items": len(a[0])}  # noqa: E731
    n1 = lambda a, k, r: {"items": len(a[1])}  # noqa: E731
    tracer.wrap(dfm, "hash64", "hashing.hash64", n0)
    tracer.wrap(DynamicCuckooFilter, "first_pass", "core.dynamic_filter.first_pass", n1)
    tracer.wrap(DynamicCuckooFilter, "insert", "core.dynamic_filter.insert", n1)
    tracer.wrap(DynamicCuckooFilter, "contains_fps", "core.dynamic_filter.contains_fps", n1)
    tracer.wrap(DynamicCuckooFilter, "merge", "core.dynamic_filter.merge",
                lambda a, k, r: {"fps": a[1].element_count})
    tracer.wrap(DynamicCuckooFilter, "compact", "core.dynamic_filter.compact")
    tracer.wrap(CuckooTable, "bulk_place", "core.cuckoo_table.bulk_place",
                lambda a, k, r: {"items": len(a[1]), "placed": int(r.sum())})
    tracer.wrap(CuckooTable, "kick_insert", "core.cuckoo_table.kick_insert",
                lambda a, k, r: {"leftover": int(r is not None)})
    tracer.wrap(CuckooTable, "contains_at", "core.cuckoo_table.contains_at", n1)
    slots = lambda f: sum(t.table.size for t in f.tables)  # noqa: E731
    tracer.wrap(serde, "serialize_filter", "core.serde.serialize",
                lambda a, k, r: {"slots": slots(a[0]), "bytes": len(r)})
    for mod in (serde, membership):
        tracer.wrap(mod, "deserialize_filter", "core.serde.deserialize",
                    lambda a, k, r: {"slots": slots(r)})
    tracer.wrap(membership, "_get_filter", "operators.membership.get_filter")
    for tag, cls in (("hll", HyperLogLog), ("cms", CountMinSketch), ("kll", KLLSketch)):
        tracer.wrap(cls, "update", f"sketches.{tag}.update", n1)
        tracer.wrap(cls, "merge", f"sketches.{tag}.merge")
        tracer.wrap(cls, "to_bytes", f"sketches.{tag}.to_bytes",
                    lambda a, k, r: {"bytes": len(r)})


def replay(w, tracer):
    """Re-run, in this process, the work of ``w``'s map and merge tasks on all
    of its files (build splits, the fanin-8 merge tree and compact, probe
    batches, sketch updates and merges), with the wrappers of
    ``install_layer_wrappers`` recording.

    Every workload replays every layer on its own input, so a layer's
    numbers can be compared across workloads; the spans named
    ``replay.task`` are the ones that mirror the workload's own map tasks.
    Returns the filter the probe batches ran against: the workload's final
    filter, or for ``sketches`` the replay's own merged one."""
    from cuckoofilter_spark.core import serde
    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.operators import build, membership
    from cuckoofilter_spark.sketches import CountMinSketch, HyperLogLog, KLLSketch

    files = w.replay_files()
    col = "key" if w.name in ("distinct_build", "probe") else "tokens"
    own = {"tokens_build": "build", "distinct_build": "build", "probe": "probe",
           "sketches": "sketch"}[w.name]

    def split_keys(path):
        pf = pq.ParquetFile(path)
        it = pf.iter_batches(columns=[col], batch_size=PARQUET_BATCH_ROWS)
        while True:
            with tracer.span("operators.build.decode") as s:
                rb = next(it, None)
            if rb is None:
                return
            with tracer.span("operators.build.flatten") as f:
                keys = build._keys_from_arrow(rb.column(0))
            s["counts"]["items"] = f["counts"]["items"] = len(keys)
            yield keys

    # 1. build splits (read_build in operators/build.py)
    blobs = []
    for sid, path in enumerate(files):
        with tracer.span("replay.task" if own == "build" else "replay.build_split"):
            filt = DynamicCuckooFilter(w.p, rng_seed=sid, dedup=True)
            for keys in split_keys(path):
                before = filt.element_count
                filt.insert(keys)
                tracer.last("core.dynamic_filter.insert")["counts"]["admitted"] = (
                    filt.element_count - before)
            blobs.append(serde.serialize_filter(filt))
    # 2. the merge tree of tree_merge_blobs: fold groups of FANIN blobs in
    # pid order while more than FANIN remain, then the driver fold + compact
    with tracer.span("replay.merge"):
        while len(blobs) > FANIN:
            nxt = []
            for lo in range(0, len(blobs), FANIN):
                acc = None
                for blob in blobs[lo:lo + FANIN]:
                    f = serde.deserialize_filter(blob)
                    acc = f if acc is None else acc.merge(f)
                nxt.append(serde.serialize_filter(acc))
            blobs = nxt
        acc = None
        for blob in blobs:
            f = serde.deserialize_filter(blob)
            acc = f if acc is None else acc.merge(f)
        acc.compact()
    # 3. probe batches (the pandas UDF of operators/membership.py)
    filt = w.final_filter(getattr(w, "last_result", None)) or acc
    bc_blob = serde.serialize_filter(filt)
    membership._FILTER_CACHE.clear()
    if own == "probe":
        tables = [pq.read_table(f, columns=["key"]) for f in w.ds.files]
    else:
        # members of two files plus as many FIXTURES section 2 non-members
        keys = np.concatenate([build._keys_from_arrow(pq.read_table(f, columns=[col]).column(0)
                                                      .combine_chunks()) for f in files[:2]])
        keys = np.concatenate([keys.astype(np.int64), np.arange(60_000, 60_000 + len(keys))])
        tables = [pa.table({"key": keys})]
    for t in tables:
        with tracer.span("replay.task" if own == "probe" else "replay.probe_split"):
            for rb in t.to_batches(max_chunksize=ARROW_BATCH_ROWS):
                with tracer.span("operators.membership.to_pandas", items=rb.num_rows):
                    series = rb.column(0).to_pandas()
                f = membership._get_filter(bc_blob)
                with tracer.span("operators.membership.contains", items=rb.num_rows):
                    res = f.contains(series.to_numpy(dtype="int64", na_value=0))
                    res = res & ~series.isna().to_numpy()
    # 4. sketch updates, merge and wire size (build_sketch's build_fn/merge)
    parts = []
    for pid, path in enumerate(files):
        with tracer.span("replay.task" if own == "sketch" else "replay.sketch_split"):
            sk = {"hll": HyperLogLog(Sketches.HLL_P),
                  "cms": CountMinSketch(Sketches.CMS_DEPTH, Sketches.CMS_WIDTH),
                  "kll": KLLSketch(Sketches.KLL_K, seed=pid)}
            for keys in split_keys(path):
                sk["hll"].update(keys)
                sk["cms"].update(keys)
                sk["kll"].update(keys.astype(np.float64, copy=False))
            for s in sk.values():
                s.to_bytes()
            parts.append(sk)
    with tracer.span("replay.sketch_merge"):
        for tag in ("hll", "cms", "kll"):
            acc_s = parts[0][tag]
            for p in parts[1:]:
                acc_s = acc_s.merge(p[tag])
            acc_s.to_bytes()
    return filt
