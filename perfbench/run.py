#!/usr/bin/env python3
"""Benchmark of cuckoofilter_spark at local[nproc], one workload per run.

    python3 perfbench/run.py --workload tokens_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --compare A.json B.json

Run from the repository root.  One closed-loop client: this process starts
a timed call only after the previous one returned, and nothing else loads
the machine.  Inputs are generated from ``--seed`` and cached under
``.perfbench_cache/``; results and traces go to ``.perfbench_out/``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see README.md).  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proctree  # noqa: E402

END_TO_END = [
    ("setup_s", "s"), ("items_per_s", "items/s"), ("cpu_s_per_mitem", "s/Mitem"),
    ("peak_rss_mb", "MB"), ("filter_bytes_per_key", "B/key"), ("fpr", "ratio"),
]

PER_LAYER = [
    ("spark.map.run_s", "s", "lower"), ("spark.map.jvm_cpu_s", "s", "lower"),
    ("spark.map.tasks", "count", "lower"), ("spark.map.task_max_over_p50", "ratio", "lower"),
    ("spark.merge.run_s", "s", "lower"), ("spark.merge.levels", "count", "lower"),
    ("spark.shuffle.write_bytes", "B", "lower"), ("spark.shuffle.read_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"), ("spark.gc_s", "s", "lower"),
    ("spark.python.bytes_sent", "B", "lower"), ("spark.python.bytes_received", "B", "lower"),
    ("spark.python.start_s", "s", "lower"), ("spark.python.init_s", "s", "lower"),
    ("spark.python.run_s", "s", "lower"), ("spark.core_idle_share", "ratio", "lower"),
    ("driver.collect_s", "s", "lower"), ("driver.fold_s", "s", "lower"),
    ("driver.compact_s", "s", "lower"), ("driver.broadcast_bytes", "B", "lower"),
    ("operators.build.decode_ns_per_item", "ns", "lower"),
    ("operators.build.flatten_ns_per_item", "ns", "lower"),
    ("hashing.hash64_ns_per_item", "ns", "lower"),
    ("core.dynamic_filter.insert_self_ns_per_item", "ns", "lower"),
    ("core.dynamic_filter.contains_fps_ns_per_item", "ns", "lower"),
    ("core.dynamic_filter.admitted_share", "ratio", "lower"),
    ("core.dynamic_filter.merge_ns_per_fp", "ns", "lower"),
    ("core.dynamic_filter.compact_s", "s", "lower"),
    ("core.dynamic_filter.chain_len", "count", "lower"),
    ("core.dynamic_filter.load_factor", "ratio", "higher"),
    ("core.cuckoo_table.bulk_place_ns_per_item", "ns", "lower"),
    ("core.cuckoo_table.bulk_place_placed_share", "ratio", "higher"),
    ("core.cuckoo_table.kick_insert_calls", "count", "lower"),
    ("core.cuckoo_table.kick_insert_s", "s", "lower"),
    ("core.cuckoo_table.kick_leftovers", "count", "lower"),
    ("core.cuckoo_table.contains_at_ns_per_probe", "ns", "lower"),
    ("core.serde.serialize_ns_per_slot", "ns", "lower"),
    ("core.serde.bytes_per_slot", "B", "lower"),
    ("core.serde.deserialize_ns_per_slot", "ns", "lower"),
    ("operators.membership.get_filter_ns_per_batch", "ns", "lower"),
    ("operators.membership.contains_ns_per_probe", "ns", "lower"),
    ("operators.membership.to_pandas_ns_per_probe", "ns", "lower"),
] + [(f"sketches.{t}.{m}", u, "lower") for t in ("hll", "cms", "kll")
     for m, u in (("update_ns_per_item", "ns"), ("merge_s", "s"), ("bytes", "B"))] + [
    ("replay.map_est_s", "s", "lower"), ("trace.span_coverage", "ratio", "higher"),
    ("trace.overhead_share", "ratio", "lower"), ("trace.items_per_s_traced", "items/s", "higher"),
]

#: a run makes at least this many timed calls, however long they take
MIN_CALLS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- environment -----------------------------------------------------------

def env_stamp(w) -> dict:
    import hashlib

    import numpy
    import pyarrow
    import pyspark

    h = hashlib.md5()
    pkg = os.path.join(ROOT, "cuckoofilter_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    digests = {"input": w.ds.digest}
    if hasattr(w, "keys_ds"):
        digests["filter_keys"] = w.keys_ds.digest
    return {"nproc": nproc(), "ram_gb": round(mem_kb / 2**20, 1), "git_commit": commit,
            "program_md5": h.hexdigest(), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "input_digests": digests}


# -- Spark lifetime ----------------------------------------------------------

def checkout_env(cache: str) -> str:
    """Point this process, Spark's workers and every JVM at the checkout: the
    program is imported from it and temporary files stay under ``cache``.
    Returns the temporary directory."""
    import tempfile

    scratch = os.path.join(cache, "tmp")
    os.makedirs(scratch, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = scratch
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    tempfile.tempdir = None
    return scratch


def start_spark(scratch: str):
    from cuckoofilter_spark.session import get_spark

    n = nproc()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=max(n, 8), **{
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.host": "127.0.0.1",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # the heap is committed and touched at start, so the tree's resident
        # memory follows the program, not when the JVM chooses to grow its heap
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process they started, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    me = os.getpid()
    deadline = time.time() + 20
    while time.time() < deadline and len(proctree.descendants(me)) > 1:
        time.sleep(0.1)
    for pid in proctree.descendants(me)[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(100):
        if len(proctree.descendants(me)) <= 1:
            break
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


# -- the closed loop ---------------------------------------------------------

def timed_calls(w, spark, seconds: float, group: str | None = None) -> list[dict]:
    """Call ``w`` back to back for ``seconds`` (at least MIN_CALLS times)."""
    me = os.getpid()
    sc = spark.sparkContext
    calls = []
    deadline = time.time() + seconds
    while len(calls) < MIN_CALLS or time.time() < deadline:
        k = len(calls)
        if group:
            sc.setJobGroup(f"{group}-{k}", f"{w.name} timed call {k}")
        cpu0 = proctree.tree_cpu_s(me)
        t0 = time.time()
        err = None
        try:
            res = w.call(spark)
        except Exception:  # noqa: BLE001 -- a failed call is counted, not fatal
            res, err = None, traceback.format_exc()
        t1 = time.time()
        cpu = proctree.tree_cpu_s(me) - cpu0
        if err is None:
            gate = w.gate(res)
            w.last_result = res
            ok, digest, why = gate.ok, gate.digest, gate.why
        else:
            ok, digest, why = False, None, err.strip().splitlines()[-1]
            print(err, file=sys.stderr)
        calls.append({"group": f"{group}-{k}" if group else None, "start": t0, "end": t1,
                      "wall_s": t1 - t0, "cpu_s": cpu, "ok": ok, "digest": digest,
                      "why": why})
    if group:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # answers must not change between calls of one run
    digests = [c["digest"] for c in calls if c["ok"]]
    if digests:
        ref = statistics.mode(digests)
        for c in calls:
            if c["ok"] and c["digest"] != ref:
                c["ok"], c["why"] = False, f"answers digest {c['digest']} != {ref}"
    return calls


def throughput(w, calls) -> tuple[float, float]:
    ok = [c for c in calls if c["ok"]] or calls
    ips = statistics.median(w.items / c["wall_s"] for c in ok)
    cpu = statistics.median(c["cpu_s"] / w.items * 1e6 for c in ok)
    return ips, cpu


# -- traced run ----------------------------------------------------------------

def install_driver_wrappers(tracer) -> None:
    """Spans around the driver-side work of a timed call: query set-up,
    collect, the fold of the last blobs, compact, and broadcasts.  Only names that no closure
    shipped to Spark refers to are wrapped (see spans.py)."""
    import pyspark
    from pyspark.sql.classic.dataframe import DataFrame

    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
    from cuckoofilter_spark.operators import build, membership
    from cuckoofilter_spark.sketches import CountMinSketch, HyperLogLog, KLLSketch

    tracer.wrap(DataFrame, "collect", "driver.collect")
    # query set-up on the driver: file listing and footer reads, partitioning
    tracer.wrap(build, "_list_parquet_files", "driver.plan")
    tracer.wrap(build, "_num_row_groups", "driver.plan")
    tracer.wrap(pyspark.RDD, "getNumPartitions", "driver.plan")
    tracer.wrap(build, "deserialize_filter", "driver.fold")
    tracer.wrap(DynamicCuckooFilter, "merge", "driver.fold")
    tracer.wrap(DynamicCuckooFilter, "compact", "driver.compact")
    for cls in (HyperLogLog, CountMinSketch, KLLSketch):
        tracer.wrap(cls, "merge", "driver.fold")
        tracer.wrap(cls, "from_bytes", "driver.fold")
    tracer.wrap(membership, "serialize_filter", "driver.serialize",
                lambda a, k, r: {"bytes": len(r)})

    def bc_bytes(a, k, r):
        v = a[1]
        if isinstance(v, (bytes, bytearray)):
            return {"bytes": len(v)}
        import pickle

        return {"bytes": len(pickle.dumps(v, protocol=pickle.HIGHEST_PROTOCOL))}

    tracer.wrap(pyspark.SparkContext, "broadcast", "driver.broadcast", bc_bytes)


def per_call_driver(tracer, call) -> dict:
    """Driver-span totals of one timed call, plus every driver span's
    interval (for span coverage)."""
    spans = [s for s in tracer.spans
             if call["start"] <= s["start"] and s["end"] <= call["end"]]

    def total(name, key=None):
        return sum(s["counts"].get(key, 0) if key else s["end"] - s["start"]
                   for s in spans if s["name"] == name)

    return {"driver.collect_s": total("driver.collect"), "driver.fold_s": total("driver.fold"),
            "driver.compact_s": total("driver.compact"),
            "driver.broadcast_bytes": total("driver.broadcast", "bytes"),
            "intervals": [(s["start"], s["end"]) for s in spans]}


def layer_metrics(tracer, filt) -> dict:
    """Per-layer metrics of the replay's spans; ``filt`` is the filter it probed."""
    tot = tracer.totals()

    def get(name, key):
        return tot.get(name, {}).get(key, 0.0)

    def ratio(num, den):
        return num / den if den else 0.0

    def ns_per(name, count="items", field="self_s"):
        return ratio(get(name, field) * 1e9, get(name, count))

    ins, bp = "core.dynamic_filter.insert", "core.cuckoo_table.bulk_place"
    kick, ser = "core.cuckoo_table.kick_insert", "core.serde.serialize"
    out = {
        "operators.build.decode_ns_per_item": ns_per("operators.build.decode"),
        "operators.build.flatten_ns_per_item": ns_per("operators.build.flatten"),
        "hashing.hash64_ns_per_item": ns_per("hashing.hash64"),
        "core.dynamic_filter.insert_self_ns_per_item": ns_per(ins),
        "core.dynamic_filter.contains_fps_ns_per_item": ns_per("core.dynamic_filter.contains_fps"),
        "core.dynamic_filter.admitted_share": ratio(get(ins, "admitted"), get(ins, "items")),
        "core.dynamic_filter.merge_ns_per_fp":
            ns_per("core.dynamic_filter.merge", "fps", "total_s"),
        "core.dynamic_filter.compact_s": get("core.dynamic_filter.compact", "total_s"),
        "core.dynamic_filter.chain_len": filt.cf_count,
        "core.dynamic_filter.load_factor": filt.load_factor(),
        "core.cuckoo_table.bulk_place_ns_per_item": ns_per(bp),
        "core.cuckoo_table.bulk_place_placed_share": ratio(get(bp, "placed"), get(bp, "items")),
        "core.cuckoo_table.kick_insert_calls": get(kick, "n"),
        "core.cuckoo_table.kick_insert_s": get(kick, "total_s"),
        "core.cuckoo_table.kick_leftovers": get(kick, "leftover"),
        "core.cuckoo_table.contains_at_ns_per_probe": ns_per("core.cuckoo_table.contains_at"),
        "core.serde.serialize_ns_per_slot": ns_per(ser, "slots", "total_s"),
        "core.serde.bytes_per_slot": ratio(get(ser, "bytes"), get(ser, "slots")),
        "core.serde.deserialize_ns_per_slot": ns_per("core.serde.deserialize", "slots", "total_s"),
        "operators.membership.get_filter_ns_per_batch":
            ns_per("operators.membership.get_filter", "n", "total_s"),
        "operators.membership.contains_ns_per_probe":
            ns_per("operators.membership.contains", "items", "total_s"),
        "operators.membership.to_pandas_ns_per_probe":
            ns_per("operators.membership.to_pandas", "items", "total_s"),
    }
    for t in ("hll", "cms", "kll"):
        out[f"sketches.{t}.update_ns_per_item"] = ns_per(f"sketches.{t}.update", "items",
                                                         "total_s")
        out[f"sketches.{t}.merge_s"] = get(f"sketches.{t}.merge", "total_s")
        # wire size of the merged sketch: the last one serialized
        out[f"sketches.{t}.bytes"] = tracer.last(f"sketches.{t}.to_bytes")["counts"]["bytes"]
    return out


def traced_run(w, spark, seconds: float, slots: int) -> tuple[dict, list, dict]:
    """Untraced then traced timed calls, the Spark profile and driver spans of
    the traced ones, then the replay.  Returns (metrics, calls, trace record)."""
    import sparkrest
    import workloads
    from spans import Tracer, union_s

    untraced = timed_calls(w, spark, seconds / 2)
    tracer = Tracer()
    install_driver_wrappers(tracer)
    try:
        traced = timed_calls(w, spark, seconds / 2, group="traced")
    finally:
        tracer.restore()
    snap = sparkrest.RestClient(spark.sparkContext).snapshot({c["group"] for c in traced})
    profiles = []
    for c in traced:
        prof = sparkrest.profile_from_snapshot(snap, c["group"], c["wall_s"], slots)
        drv = per_call_driver(tracer, c)
        cov = union_s(prof.pop("intervals") + drv.pop("intervals"), c["start"], c["end"])
        prof.update(drv)
        prof["trace.span_coverage"] = cov / c["wall_s"]
        profiles.append(prof)
    metrics = sparkrest.median_profile(profiles)
    # single-process replay of the map and merge tasks
    replay_tracer = Tracer()
    workloads.install_layer_wrappers(replay_tracer)
    try:
        filt = workloads.replay(w, replay_tracer)
    finally:
        replay_tracer.restore()
    metrics.update(layer_metrics(replay_tracer, filt))
    # single-process time of the map tasks' work, to set beside spark.map.run_s
    metrics["replay.map_est_s"] = sum(replay_tracer.durations("replay.task"))
    ips_u, _ = throughput(w, untraced)
    ips_t, _ = throughput(w, traced)
    metrics["trace.items_per_s_traced"] = ips_t
    metrics["trace.overhead_share"] = 1.0 - ips_t / ips_u
    spans = tracer.spans + [dict(s, id=f"r{s['id']}") for s in replay_tracer.spans]
    return metrics, untraced + traced, {"spans": spans, "rest": snap,
                                        "untraced_items_per_s": ips_u}


# -- main ------------------------------------------------------------------------

def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a["env"]["nproc"] != b["env"]["nproc"]:
        print(f"perfbench: refusing to compare nproc {a['env']['nproc']} with "
              f"{b['env']['nproc']}", file=sys.stderr)
        return 3
    for name, m in a["result"]["metrics"].items():
        if name in b["result"]["metrics"]:
            va, vb = m["value"], b["result"]["metrics"][name]["value"]
            ratio = vb / va if va else float("nan")
            print(f"{name:48s} {va:>16.6g} {vb:>16.6g}  x{ratio:.4f} {m['unit']}")
    return 0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (self-tests use a small one)")
    ap.add_argument("--compare", nargs=2, metavar=("A.json", "B.json"))
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if not os.path.isfile(os.path.join(ROOT, "cuckoofilter_spark", "__init__.py")):
        print(f"perfbench: no cuckoofilter_spark package under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    pre_s = proctree.process_age_s()
    cache = os.path.join(ROOT, ".perfbench_cache")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    scratch = checkout_env(cache)

    t_gen = time.time()
    w = workloads.WORKLOADS[args.workload](cache, args.seed, args.scale)
    w.last_result = None
    gen_s = time.time() - t_gen

    t_setup = time.time()
    spark = start_spark(scratch)
    try:
        t_prepare = time.time()
        slots = spark.sparkContext.defaultParallelism
        w.prepare_program(spark)
        t_warm = time.time()
        warm_ok = True
        for _ in range(w.warmup_calls):
            warm = w.call(spark)
            warm_ok &= w.gate(warm).ok
        setup_s = pre_s + (time.time() - t_setup)
        setup_phases = {"imports_s": pre_s, "session_s": t_prepare - t_setup,
                        "prepare_s": t_warm - t_prepare, "warmup_s": time.time() - t_warm}
        env = env_stamp(w)
        print(json.dumps({"env": env}), flush=True)

        t_run = time.time()
        with proctree.RssSampler(os.getpid()) as rss:
            if args.trace:
                metrics, calls, trace_doc = traced_run(w, spark, args.seconds, slots)
            else:
                calls = timed_calls(w, spark, args.seconds)
        t_quality = time.time()
        quality = w.quality(w.last_result if any(c["ok"] for c in calls) else warm)
        t_stop = time.time()
    finally:
        stop_spark(spark)
    phases = {"input_gen_s": gen_s, "setup_s": setup_s, **setup_phases,
              "calls_s": t_quality - t_run,
              "quality_s": t_stop - t_quality, "stop_s": time.time() - t_stop}

    if not quality["fpr_ok"]:
        # equal answers digests: every call built the filter that failed
        for c in calls:
            c["ok"], c["why"] = False, f"fpr {quality['fpr']} over the chain_len * 2b/2^f bound"
    attempted = len(calls)
    failed = sum(not c["ok"] for c in calls)
    correct = warm_ok and failed == 0
    if args.trace:
        values = {name: metrics[name] for name, _, _ in PER_LAYER}
        units = {name: unit for name, unit, _ in PER_LAYER}
    else:
        ips, cpu = throughput(w, calls)
        values = {"setup_s": setup_s, "items_per_s": ips, "cpu_s_per_mitem": cpu,
                  "peak_rss_mb": rss.peak / 1e6,
                  "filter_bytes_per_key": quality["filter_bytes_per_key"],
                  "fpr": quality["fpr"]}
        units = dict(END_TO_END)
    result = {"correct": bool(correct), "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}}
    doc = {"workload": w.name, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "scale": args.scale, "env": env, "phases": phases,
           "items_per_call": w.items, "item_unit": w.item_unit,
           "quality": quality, "calls": calls, "result": result}
    stem = os.path.join(out_dir, f"{w.name}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(doc, f, indent=1, default=str)
    if args.trace:
        with open(stem + ".trace.json", "w") as f:
            json.dump(trace_doc, f, default=str)
    digest = statistics.mode([c["digest"] for c in calls if c["digest"]] or [None])
    fails = "; ".join(sorted({c["why"] for c in calls if not c["ok"]}))
    print(f"perfbench {w.name} seed={args.seed} calls={attempted} failed={failed} "
          f"failed_ops_share={failed / attempted:.4f} answers_md5={digest} "
          f"input_md5={w.ds.digest}" + (f" failures: {fails}" if fails else ""), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
