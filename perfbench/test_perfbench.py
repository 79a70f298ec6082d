"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The smoke tests start Spark once per workload and mode at a tiny input
size, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
import sparkrest  # noqa: E402
from spans import Tracer, union_s  # noqa: E402

# -- inputs ------------------------------------------------------------------


@pytest.mark.parametrize("make", [
    lambda root, seed: gen.tokens(root, seed, 200, 4),
    lambda root, seed: gen.distinct(root, seed, 5000, 4),
    lambda root, seed: gen.probe(root, seed, 5000, 8000, 2),
])
def test_seed_fixes_input_digest(tmp_path, make):
    a = make(str(tmp_path / "a"), 7)
    b = make(str(tmp_path / "b"), 7)
    c = make(str(tmp_path / "c"), 8)
    assert a.digest == b.digest == a.content_digest()
    assert c.digest != a.digest


def test_cached_input_is_regenerated_when_its_files_change(tmp_path):
    ds = gen.distinct(str(tmp_path), 3, 5000, 2)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"key": pa.array([1, 2, 3], pa.int64())}), ds.files[0])
    again = gen.distinct(str(tmp_path), 3, 5000, 2)
    assert again.content_digest() == ds.digest


def test_token_rule_matches_fixtures():
    toks, srcs = gen.token_docs(42, 0, 50)
    assert all(32 <= len(t) <= 512 for t in toks)
    assert all(((0 <= t) & (t < gen.VOCAB)).all() for t in toks)
    assert set(srcs) <= set(gen.SOURCES)


def test_distinct_keys_are_distinct_and_disjoint_from_nonmembers():
    keys = gen.distinct_keys(5, 100_000)
    non = gen.distinct_nonmembers(5, 100_000, 100_000)
    assert len(set(keys.tolist())) == len(keys)
    assert not set(keys.tolist()) & set(non.tolist())
    assert (gen.nonmember_tokens(10, 5) == gen.nonmember_tokens(15)[5:]).all()


# -- /proc process tree ---------------------------------------------------------


def test_proc_tree_reader_follows_a_child():
    me = os.getpid()
    cpu0 = proctree.tree_cpu_s(me)
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt=time.time()\nwhile time.time()-t<0.6: pass\n"
                              "time.sleep(30)"])
    try:
        time.sleep(1.0)
        assert child.pid in proctree.descendants(me)
        assert proctree.tree_rss_bytes(me) > proctree.tree_rss_bytes(child.pid) > 0
        assert proctree.tree_cpu_s(me) - cpu0 >= 0.4
    finally:
        child.kill()
        child.wait(timeout=10)
    # reaped: its CPU is now in this process's cutime
    assert child.pid not in proctree.descendants(me)
    assert proctree.tree_cpu_s(me) - cpu0 >= 0.4
    assert 0 < proctree.process_age_s() < 24 * 3600


def test_rss_sampler_sees_a_peak():
    with proctree.RssSampler(os.getpid(), interval_s=0.01) as s:
        blob = bytearray(64 << 20)
        blob[::4096] = b"x" * len(blob[::4096])
        time.sleep(0.1)
        del blob
    assert s.peak >= 64 << 20


# -- Spark REST parser ----------------------------------------------------------


def test_metric_value_parser():
    p = sparkrest.parse_metric_value
    assert p("64") == 64
    assert p("0 ms") == 0
    assert p("1.5 min") == 90
    assert p("total (min, med, max (stageId: taskId))\n6.5 MiB (1 KiB, 2 KiB, 3 KiB (x))") \
        == 6.5 * 2**20
    assert p("total (min, med, max (stageId: taskId))\n2.4 s (6 ms, 39 ms, 102 ms (x))") == 2.4
    with pytest.raises(ValueError):
        p("12 parsecs")


def test_rest_parser_on_recorded_snapshot():
    """A recorded distinct_build call: one 16-task map stage, one merge stage."""
    with open(os.path.join(HERE, "testdata", "rest_distinct_build.json")) as f:
        snap = json.load(f)
    prof = sparkrest.profile_from_snapshot(snap, "traced-0", wall_s=2.0, slots=4)
    assert prof["spark.map.tasks"] == 16
    assert prof["spark.map.run_s"] == pytest.approx(3.763)
    assert prof["spark.map.jvm_cpu_s"] == pytest.approx(0.134439483)
    assert prof["spark.map.task_max_over_p50"] == pytest.approx(292 / 251)
    assert prof["spark.merge.levels"] == 1
    assert prof["spark.merge.run_s"] == pytest.approx(0.609)
    assert prof["spark.shuffle.write_bytes"] == prof["spark.shuffle.read_bytes"] == 822208
    assert prof["spark.spill_bytes"] == 0
    assert prof["spark.python.bytes_sent"] == pytest.approx((3.1 + 802.3) * 1024)
    assert prof["spark.python.bytes_received"] == pytest.approx((806.8 + 454.2) * 1024)
    assert prof["spark.python.init_s"] == pytest.approx(8.7 + 0.46)
    assert prof["spark.core_idle_share"] == pytest.approx(1 - (3.763 + 0.609) / 8)
    starts = sorted(a for a, _ in prof["intervals"])
    assert starts == [sparkrest.parse_time("2026-10-16T19:12:41.249GMT"),
                      sparkrest.parse_time("2026-10-16T19:12:42.364GMT")]
    other = sparkrest.profile_from_snapshot(snap, "traced-1", wall_s=2.0, slots=4)
    assert other["spark.map.run_s"] == pytest.approx(3.446)


# -- spans ----------------------------------------------------------------------


def test_self_time_and_wrapping():
    class Box:
        def outer(self):
            time.sleep(0.05)
            self.inner()
            return 3

        def inner(self):
            time.sleep(0.1)

        @classmethod
        def make(cls):
            return cls()

    t = Tracer()
    orig = Box.__dict__["outer"]
    t.wrap(Box, "outer", "outer", lambda a, k, r: {"items": r})
    t.wrap(Box, "inner", "inner")
    t.wrap(Box, "make", "make")
    Box.make().outer()
    t.restore()
    tot = t.totals()
    assert tot["make"]["n"] == 1 and isinstance(Box.__dict__["make"], classmethod)
    assert tot["outer"]["items"] == 3
    assert tot["outer"]["self_s"] == pytest.approx(0.05, abs=0.03)
    assert tot["inner"]["self_s"] == pytest.approx(0.1, abs=0.03)
    assert Box.__dict__["outer"] is orig
    assert union_s([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)


# -- contract -------------------------------------------------------------------


def test_benchmark_json_lists_the_metrics_run_reports():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == run.PER_LAYER
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tokens_build",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert "{" not in p.stdout


def test_compare_refuses_other_nproc(tmp_path):
    rec = {"env": {"nproc": 4}, "result": {"metrics": {"x": {"value": 1.0, "unit": "s"}}}}
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(rec))
    b.write_text(json.dumps(dict(rec, env={"nproc": 8})))
    assert run.compare(str(a), str(a)) == 0
    assert run.compare(str(a), str(b)) != 0


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["tokens_build", "distinct_build", "probe", "sketches"])
def test_tiny_run_prints_every_metric(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "3", "--seconds", "0.5", "--trace", str(trace),
                        "--scale", "0.05"],
                       cwd=run.ROOT, capture_output=True, text=True, timeout=170)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= run.MIN_CALLS
    names = [n for n, *_ in (run.PER_LAYER if trace else run.END_TO_END)]
    assert list(res["metrics"]) == names
    if not trace:
        # at this size a filter may show no false positive at all
        assert all(m["value"] > 0 for k, m in res["metrics"].items() if k != "fpr")
    assert proctree.descendants(os.getpid()) == [os.getpid()]
