"""spark-submit entrypoints run end-to-end as real subprocesses (the
reference's CLI surface, SURVEY §2 #32): build → resume (shards skipped)
→ probe, asserting the printed JSON metrics and the membership contract
on the written output."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_job(script: str, *args: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", script), *args],
        capture_output=True, text=True, cwd=REPO, timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"})
    assert out.returncode == 0, out.stderr[-2000:]
    for line in reversed(out.stdout.splitlines()):
        if line.strip().startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no JSON line in stdout: {out.stdout[-500:]}")


def test_sketch_build_query_roundtrip(tmp_path, spark, sf_dir):
    """The sketch library surface through spark-submit (VERDICT r2 item 9):
    HLL NDV and KLL quantiles built distributed, written as self-describing
    blobs, answered by the query job within their published bounds."""
    hll_bin = str(tmp_path / "users_hll.bin")
    built = run_job("build_sketch.py", "--input", f"{sf_dir}/orders.parquet",
                    "--col", "o_custkey", "--sketch", "hll", "--out", hll_bin,
                    "--p", "14")
    exact = (spark.read.parquet(f"{sf_dir}/orders.parquet")
             .select("o_custkey").distinct().count())
    assert abs(built["ndv_estimate"] - exact) / exact <= 3 * 1.04 / (1 << 14) ** 0.5

    q = run_job("query_sketch.py", "--sketch-file", hll_bin)
    assert q["sketch_type"] == "HyperLogLog"
    assert q["ndv_estimate"] == built["ndv_estimate"]

    kll_bin = str(tmp_path / "price_kll.bin")
    run_job("build_sketch.py", "--input", f"{sf_dir}/orders.parquet",
            "--col", "o_totalprice", "--sketch", "kll", "--out", kll_bin,
            "--k", "400")
    qq = run_job("query_sketch.py", "--sketch-file", kll_bin,
                 "--quantiles", "0.1,0.5,0.9")
    med = qq["quantiles"]["0.5"]
    lo, hi = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .selectExpr("percentile(o_totalprice, 0.45) AS lo",
                          "percentile(o_totalprice, 0.55) AS hi").collect()[0])
    assert lo <= med <= hi  # KLL rank error << 5% at k=400
    assert qq["quantiles"]["0.1"] <= med <= qq["quantiles"]["0.9"]


def test_build_resume_query_roundtrip(tmp_path, spark, sf_dir):
    ckpt = str(tmp_path / "ckpt")
    outp = str(tmp_path / "members")
    build_args = ["--input", f"{sf_dir}/orders.parquet", "--col", "o_orderkey",
                  "--ckpt", ckpt, "--shards", "8",
                  "--table-size", "65536", "--bits", "16"]

    first = run_job("build_filter.py", *build_args)
    assert first["element_count"] > 0
    assert os.path.exists(os.path.join(ckpt, "filter.bin"))

    # rerun: every shard must come from lineage, same filter out
    second = run_job("build_filter.py", *build_args)
    assert second.get("shards_skipped", 0) > 0
    assert second["element_count"] == first["element_count"]

    probe = run_job("query_filter.py", "--filter", os.path.join(ckpt, "filter.bin"),
                    "--probes", f"{sf_dir}/orders.parquet",
                    "--col", "o_orderkey", "--out", outp)
    # every probe is a true member — no false negatives through the CLI path
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert probe["rows_out"] == n_orders


def test_build_job_with_package_only_in_py_files(tmp_path):
    """The documented cluster deployment: ``spark-submit --py-files
    cuckoofilter_spark.zip jobs/build_filter.py`` from a directory outside
    the repo, so executors get the package only through the py-files zip,
    which pyspark adds to a worker's path per task, not when the worker
    daemon starts.  Every Python task must still run."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark

    pkg_zip = tmp_path / "cuckoofilter_spark.zip"
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, "cuckoofilter_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    zf.write(p, os.path.relpath(p, REPO))
    table = str(tmp_path / "keys.parquet")
    pq.write_table(pa.table({"k": pa.array(range(5000), pa.int64())}), table)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g",
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--py-files", str(pkg_zip), os.path.join(REPO, "jobs", "build_filter.py"),
         "--input", table, "--col", "k", "--ckpt", str(tmp_path / "ckpt"),
         "--shards", "2", "--table-size", "4096", "--bits", "16"],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(l for l in reversed(out.stdout.splitlines()) if l.startswith("{"))
    assert json.loads(line)["element_count"] == 5000
