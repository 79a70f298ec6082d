"""``cuckoofilter_spark.worker_daemon``: the local sessions ``get_spark``
starts, when their workers can import this package at start, fork their
Python workers from a daemon that imports the installed pyspark in place of
``pyspark.zip`` when the two are the same version, and leaves ``sys.path``
alone otherwise."""

import os
import subprocess
import sys
import zipfile

import pyspark

from cuckoofilter_spark.session import workers_import_package
from cuckoofilter_spark.worker_daemon import pyspark_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the directory holding the pyspark this process imported
INSTALLED = os.path.dirname(os.path.dirname(pyspark.__file__))
with open(os.path.join(INSTALLED, "pyspark", "version.py"), "rb") as _f:
    VERSION_PY = _f.read()


def _zip(tmp_path, version_py: bytes):
    p = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("pyspark/version.py", version_py)
    return str(p)


def test_workers_import_pyspark_outside_the_zip(spark):
    def fn(batches):
        import zipimport

        import pyarrow as pa
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter) and "pyspark.zip" in k]
        yield pa.record_batch({"file": pa.array([worker_pyspark.__file__]),
                               "zips": pa.array([len(zips)], pa.int64())})

    rows = spark.range(0, 4, numPartitions=4).mapInArrow(
        fn, "file string, zips long").collect()
    assert len(rows) == 4
    for r in rows:
        assert ".zip" not in r["file"], r["file"]
        assert r["zips"] == 0


def test_zip_dropped_only_for_a_matching_installed_version(tmp_path):
    same = _zip(tmp_path, VERSION_PY)
    path = [same, INSTALLED]
    assert pyspark_path(path) == [INSTALLED]
    assert path == [same, INSTALLED]


def test_path_untouched_when_versions_differ(tmp_path):
    other = VERSION_PY.replace(pyspark.__version__.encode(), b"0.0.0-other")
    assert other != VERSION_PY
    path = [_zip(tmp_path, other), INSTALLED]
    assert pyspark_path(path) is path


def test_path_untouched_without_installed_pyspark(tmp_path):
    empty = tmp_path / "site"
    empty.mkdir()
    path = [_zip(tmp_path, VERSION_PY), str(empty)]
    assert pyspark_path(path) is path


def test_package_import_does_not_load_pyspark():
    # ``python -m cuckoofilter_spark.worker_daemon`` runs the package's
    # __init__ before the daemon can choose where pyspark comes from
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, cuckoofilter_spark; print(sorted(m for m in sys.modules"
         " if m.split('.')[0] in ('pyspark', 'py4j')))"],
        capture_output=True, text=True, cwd=REPO, check=True, timeout=120)
    assert out.stdout.strip() == "[]"


def test_daemon_only_where_workers_see_the_package(tmp_path, monkeypatch):
    monkeypatch.chdir(REPO)
    monkeypatch.setenv("PYTHONPATH", "")
    assert workers_import_package("local[4]")
    assert workers_import_package("local")
    # a cluster's executors start their daemon on another host
    assert not workers_import_package("spark://host:7077")
    assert not workers_import_package("local-cluster[2,1,1024]")
    # started elsewhere, the package reaches workers only with a task
    monkeypatch.chdir(tmp_path)
    assert not workers_import_package("local[4]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO]))
    assert workers_import_package("local[4]")
