"""SparkSession factory with scale-aware defaults.

Settings chosen for the 100 TB story, not just local tests:
- AQE on (runtime shuffle re-planning, skew-join splitting),
- Arrow execution for all pandas UDF exchange, bounded batch size so
  per-batch NumPy working sets stay cache/memory friendly,
- shuffle partitions sized to cores locally (a cluster deployment sets
  this to ~2-3x total executor cores via spark-submit conf),
- on a ``local`` master whose workers can import this package when they
  start, Python workers forked from ``cuckoofilter_spark.worker_daemon``
  (installed pyspark in place of ``pyspark.zip``, and no archive without
  Python, such as Spark's spark-core jar, on the path; see that module).
  Anywhere else, e.g. a package shipped with ``--py-files``, which a worker
  only sees once a task runs, Spark's own ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def workers_import_package(master: str) -> bool:
    """Whether a Python worker daemon of a ``master`` session can import this
    package before any task runs.  Only ``local`` masters are judged: their
    workers share this host and start in this process's working directory,
    with its ``PYTHONPATH`` and site-packages.  A package read from a zip
    (``--py-files``, ``addPyFile``) does not count, because pyspark puts
    those on a worker's path per task."""
    if master != "local" and not master.startswith("local["):
        return False
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(root):
        return False
    seen = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages(), site.getusersitepackages()]
    return any(os.path.realpath(p or os.curdir) == os.path.realpath(root) for p in seen)


def get_spark(app: str = "cuckoofilter-spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # event-time state operators compare naive session-tz timestamps to
        # epoch-ms watermarks — pin UTC so the two clocks agree everywhere
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if workers_import_package(master):
        b = b.config("spark.python.daemon.module", "cuckoofilter_spark.worker_daemon")
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
