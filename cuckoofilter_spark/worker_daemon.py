"""Python-worker daemon of the local sessions ``session.get_spark`` starts
(see ``session.workers_import_package``): Spark's ``pyspark.daemon``, run
with the installed pyspark on ``sys.path`` in place of
``$SPARK_HOME/python/lib/pyspark.zip``.

Why: at the start of every task pyspark calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``), and on Python 3.11 that makes every
zipimporter of ``pyspark.zip`` (one per imported subpackage, about a
dozen; the zip holds 1,328 entries) re-read the whole zip directory:
60–90 ms per task on an idle core and 130–270 ms under 4-way load,
measured on a 4-core x86 host.  With the same pyspark imported from a
directory the call takes ~0.05 ms.  Forked workers inherit the daemon's
``sys.path``, so the cost goes for every task.

What is left is ~0.12 CPU-s per task even when the task is empty
(scheduling, Arrow set-up, unpickling the closure, the daemon's
``gc.collect()``), which is why ``operators.build.map_units`` packs several
units into a task.  Spark's "time to initialize Python workers"
(``spark.python.init_s`` in perfbench traces) is not start-up time: it runs
from ``boot_time``, which ``pyspark/worker.py`` stamps before the blocking
read of the next task header, so for a reused worker it includes the idle
wait since that worker's previous task.

The zip entry is dropped only when the interpreter finds an installed
pyspark whose ``version.py`` has the same bytes as the zip's; both are
read before anything imports pyspark.  In every other case ``sys.path`` is
left as Spark set it.  The py4j zip stays (9 entries).

Spark starts this module as ``python -m cuckoofilter_spark.worker_daemon
<worker module>`` (``spark.python.daemon.module``; ``spark.python.worker.module``
cannot do this, because ``pyspark.daemon`` only honours worker modules
named ``pyspark*``).  ``-m`` runs ``cuckoofilter_spark/__init__.py`` first,
so that file must not import pyspark.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def pyspark_path(path: list[str]) -> list[str]:
    """``path`` without its ``pyspark.zip`` entries when a pyspark found on
    the rest of it has the zip's ``version.py``; else ``path`` itself."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    rest = [p for p in path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return path
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            zipped = zf.read("pyspark/version.py")
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"),
                  "rb") as f:
            installed = f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if zipped == installed else path


def main() -> None:
    path = pyspark_path(sys.path)
    if path is not sys.path:
        dropped = [p for p in sys.path if p not in path]
        sys.path[:] = path
        # searching for numpy while ``cuckoofilter_spark`` was imported
        # cached a zipimporter for the zip; invalidate_caches() walks this
        # cache, not sys.path
        for key in list(sys.path_importer_cache):
            if any(key == z or key.startswith(z + os.sep) for z in dropped):
                del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
