"""Python-worker daemon of the local sessions ``session.get_spark`` starts
(see ``session.workers_import_package``): Spark's ``pyspark.daemon``, run
with the installed pyspark on ``sys.path`` in place of
``$SPARK_HOME/python/lib/pyspark.zip``, and with no zip archive on it that
holds no Python.

Why: at the start of every task pyspark calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``), and on Python 3.11 that makes every
zipimporter in ``sys.path_importer_cache`` re-read its archive's whole
directory.  Forked workers inherit the daemon's ``sys.path`` and cache, so
the cost goes for every task.  Two archives paid it, measured on a 4-core
x86 host:

- ``pyspark.zip`` (1,328 entries; one zipimporter per imported subpackage,
  about a dozen): 60–90 ms per task on an idle core and 130–270 ms under
  4-way load.  It is dropped only when the interpreter finds an installed
  pyspark whose ``version.py`` has the same bytes as the zip's; both are
  read before anything imports pyspark.  Otherwise it stays.
- Spark's ``spark-core`` jar (15 MB, 5,359 entries, no Python), which
  Spark also puts on the path.  Two zipimporters read its directory: the
  jar's own, and one for its ``org`` directory, made by the stdlib's
  Jython probe ``from org.python.core import PyStringMap`` in ``copy`` and
  ``pickle``.  With ``pyspark.zip`` gone the call still took a median
  115 ms of wall (99 ms of CPU) per task under ``tokens_build``'s 4-way
  load, and 123 ms in an otherwise empty task.

So every archive with no ``.py``/``.pyc`` member leaves the path
(``holds_no_python``; ~40 ms once per daemon start for the jar), with its
cached zipimporters and any namespace package found only in it.
zipimport loads nothing else, so such an archive supplies no module, only
empty namespace portions, and no import changes its outcome: the probe
still raises ``ImportError``.  Directories, non-zip files, missing paths,
unreadable archives and archives holding Python (the py4j zip) stay.  The
call now takes ~0.5 ms.

What is left of an empty task (a no-op 4-task ``mapInArrow`` job, medians
of 200 tasks) is ~26 ms of worker CPU: 24 ms in the daemon's
``gc.collect()`` after the task (41 ms per task under ``tokens_build``),
under 1 ms reading the task header and unpickling the closure, and ~1 ms
of Arrow set-up and reply; plus ~40 ms of wall waiting on the JVM.  Hence
``operators.build.map_units`` packs several units into a task.  Spark's
"time to initialize Python workers"
(``spark.python.init_s`` in perfbench traces) is not start-up time: it runs
from ``boot_time``, which ``pyspark/worker.py`` stamps before the blocking
read of the next task header, so for a reused worker it includes the idle
wait since that worker's previous task.

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


def holds_no_python(entry: str) -> bool:
    """Whether the ``sys.path`` entry ``entry`` is a zip archive (a jar is
    one) with no ``.py`` or ``.pyc`` member.  zipimport loads nothing else,
    so such an entry supplies no module, only empty namespace portions.  A
    directory, a non-zip file, a missing path or an unreadable archive is
    not one."""
    try:
        with zipfile.ZipFile(entry) as zf:
            names = zf.namelist()
    except (OSError, zipfile.BadZipFile):
        return False
    return not any(n.endswith((".py", ".pyc")) for n in names)


def main() -> None:
    path = [p for p in pyspark_path(sys.path) if not holds_no_python(p)]
    dropped = [p for p in sys.path if p not in path]
    if dropped:
        def inside(p: str) -> bool:
            return any(p == z or p.startswith(z + os.sep) for z in dropped)

        sys.path[:] = path
        # imports run before this point (``cuckoofilter_spark``, numpy, the
        # stdlib's Jython probe ``from org.python.core import ...``) cached
        # zipimporters for these archives and their subdirectories;
        # invalidate_caches() walks this cache, not sys.path
        for key in list(sys.path_importer_cache):
            if inside(key):
                del sys.path_importer_cache[key]
        # a namespace package found only in them (the probe's ``org``) keeps
        # them in its ``__path__``, and the next ``org.*`` import would
        # cache a zipimporter again
        for name, mod in list(sys.modules.items()):
            spec = getattr(mod, "__spec__", None)
            locs = getattr(spec, "submodule_search_locations", None)
            if locs and spec.origin is None and all(inside(p) for p in locs):
                del sys.modules[name]

    # every task of this engine passes Arrow batches: import pyarrow once,
    # before the daemon forks, so the workers share its pages instead of
    # each importing its own copy (~20 MB of RSS per worker)
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
