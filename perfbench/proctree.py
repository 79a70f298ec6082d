"""CPU time and resident memory of a whole process tree, read from ``/proc``.

A PySpark driver's work is spread over the Python driver, the JVM it starts,
the ``pyspark.daemon`` and the Python workers the daemon forks.  Spark's own
``executorCpuTime`` counts JVM task threads only, so it misses the Python
workers where this program's kernels run; this module sums them all.

CPU of a child that has exited and been reaped is folded by the kernel into
its parent's ``cutime``/``cstime``, so summing ``utime+stime+cutime+cstime``
over the live tree loses nothing as workers come and go.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return data[data.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    """ppid -> [pid] over every process visible in /proc."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            out.setdefault(int(fields[1]), []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the tree, in seconds."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # after the ')' split: index 11..14 = utime, stime, cutime, cstime
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over the tree."""
    pages = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            pass
    return pages * _PAGE


def process_age_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) started."""
    f = _stat_fields(pid or os.getpid())
    with open("/proc/uptime") as u:
        uptime = float(u.read().split()[0])
    return uptime - int(f[19]) / _CLK_TCK


class RssSampler:
    """Background sampler of the tree's RSS; ``peak`` is reset per window."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self.peak = max(self.peak, rss)

    def __enter__(self) -> "RssSampler":
        self.peak = tree_rss_bytes(self.root)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        with self._lock:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
