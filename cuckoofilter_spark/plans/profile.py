"""Executor-side cost of a Spark application, read from the UI REST API.

Wall time on a shared host swings 5-15× under hypervisor steal waves
(BENCH/BASELINE.md); per-stage ``executorCpuTime`` is the steal-immune
signal, so per-query deltas of ``executor_cpu_s`` make regressions
attributable without solo reruns.
"""

from __future__ import annotations

import json
import urllib.request


def executor_cpu_s(spark) -> float:
    """Cumulative ``executorCpuTime`` (seconds) over the completed stages of
    ``spark``'s application; NaN when the UI (and its REST API) is off or
    unreachable."""
    sc = spark.sparkContext
    if not sc.uiWebUrl:
        return float("nan")
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return sum(s.get("executorCpuTime", 0) for s in json.load(r)) / 1e9
    except Exception:  # noqa: BLE001 — the cpu column is best-effort
        return float("nan")
