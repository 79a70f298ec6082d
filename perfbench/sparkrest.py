"""Per-stage metrics and Python-exec SQL metrics of one timed call, from the
Spark UI REST API (``/api/v1/applications/<app>/...``).

The benchmark tags every timed call with a job group; the call's stages are
the stages of the jobs in that group, and its SQL executions are the ones
whose job ids overlap those jobs.  Parsing is split from fetching so the
parser can be tested on recorded JSON.

``executorCpuTime`` is kept only as ``spark.map.jvm_cpu_s``: it counts JVM
task threads, not the Python workers that run this program's kernels, so it
reads a small fraction of ``executorRunTime`` on Python-heavy stages.  CPU
cost end to end comes from ``/proc`` (see ``proctree.py``).
"""

from __future__ import annotations

import json
import re
import statistics
import urllib.request
from datetime import datetime, timezone

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

#: SQL metric names of Spark's Python exec nodes (MapInArrow, ArrowEvalPython,
#: FlatMapGroupsInPandas, ...)
PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
}


def parse_metric_value(value: str) -> float:
    """Total of a SQL metric string: ``"12"``, ``"3.1 MiB"``, ``"719 ms"`` or
    the ``"total (min, med, max ...)\\n6.5 MiB (...)"`` form; sizes in bytes,
    times in seconds."""
    line = value.split("\n", 1)[1] if "\n" in value else value
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value {value!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric value {value!r}")


def parse_time(s: str) -> float:
    """Epoch seconds of a REST timestamp such as ``2026-10-16T18:55:48.557GMT``."""
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def call_profile(jobs: list[dict], stages: list[dict], sql: list[dict],
                 group: str, wall_s: float, slots: int,
                 task_quantiles: dict[int, dict] | None = None) -> dict:
    """Summarise one job group.

    ``stages`` are stage entries (``/stages``); ``task_quantiles`` maps a
    stage id to its ``taskSummary?quantiles=0.5,1.0`` JSON.  Map stages are
    the ones that read no shuffle (they read the source); merge stages read
    one.  Returns flat ``spark.*`` metrics plus ``intervals``, the
    (start, end) epoch seconds of every stage that ran."""
    job_ids = {j["jobId"] for j in jobs if j.get("jobGroup") == group}
    stage_ids = {sid for j in jobs if j["jobId"] in job_ids for sid in j["stageIds"]}
    ran = [s for s in stages
           if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
    maps = [s for s in ran if s["shuffleReadBytes"] == 0]
    merges = [s for s in ran if s["shuffleReadBytes"] > 0]
    run_s = sum(s["executorRunTime"] for s in ran) / 1e3
    out = {
        "spark.map.run_s": sum(s["executorRunTime"] for s in maps) / 1e3,
        "spark.map.jvm_cpu_s": sum(s["executorCpuTime"] for s in maps) / 1e9,
        "spark.map.tasks": sum(s["numCompleteTasks"] for s in maps),
        "spark.merge.run_s": sum(s["executorRunTime"] for s in merges) / 1e3,
        "spark.merge.levels": len(merges),
        "spark.shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spark.shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in ran),
        "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                 for s in ran),
        "spark.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "spark.core_idle_share": max(0.0, 1.0 - run_s / (wall_s * slots)),
    }
    ratios = []
    for s in maps:
        q = (task_quantiles or {}).get(s["stageId"])
        if q and q["executorRunTime"][0] > 0:
            ratios.append(q["executorRunTime"][1] / q["executorRunTime"][0])
    out["spark.map.task_max_over_p50"] = max(ratios) if ratios else 1.0
    for key in PY_METRICS.values():
        out["spark." + key] = 0.0
    for ex in sql:
        if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = PY_METRICS.get(m["name"])
                if key:
                    out["spark." + key] += parse_metric_value(m["value"])
    out["intervals"] = [(parse_time(s["submissionTime"]), parse_time(s["completionTime"]))
                        for s in ran]
    return out


class RestClient:
    """Fetches the JSON ``call_profile`` needs from a live SparkContext."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def snapshot(self, groups: set[str]) -> dict:
        """Everything ``call_profile`` needs for job groups ``groups``, as one
        JSON-able dict (task quantiles only for those groups' map stages)."""
        jobs = self.get("jobs")
        wanted = {sid for j in jobs if j.get("jobGroup") in groups for sid in j["stageIds"]}
        stages = self.get("stages")
        quantiles = {}
        for s in stages:
            if (s["stageId"] in wanted and s["status"] == "COMPLETE"
                    and s["shuffleReadBytes"] == 0):
                quantiles[s["stageId"]] = self.get(
                    f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
        return {"jobs": jobs, "stages": stages,
                "sql": self.get("sql?details=true&planDescription=false&offset=0&length=100000"),
                "task_quantiles": quantiles}


def profile_from_snapshot(snap: dict, group: str, wall_s: float, slots: int) -> dict:
    tq = {int(k): v for k, v in snap.get("task_quantiles", {}).items()}
    return call_profile(snap["jobs"], snap["stages"], snap["sql"], group, wall_s,
                        slots, tq)


def median_profile(profiles: list[dict]) -> dict:
    """Per-metric median over several calls' profiles (intervals dropped)."""
    keys = [k for k in profiles[0] if k != "intervals"]
    return {k: statistics.median(p[k] for p in profiles) for k in keys}
