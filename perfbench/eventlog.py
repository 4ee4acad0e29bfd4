"""Fold a Spark event log into the benchmark's ``spark.*`` layer metrics.

The traced session writes an uncompressed log; Spark 4 rolls it into an
``eventlog_v2_<app>/events_<n>_<app>`` directory. Only tasks of jobs
whose job group is in ``groups`` count, so set-up and warm-up jobs in
the same application are left out.
"""

from __future__ import annotations

import json
import pathlib
import statistics

MB = 1e6

# SQL metrics reported per task as accumulables (milliseconds or bytes)
_ACCUMULABLES = {
    "time to start Python workers": "spark.py_start_ms",
    "time to initialize Python workers": "spark.py_init_ms",
    "time to run Python workers": "spark.py_run_ms",
    "data sent to Python workers": "spark.arrow_to_py_mb",
    "data returned from Python workers": "spark.arrow_from_py_mb",
    "scan time": "spark.scan_ms",
}


def _events(log_dir: pathlib.Path):
    files = list(log_dir.glob("eventlog_v2_*/events_*"))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    for f in sorted(files, key=lambda p: int(p.name.split("_")[1])):
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def fold(log_dir: pathlib.Path, groups: set[str], wall_s: float, cores: int) -> dict:
    """→ spark.* metrics for the jobs in `groups`, whose tasks ran during
    `wall_s` seconds of driver wall time on `cores` slots; plus
    ``records_read`` (input rows scanned)."""
    stages: set[int] = set()
    tasks: list[dict] = []
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                stages.update(e["Stage IDs"])
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            tasks.append(e)

    out = dict.fromkeys(_ACCUMULABLES.values(), 0.0)
    run_ms = gc_ms = shuffle_bytes = fetch_wait = records = 0
    per_stage: dict[int, list[int]] = {}
    for t in tasks:
        m = t.get("Task Metrics") or {}
        info = t["Task Info"]
        run_ms += m.get("Executor Run Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        fetch_wait += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
        records += m.get("Input Metrics", {}).get("Records Read", 0)
        per_stage.setdefault(t["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"]
        )
        for acc in info.get("Accumulables", ()):
            key = _ACCUMULABLES.get(acc.get("Name"))
            if key is not None and acc.get("Update") is not None:
                out[key] += float(acc["Update"])
    for key in ("spark.arrow_to_py_mb", "spark.arrow_from_py_mb"):
        out[key] /= MB

    # the widest stage sets the straggler; ties go to the longer one
    widest = max(per_stage.values(), key=lambda d: (len(d), sum(d)), default=[0])
    out.update({
        "spark.stages": float(len(per_stage)),
        "spark.tasks": float(len(tasks)),
        "spark.slot_busy_share": run_ms / (wall_s * 1000 * cores),
        "spark.task_skew": max(widest) / max(statistics.median(widest), 1),
        "spark.shuffle_write_mb": shuffle_bytes / MB,
        "spark.shuffle_fetch_wait_ms": float(fetch_wait),
        "spark.gc_ms": float(gc_ms),
        "records_read": float(records),
    })
    return out
