"""Fold Spark's JSON event log into per-label task counters.

The benchmark labels each traced call with ``setJobDescription``;
every stage submitted under that label carries it in its properties.
Task metrics of those stages are summed per label.  The log must be
written uncompressed and non-rolling (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``) so the standard library can
read it.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

_MB = 1024.0 * 1024.0


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold(path: str) -> dict[str, dict[str, float]]:
    """label -> {jobs, cpu_s, gc_s, task_skew, shuffle_read_mb,
    shuffle_write_mb, spill_mb, rows_in}."""
    stage_label: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get("spark.job.description")
                if label:
                    jobs[label] += 1
            elif kind == "SparkListenerStageSubmitted":
                label = (ev.get("Properties") or {}).get("spark.job.description")
                if label:
                    stage_label[ev["Stage Info"]["Stage ID"]] = label
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if label is None or not m:
                    continue
                a = acc[label]
                a["cpu_s"] += m["Executor CPU Time"] / 1e9
                a["gc_s"] += m["JVM GC Time"] / 1e3
                a["spill_mb"] += m["Disk Bytes Spilled"] / _MB
                sr = m.get("Shuffle Read Metrics", {})
                a["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / _MB
                a["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
                )
                a["rows_in"] += m.get("Input Metrics", {}).get("Records Read", 0)
                stage_tasks[ev["Stage ID"]].append(m["Executor Run Time"])
    # skew of each label's heaviest stage: max / median task run time
    heaviest: dict[str, list[int]] = {}
    for sid, times in stage_tasks.items():
        label = stage_label[sid]
        if label not in heaviest or sum(times) > sum(heaviest[label]):
            heaviest[label] = times
    out = {}
    for label in set(acc) | set(jobs):
        row = {k: float(v) for k, v in acc.get(label, {}).items()}
        row["jobs"] = float(jobs.get(label, 0))
        times = heaviest.get(label)
        row["task_skew"] = (
            max(times) / max(statistics.median(times), 1.0) if times else 1.0
        )
        out[label] = row
    return out
