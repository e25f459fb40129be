"""Fold a Spark event log into per-job rows.

The benchmark tags every Spark job it causes with a job group named
``o<op id>.<phase>`` (see ``tracing.py``). Spark writes one JSON object
per line to its event log (``spark.eventLog.compress=false``). This
module reads that log after the session stops and gives one row per
job: its group, its wall-clock span, and its tasks' count, executor run
and CPU time, JVM GC time, shuffle bytes written and spill bytes.
``report.py`` assigns the rows to ops and computes the driver gap (op
wall minus the union of its job spans).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass
class JobRow:
    job_id: int
    group: str  # spark.jobGroup.id, "" when the job had none
    submit_ms: float  # epoch milliseconds
    end_ms: float = 0.0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def fold(log_dir: str) -> list[JobRow]:
    """One row per job found in the logs under ``log_dir``: its group,
    span, and the summed metrics of the tasks its stages ran."""
    jobs: dict[int, JobRow] = {}
    stage_job: dict[int, JobRow] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = JobRow(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id") or "",
                        float(ev.get("Submission Time", 0)),
                    )
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = float(ev.get("Completion Time", 0))
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    if job is None:
                        continue
                    job.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    job.executor_run_ms += m.get("Executor Run Time", 0)
                    job.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    job.gc_ms += m.get("JVM GC Time", 0)
                    job.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def union_ms(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total = 0.0
    end = lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
