"""Standard-library reader for Spark's JSON-lines event log.

The traced run writes an uncompressed event log (``eventlog_v2_*/events_*``
when rolling is on, one file otherwise). This module loads it and
attributes jobs, stages, tasks, task metrics, SQL metrics and streaming
progress to the benchmark's operations by **time window**: a job belongs
to the operation whose window contains its submission time, and a task or
stage belongs to the job that ran it. Job groups are not used, because
streaming micro-batch jobs run on the stream thread and escape them.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def _event_files(log_dir: str) -> list[str]:
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith(("appstatus", "."))]

    def order(path: str) -> tuple:
        base = os.path.basename(path)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), idx, base)

    return sorted(files, key=order)


def _iso_ms(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


class EventLog:
    """Jobs, tasks and streaming progress parsed from one application's log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, int] = {}  # job id -> submission time (ms)
        self.stage_job: dict[int, int] = {}
        self.stages: dict[tuple[int, int], int] = {}
        self.tasks: list[dict] = []
        self.progress: list[dict] = []
        for path in _event_files(log_dir):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            self.jobs[job] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = job
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = (
                self.stage_job.get(info["Stage ID"], -1)
            )
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(_task_row(ev, self.stage_job.get(ev["Stage ID"], -1)))
        elif kind == _PROGRESS:
            p = ev.get("progress") or {}
            if "timestamp" in p:
                self.progress.append(_progress_row(p))

    def window(self, start_ms: float, end_ms: float) -> dict:
        """Every engine metric for jobs submitted in ``[start_ms, end_ms]``."""
        jobs = {j for j, t in self.jobs.items() if start_ms <= t <= end_ms}
        stages = {s for s, j in self.stages.items() if j in jobs}
        tasks = [t for t in self.tasks if t["job"] in jobs]
        prog = [p for p in self.progress if start_ms <= p["ts"] <= end_ms]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            # tasks that read no record: scheduled, but did no useful work
            "spark.empty_tasks": sum(1 for t in tasks if t["records"] == 0),
        }
        for key in _TASK_SUMS:
            out[key] = sum(t[key] for t in tasks)
        out["streaming.batches"] = len(prog)
        out["streaming.batch_s"] = sum(p["batch_s"] for p in prog)
        out["streaming.commit_s"] = sum(p["commit_s"] for p in prog)
        # state size is a level, not a flow: take the largest any batch held
        out["streaming.state_rows"] = max((p["state_rows"] for p in prog), default=0)
        out["streaming.state_memory_bytes"] = max(
            (p["state_memory_bytes"] for p in prog), default=0
        )
        return out

    def jobs_in(self, start_ms: float, end_ms: float) -> int:
        return sum(1 for t in self.jobs.values() if start_ms <= t <= end_ms)


_TASK_SUMS = (
    "spark.scheduler_delay_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.input_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "sources.python_run_s",
    "sources.python_bytes",
)


def _task_row(ev: dict, job: int) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch_ms = finish - getting if getting else 0
    run_ms = m.get("Executor Run Time", 0)
    delay_ms = (finish - launch) - run_ms - m.get("Executor Deserialize Time", 0) \
        - m.get("Result Serialization Time", 0) - fetch_ms
    py_ms = py_bytes = 0.0
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == "time to run Python workers":
            py_ms += float(acc.get("Update") or 0)
        elif name in ("data sent to Python workers", "data returned from Python workers"):
            py_bytes += float(acc.get("Update") or 0)
    return {
        "job": job,
        "records": inp.get("Records Read", 0) + sr.get("Total Records Read", 0),
        "spark.scheduler_delay_s": max(0, delay_ms) / 1e3,
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "spark.gc_s": m.get("JVM GC Time", 0) / 1e3,
        "spark.input_bytes": inp.get("Bytes Read", 0),
        "spark.shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spark.shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spark.spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "sources.python_run_s": py_ms / 1e3,
        "sources.python_bytes": py_bytes,
    }


def _progress_row(p: dict) -> dict:
    dur = p.get("durationMs") or {}
    ops = p.get("stateOperators") or []
    return {
        "ts": _iso_ms(p["timestamp"]),
        "batch_s": dur.get("triggerExecution", 0) / 1e3,
        "commit_s": (dur.get("commitOffsets", 0) + dur.get("commitBatch", 0)) / 1e3,
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
    }
