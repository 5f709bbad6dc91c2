"""Spark event-log parser: per-window job, stage and task statistics.

The traced run starts its session with ``spark.eventLog.enabled`` pointing at
a local directory (this works with ``spark.ui.enabled=false``) and parses the
JSON-lines log after the session stops. Loads run one at a time (a closed loop
with one client), so the jobs of a load are exactly the jobs submitted inside
its wall-clock window; worker-thread jobs need no job-group tagging.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from spans import clip, union_s


def conf(log_dir: str) -> dict[str, str]:
    """Session conf that turns the log on; pass through ``get_spark(extra_conf=)``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    n_tasks: int = 0
    csv_scan: bool = False  # reads a text/csv landing file
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill_disk: int = 0
    input_bytes: int = 0
    completed: bool = False


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)


def _is_csv_scan(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        if "Scan csv" in scope or "Scan text" in scope:
            return True
    return False


def parse(path: str) -> Log:
    """Parse one event-log file (JSON lines)."""
    log = Log()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = Job(ev["Submission Time"], None, ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], Stage())
                st.completed = True
                st.csv_scan = st.csv_scan or _is_csv_scan(info)
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(ev["Stage ID"], Stage())
                m = ev.get("Task Metrics") or {}
                st.n_tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_disk += m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return log


def find_log(log_dir: str) -> str:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, found {len(paths)}")
    return paths[0]


def window(log: Log, t0: float, t1: float, cores: int) -> dict:
    """Statistics of the jobs submitted in the epoch-seconds window [t0, t1]."""
    jobs = [j for j in log.jobs.values() if t0 * 1000 <= j.start_ms <= t1 * 1000]
    stage_ids = {s for j in jobs for s in j.stage_ids}
    stages = [log.stages[s] for s in sorted(stage_ids) if s in log.stages]
    ran = [s for s in stages if s.completed]
    intervals = [(j.start_ms / 1000, (j.end_ms or j.start_ms) / 1000) for j in jobs]
    busy = union_s(clip(intervals, t0, t1))
    run_s = sum(s.run_ms for s in ran) / 1000
    mb = 1024 * 1024
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s.n_tasks for s in ran),
        "job_busy_s": busy,
        "job_intervals": intervals,
        "executor_run_s": run_s,
        "executor_cpu_s": sum(s.cpu_ns for s in ran) / 1e9,
        "gc_s": sum(s.gc_ms for s in ran) / 1000,
        "shuffle_write_mb": sum(s.shuffle_write for s in ran) / mb,
        "shuffle_read_mb": sum(s.shuffle_read for s in ran) / mb,
        "spill_mb": sum(s.spill_disk for s in ran) / mb,
        "slot_utilization": run_s / (busy * cores) if busy else 0.0,
        "csv_bytes_read": sum(s.input_bytes for s in ran if s.csv_scan),
    }
