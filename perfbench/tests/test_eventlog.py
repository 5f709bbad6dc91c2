"""Event-log parser tests against a small recorded log (see record_eventlog.py).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog-small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def _span(log):
    starts = [j.start_ms for j in log.jobs.values()]
    ends = [j.end_ms for j in log.jobs.values()]
    return min(starts) / 1000, max(ends) / 1000


def test_every_job_has_an_end_and_known_stages(log):
    assert len(log.jobs) >= 2
    for job in log.jobs.values():
        assert job.end_ms is not None and job.end_ms >= job.start_ms
        assert job.stage_ids


def test_task_counts_match_stage_tasks(log):
    ran = [s for s in log.stages.values() if s.completed]
    assert ran and all(s.n_tasks >= 1 for s in ran)


def test_csv_scan_stage_is_detected_and_read_once(log):
    csv = [s for s in log.stages.values() if s.csv_scan]
    assert len(csv) == 1
    assert csv[0].input_bytes > 0


def test_window_covers_all_jobs(log):
    t0, t1 = _span(log)
    w = eventlog.window(log, t0, t1, cores=2)
    assert w["jobs"] == len(log.jobs)
    assert w["stages"] == sum(1 for s in log.stages.values() if s.completed)
    assert w["tasks"] == sum(s.n_tasks for s in log.stages.values() if s.completed)
    assert 0 < w["job_busy_s"] <= t1 - t0 + 1e-9
    assert 0 < w["slot_utilization"] <= 1.0
    assert w["shuffle_write_mb"] > 0 and w["shuffle_read_mb"] > 0
    assert w["csv_bytes_read"] > 0


def test_window_excludes_jobs_outside_it(log):
    t0, _t1 = _span(log)
    w = eventlog.window(log, t0 - 100, t0 - 50, cores=2)
    assert w["jobs"] == 0 and w["tasks"] == 0 and w["job_busy_s"] == 0


def test_conf_enables_an_uncompressed_local_log(tmp_path):
    c = eventlog.conf(str(tmp_path))
    assert c["spark.eventLog.enabled"] == "true"
    assert c["spark.eventLog.compress"] == "false"
    assert c["spark.eventLog.dir"] == "file://" + str(tmp_path)


def test_find_log_wants_exactly_one_file(tmp_path):
    with pytest.raises(FileNotFoundError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-1").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("app-1")
