"""Folding a recorded rolling event log into per-job-group sums.

``recorded/eventlog_v2_local-1`` was recorded from a local[2] session running
one mapInPandas job in group ``py``, one groupBy job in group ``shuffle``
and one untagged count, trimmed to the fields the fold reads and split
into two rolling parts.
"""

from __future__ import annotations

import os

import pytest

import eventlog

LOG_DIR = os.path.join(os.path.dirname(__file__), "recorded")


@pytest.fixture(scope="module")
def groups():
    return eventlog.fold(eventlog.read_events(LOG_DIR))


def test_rolling_parts_read_in_index_order():
    names = [os.path.basename(p) for p in eventlog.event_files(LOG_DIR)]
    assert names == ["events_1_local-1", "events_2_local-1"]


def test_task_sums_per_group(groups):
    assert set(groups) == {"py", "shuffle", None}
    py, shuffle, untagged = groups["py"], groups["shuffle"], groups[None]
    assert (py.jobs, py.tasks, py.exec_run_ms, py.exec_cpu_ns) == (1, 2, 3570, 476264904)
    assert (shuffle.jobs, shuffle.tasks, shuffle.shuffle_write_bytes) == (1, 4, 345)
    assert (untagged.jobs, untagged.tasks, untagged.shuffle_write_bytes) == (1, 3, 118)


def test_python_worker_accumulables(groups):
    py = groups["py"]
    assert (py.python_ms, py.py_sent_bytes, py.py_returned_bytes) == (3026, 33376, 32352)
    assert groups["shuffle"].python_ms == 0


def test_time_window_overrides_job_group():
    events = list(eventlog.read_events(LOG_DIR))
    starts = [e["Submission Time"] for e in events
              if e["Event"] == "SparkListenerJobStart"]
    folded = eventlog.fold(events, {"win": (starts[1], starts[2])})
    assert set(folded) == {"py", "win"}
    assert (folded["win"].jobs, folded["win"].tasks) == (2, 7)


def test_layer_metrics_units(groups):
    m = groups["py"].metrics(wall_s=2.0, cores=2)
    assert m["exec_run_s"] == (pytest.approx(3.57), "s")
    assert m["python_s"] == (pytest.approx(3.026), "s")
    assert m["py_sent_mb"] == (pytest.approx(33376 / 2**20), "MB")
    assert m["core_util"] == (pytest.approx(3.57 / 4.0), "ratio")
    assert m["task_max_over_median"][0] >= 1.0
