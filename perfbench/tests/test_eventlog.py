"""Tests of the event-log parser on a small committed fixture.

The fixture holds three jobs cut from a traced ``elb`` run: two under
one span's job group (the second lists a skipped stage) and one under
the benchmark's check group, plus a final line cut short mid-event.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from perfbench.eventlog import (
    counters_by,
    find_event_log,
    parse_events,
    read_event_log,
    stages_in_window,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return read_event_log(FIXTURE)


def test_jobs_carry_group_description_and_stages(log):
    assert sorted(log.jobs) == [0, 2, 41]
    job = log.jobs[2]
    assert job.group == "perfbench:8"
    assert job.description == "sources.geo_cache.update_geo_cache"
    assert job.stage_ids == (2, 3)
    assert job.succeeded is True
    assert job.end_ms - job.submit_ms == 231
    assert log.jobs[41].group == "perfbench-check"


def test_skipped_stage_is_never_submitted(log):
    assert 2 not in log.stages  # listed by job 2, its output reused
    assert log.stages[3].submit_ms is not None
    assert log.stages[3].duration_ms == 217


def test_task_counters_fold_per_stage(log):
    st = log.stages[105]
    assert st.counters.tasks == 4
    assert st.counters.input_mb == pytest.approx((27901 + 57481 + 193770 + 194479) / 1e6)
    assert st.counters.gc_s == pytest.approx(0.108)
    assert any("Scan text" in n for n in st.rdd_names)


def test_counters_by_group_charges_each_stage_once(log):
    by_group = counters_by(log, lambda job: job.group)
    span = by_group["perfbench:8"]
    assert (span.jobs, span.stages, span.tasks) == (2, 2, 5)
    assert span.exec_cpu_s == pytest.approx(0.357248934)
    assert span.shuffle_read_mb == pytest.approx(0.075151)
    check = by_group["perfbench-check"]
    assert (check.jobs, check.stages, check.tasks) == (1, 1, 4)
    # a key of None leaves the job out
    assert set(counters_by(log, lambda j: None)) == set()


def test_truncated_line_is_skipped():
    with open(FIXTURE, encoding="utf-8") as f:
        lines = f.readlines()
    with pytest.raises(json.JSONDecodeError):
        json.loads(lines[-1])
    assert parse_events(lines[:-1]).stages[0].counters.tasks == 4
    assert parse_events(lines).stages[0].counters.tasks == 4


def test_stages_in_window(log):
    t = log.stages[3].submit_ms
    assert [s.stage_id for s in stages_in_window(log, t, t)] == [3]
    assert {s.stage_id for s in stages_in_window(log, 0, 2**63)} == {0, 3, 105}


def test_find_event_log_reads_both_layouts(tmp_path):
    plain = tmp_path / "plain"
    plain.mkdir()
    shutil.copy(FIXTURE, plain / "local-1")
    assert find_event_log(str(plain)) == str(plain / "local-1")
    rolling = tmp_path / "rolling"
    (rolling / "eventlog_v2_local-1").mkdir(parents=True)
    for i in (1, 2):
        shutil.copy(FIXTURE, rolling / "eventlog_v2_local-1" / f"events_{i}_local-1")
    assert find_event_log(str(rolling)).endswith("events_2_local-1")
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        find_event_log(str(empty))
