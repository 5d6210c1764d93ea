import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_v2_local-1")
GROUP = "pass-0/0/dedup.run_dedup"


def _groups():
    return eventlog.group_totals(eventlog.read_events(eventlog.log_files(FIXTURE)))


def test_rolled_files_are_read_in_index_order():
    files = [os.path.basename(f) for f in eventlog.log_files(FIXTURE)]
    assert files == ["events_1_local-1", "events_2_local-1"]


def test_group_totals_attribute_tasks_through_stages():
    g = _groups()[GROUP]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 3)
    assert g["task_run_ms"] == 450
    assert g["task_cpu_ns"] == 210_000_000
    assert g["gc_ms"] == 20
    assert g["shuffle_write_bytes"] == 8192
    assert g["shuffle_read_bytes"] == 4096
    assert g["spill_bytes"] == 512
    assert g["output_bytes"] == 2048
    assert g["job_wall_ms"] == [600]


def test_python_metrics_are_scaled_by_their_plan_metric_type():
    g = _groups()[GROUP]
    assert g["py_start_ms"] == pytest.approx(30)  # "timing": already ms
    assert g["py_run_ms"] == pytest.approx(6)  # "nsTiming": 6e6 ns
    assert g["py_sent_bytes"] == 4000


def test_jobs_without_group_and_reused_stages():
    ungrouped = _groups()[""]
    # job 1 lists stage 1 too, but stage 1 belongs to the job that ran it first
    assert (ungrouped["jobs"], ungrouped["stages"], ungrouped["tasks"]) == (1, 1, 1)
    assert ungrouped["job_wall_ms"] == [40]


def test_merge_sums_groups():
    groups = _groups()
    total = eventlog.merge(groups.values())
    assert total["jobs"] == 2 and total["tasks"] == 4
    assert sorted(total["job_wall_ms"]) == [40, 600]
