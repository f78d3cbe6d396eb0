"""Event-log reader against a small recorded Spark 4.1 log and
hand-built events.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.json")


def test_recorded_log_grouped_by_job_description():
    # The log: a pandas-UDF chunking count in three jobs under
    # "dm:r1:chunks", then two jobs with no description.
    groups = eventlog.summarize(eventlog.events(LOG))
    assert set(groups) == {"dm:r1:chunks", ""}
    g = groups["dm:r1:chunks"]
    assert g["jobs"] == 3
    assert g["task_s"] == pytest.approx((2097 + 2146 + 126 + 15) / 1000)
    assert g["max_task_s"] == pytest.approx(2.146)
    assert g["shuffle_write_bytes"] == 1340 + 1368 + 59
    assert g["shuffle_read_bytes"] == 2708 + 59
    assert g["python_s"] == pytest.approx((1788 + 1890) / 1000)
    assert g["python_bytes"] == 4080 + 4816 + 4184 + 4928
    other = groups[""]
    assert other["jobs"] == 2
    assert other["task_s"] == pytest.approx((36 + 27 + 27) / 1000)
    assert other["python_s"] == 0
    assert other["spill_bytes"] == 0


def _job(jid, stages, desc=None, t=0, props=None):
    p = dict(props or {})
    if desc is not None:
        p["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t, "Stage IDs": stages, "Properties": p}


def _task(stage, run_ms, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": []},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Disk Bytes Spilled": spill}}


def test_stage_counts_toward_the_first_job_that_lists_it():
    # job 1 lists stage 0 again (a reused shuffle); the task that ran
    # stage 0 belongs to job 0's group only
    evs = [_job(0, [0], "a", t=10), _task(0, 500),
           _job(1, [0, 1], "b", t=20), _task(1, 300)]
    groups = eventlog.summarize(evs)
    assert groups["a"]["task_s"] == pytest.approx(0.5)
    assert groups["b"]["task_s"] == pytest.approx(0.3)
    assert groups["b"]["jobs"] == 1


def test_spill_is_summed_and_longest_task_kept():
    evs = [_job(0, [0], "a"), _task(0, 100, spill=4096), _task(0, 250, spill=1)]
    g = eventlog.summarize(evs)["a"]
    assert g["spill_bytes"] == 4097
    assert g["max_task_s"] == pytest.approx(0.25)


def test_custom_group_key():
    evs = [_job(0, [0], props={"streaming.sql.batchId": "3"}), _task(0, 200)]
    groups = eventlog.summarize(
        evs, key=lambda e: e["Properties"].get("streaming.sql.batchId", ""))
    assert groups["3"]["task_s"] == pytest.approx(0.2)


def test_rolling_directory_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i in (1, 2, 10):
        (d / f"events_{i}_local-1").write_text(json.dumps({"Event": f"e{i}"}) + "\n\n")
    (d / "appstatus_local-1").write_text("")
    assert [e["Event"] for e in eventlog.events(str(d))] == ["e1", "e2", "e10"]
    assert eventlog.find_log(str(tmp_path), "local-1") == str(d)


def test_find_log_skips_unfinished(tmp_path):
    (tmp_path / "local-7.inprogress").write_text("")
    with pytest.raises(FileNotFoundError):
        eventlog.find_log(str(tmp_path), "local-7")
