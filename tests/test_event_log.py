"""The tools' event-log reader (tools/capture_plans.py) on Spark 4's
``eventlog_v2_<appId>/`` layout: plain and zstd ``events_*`` parts, and
per-query job attribution through the ``[name]`` job description, as
``capture_plans`` prints it and as ``measure_scale`` sums it."""

from __future__ import annotations

import json

import pyarrow as pa

from tools.capture_plans import iter_event_lines, per_query_jobs
from tools.measure_scale import scale_metrics


def _events(*evs: dict) -> bytes:
    return "".join(json.dumps(ev) + "\n" for ev in evs).encode()


def _task_end(stage: int, ms: int, run_ms: int, written: int, local: int, remote: int):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Shuffle Read Metrics": {
                "Local Bytes Read": local,
                "Remote Bytes Read": remote,
            },
            "Input Metrics": {"Bytes Read": 100},
        },
    }


def _write_eventlog(tmp_path) -> str:
    """One ``[q_tagged]`` job (stage 0, two tasks) and one untagged job
    (stage 1, one task) across a plain and a zstd ``events_*`` part."""
    logdir = tmp_path / "eventlog_v2_x"
    logdir.mkdir()
    (logdir / "appstatus_x").write_text("")  # not an events_ part
    (logdir / "events_1_x").write_bytes(
        _events(
            {"Event": "SparkListenerApplicationStart", "App ID": "x"},
            {
                "Event": "SparkListenerJobStart",
                "Job ID": 0,
                "Submission Time": 1000,
                "Stage Infos": [{"Stage ID": 0}],
                "Properties": {
                    "spark.job.description": "[q_tagged]",
                    "callSite.short": "save at NativeMethodAccessorImpl.java:0",
                },
            },
            {
                "Event": "SparkListenerJobStart",
                "Job ID": 1,
                "Submission Time": 1100,
                "Stage Infos": [{"Stage ID": 1}],
                "Properties": {"callSite.short": "count at <stdin>:1"},
            },
        )
    )
    with pa.output_stream(str(logdir / "events_2_x.zstd"), compression="zstd") as out:
        out.write(
            _events(
                _task_end(0, 250, 200, 1000, 300, 40),
                _task_end(0, 750, 700, 2000, 0, 60),
                _task_end(1, 500, 500, 9999, 9999, 9999),
                {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
                {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1200},
            )
        )
    return str(tmp_path)


def test_per_query_jobs_reads_plain_and_zstd_parts(tmp_path):
    _write_eventlog(tmp_path)
    kinds = [json.loads(line)["Event"] for line in iter_event_lines(str(tmp_path))]
    assert kinds.count("SparkListenerTaskEnd") == 3  # the zstd part was read
    assert kinds[0] == "SparkListenerApplicationStart"  # parts in order

    tables = per_query_jobs(str(tmp_path))
    assert list(tables) == ["q_tagged"]  # the untagged job is not attributed
    (line,) = tables["q_tagged"]
    assert line.startswith("job   0  wall    2.00s  tasks    2  tasktime    1.00s")
    assert "save at" in line


def test_measure_scale_sums_tagged_task_metrics(tmp_path):
    """measure_scale reports executor run seconds and shuffle/input
    bytes of the tagged jobs' tasks only, and a stage that a later job
    skips (its shuffle output reused) counts once."""
    evdir = _write_eventlog(tmp_path)
    (tmp_path / "eventlog_v2_x" / "events_3_x").write_bytes(
        _events(
            {
                "Event": "SparkListenerJobStart",
                "Job ID": 2,
                "Submission Time": 4000,
                "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 2}],
                "Properties": {"spark.job.description": "[q_tagged]"},
            },
            _task_end(2, 100, 100, 0, 5, 0),
            {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 4200},
        )
    )
    assert scale_metrics(evdir) == {
        "q_tagged": {
            "task_time_sec": 1.0,
            "shuffle_write_bytes": 3000,
            "shuffle_read_bytes": 405,
            "input_bytes": 300,
        }
    }
