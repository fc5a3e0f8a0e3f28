"""The tools' event-log reader (tools/capture_plans.py) on Spark 4's
``eventlog_v2_<appId>/`` layout: plain and zstd ``events_*`` parts, and
per-query job attribution through the ``[name]`` job description."""

from __future__ import annotations

import json

import pyarrow as pa

from tools.capture_plans import iter_event_lines, per_query_jobs


def _events(*evs: dict) -> bytes:
    return "".join(json.dumps(ev) + "\n" for ev in evs).encode()


def test_per_query_jobs_reads_plain_and_zstd_parts(tmp_path):
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
                *(
                    {
                        "Event": "SparkListenerTaskEnd",
                        "Stage ID": 0,
                        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
                    }
                    for ms in (250, 750)
                ),
                {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
                {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1200},
            )
        )

    kinds = [json.loads(line)["Event"] for line in iter_event_lines(str(tmp_path))]
    assert kinds.count("SparkListenerTaskEnd") == 2  # the zstd part was read
    assert kinds[0] == "SparkListenerApplicationStart"  # parts in order

    tables = per_query_jobs(str(tmp_path))
    assert list(tables) == ["q_tagged"]  # the untagged job is not attributed
    (line,) = tables["q_tagged"]
    assert line.startswith("job   0  wall    2.00s  tasks    2  tasktime    1.00s")
    assert "save at" in line
