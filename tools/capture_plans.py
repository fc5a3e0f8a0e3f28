"""Capture `.explain("formatted")` + a per-job event-log profile for
registry queries into plans/r12/<query>_<tag>.txt.

Usage: python tools/capture_plans.py SF_DIR TAG NAME [NAME...]

TAG is "before" or "after". For queries that execute work at build
time (sink-backed scenarios returning a localCheckpoint), the formatted
plan of the returned frame is just the checkpoint scan — the per-job
table appended below it is the evidence that matters there. Jobs are
attributed to queries via ``spark.job.description`` = ``[name]``
(streaming-internal jobs run on query threads without the description
and are not attributed — the build seconds still include them).
"""

from __future__ import annotations

import collections
import io
import json
import os
import sys
import tempfile
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


# what query_jobs sums over a job's tasks, in its per-task tuple's order
_TASK_SUMS = ("tasks", "task_wall_sec", "task_time_sec", "shuffle_write_bytes",
              "shuffle_read_bytes", "input_bytes")


def iter_event_lines(evdir: str):
    """Yield JSON lines from every event log under ``evdir`` (plain
    files or Spark-4 eventlog_v2 dirs with zstd-compressed parts)."""
    import pyarrow as pa

    for entry in sorted(os.listdir(evdir)):
        path = os.path.join(evdir, entry)
        parts = []
        if os.path.isdir(path):  # eventlog_v2_<appId>/events_N_...[.zstd]
            parts = [
                os.path.join(path, p)
                for p in sorted(os.listdir(path))
                if p.startswith("events_")
            ]
        elif entry.startswith(("local-", "app-", "spark-")):
            parts = [path]
        for p in parts:
            comp = "zstd" if p.endswith(".zstd") else None
            try:
                if comp:
                    data = pa.input_stream(p, compression=comp).read()
                    yield from io.BytesIO(data).read().decode().splitlines()
                else:
                    with open(p) as fh:
                        yield from fh
            except Exception:  # noqa: BLE001 — torn final block etc.
                continue


def query_jobs(evdir: str) -> dict[str, list[dict]]:
    """Query name -> one record per finished job whose description is
    ``[name]``, in job order: ``job``, ``call`` site, ``wall_sec``, and
    over the job's tasks ``tasks``, ``task_wall_sec`` (launch to
    finish), ``task_time_sec`` (executor run time), ``shuffle_write_bytes``,
    ``shuffle_read_bytes`` and ``input_bytes``. A task counts for the
    job that last started its stage, so a stage a later job skips (its
    shuffle output reused) is not counted twice."""
    jobs: dict[int, dict] = {}
    job_of_stage: dict[int, dict] = {}
    for line in iter_event_lines(evdir):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = jobs[ev["Job ID"]] = {
                "job": ev["Job ID"],
                "desc": props.get("spark.job.description") or "",
                "call": props.get("callSite.short", ""),
                "t0": ev["Submission Time"],
                **dict.fromkeys(_TASK_SUMS, 0),
            }
            for s in ev.get("Stage Infos", []):
                job_of_stage[s["Stage ID"]] = j
        elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            j = jobs[ev["Job ID"]]
            j["wall_sec"] = (ev["Completion Time"] - j["t0"]) / 1e3
        elif e == "SparkListenerTaskEnd" and ev.get("Stage ID") in job_of_stage:
            ti, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            task = (
                1,
                (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3,
                (tm.get("Executor Run Time") or 0) / 1e3,
                sw.get("Shuffle Bytes Written") or 0,
                (sr.get("Local Bytes Read") or 0) + (sr.get("Remote Bytes Read") or 0),
                (tm.get("Input Metrics") or {}).get("Bytes Read") or 0,
            )
            j = job_of_stage[ev["Stage ID"]]
            for k, v in zip(_TASK_SUMS, task):
                j[k] += v
    out: dict[str, list[dict]] = collections.defaultdict(list)
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        if "wall_sec" in j and j["desc"].startswith("[") and j["desc"].endswith("]"):
            out[j["desc"][1:-1]].append(j)
    return out


def per_query_jobs(evdir: str) -> dict[str, list[str]]:
    """Query name -> one line per finished job whose description is
    ``[name]``: wall seconds, task count, summed task seconds, call site."""
    return {
        name: [
            f"job {j['job']:3d}  wall {j['wall_sec']:7.2f}s  tasks {j['tasks']:4d}  "
            f"tasktime {j['task_wall_sec']:7.2f}s  {j['call'][:80]}"
            for j in jobs
        ]
        for name, jobs in query_jobs(evdir).items()
    }


def main() -> None:
    sf_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"),
    )
    os.makedirs(outdir, exist_ok=True)
    evdir = tempfile.mkdtemp(prefix="plan_events_")

    from motorway_spark.session import get_session
    from motorway_spark.queries import QUERIES

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_session(
        "motorway-plans",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warmup

    plans: dict[str, str] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"[{name}]")
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        t0b = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        plans[name] = (
            f"# {name} [{tag}] — explain('formatted') of the returned frame\n"
            f"# build+explain {t0b - t0:.2f}s, noop action "
            f"{t1 - t0b:.2f}s (this host)\n\n" + buf.getvalue()
        )
        print(f"# {name}: build {t0b - t0:.2f}s noop {t1 - t0b:.2f}s",
              file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
        # same inter-query isolation as bench.py: release registry-held
        # persists too, so one query's resident cache can't contaminate
        # the next query's job counts
        from motorway_spark.maintenance import CACHES

        CACHES.release_all()
        spark.catalog.clearCache()

    spark.stop()
    tables = per_query_jobs(evdir)
    for name in names:
        mine = tables.get(name, [])
        body = plans[name] + (
            "\n# ---- per-job breakdown (event log; wall seconds on this "
            f"host) ----\n# n_jobs = {len(mine)}\n" + "\n".join(mine) + "\n"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(body)
        print(f"wrote {path}  (n_jobs={len(mine)})")


if __name__ == "__main__":
    main()
