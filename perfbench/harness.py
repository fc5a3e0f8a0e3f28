"""Shared machinery for the perfbench workloads.

Everything here sits outside the program under test: it starts the
Spark session through ``motorway_spark.get_session``, records spans
around the public calls the workloads make, listens to streaming
progress through Spark's public ``StreamingQueryListener`` and reads
Spark's event log through the repository's one event-log reader
(``tools/capture_plans.iter_event_lines``).
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager
from pathlib import Path

#: the checkout the benchmark runs in (its parent directory)
ROOT = Path(__file__).resolve().parent.parent


# -- statistics ----------------------------------------------------------
def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def nearest_rank(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    values = sorted(values)
    if not values:
        return 0.0
    rank = max(1, math.ceil(pct / 100.0 * len(values)))
    return float(values[rank - 1])


def beyond(values, pct: float) -> int:
    """How many samples lie strictly above the nearest-rank ``pct``."""
    cut = nearest_rank(values, pct)
    return sum(1 for v in values if v > cut)


# -- spans -----------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent) around the calls a
    workload makes into each layer; a no-op when tracing is off, so the
    untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children nest within their parent's thread)."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]) * 1000.0
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) * 1000.0 - child_ms.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return {k: round(v, 3) for k, v in sorted(out.items())}

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"spans": self.spans, "self_ms": self.self_times_ms()}, indent=1))


def wait_until(predicate, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while not predicate():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.02)
    return True


# -- streaming progress ----------------------------------------------------
def progress_listener():
    """A ``StreamingQueryListener`` keeping every progress event as a
    dict (``durationMs``, ``stateOperators``, ``sources``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def progress_phases(events: list[dict]) -> dict[str, float]:
    """Median trigger phases and state-store figures over progress
    events that carried input rows."""
    busy = [e for e in events if int(e.get("numInputRows") or 0) > 0]

    def dur(key):
        return median(float((e.get("durationMs") or {}).get(key, 0)) for e in busy)

    def state(key, last=False):
        vals = [sum(float(op.get(key) or 0) for op in e.get("stateOperators") or [])
                for e in busy]
        return (vals[-1] if vals else 0.0) if last else median(vals)

    return {
        "streaming.triggers": float(len(busy)),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "sources.rows_per_trigger": median(float(e.get("numInputRows") or 0) for e in busy),
        "streaming.state_rows": state("numRowsTotal", last=True),
        "streaming.state_memory_bytes": state("memoryUsedBytes", last=True),
        "streaming.state_commit_ms": state("commitTimeMs"),
        "streaming.state_rows_updated": state("numRowsUpdated"),
    }


#: timed repetitions of the fresh-table read, after one untimed read
#: that warms the session's code paths for it
FRESH_READS = 5


# -- sink table figures ------------------------------------------------------
def sink_figures(sink, batches: set[int], input_bytes: float) -> dict[str, float]:
    """Commit mix of the timed ``batches`` from ``history()``, and the
    table's file figures. ``write_amp`` = bytes of every data file the
    sink wrote (live and replaced) over ``input_bytes``, the bytes of
    input its committed batches read."""
    commits = [h for h in sink.history()
               if h["op"] in ("append", "merge") and h["batch_id"] in batches]
    appends = sum(1 for h in commits if h["op"] == "append")
    data = Path(sink.table_dir) / "data"
    all_files = list(data.glob("bucket=*/*.parquet"))
    live_df = sink.read()
    live = {Path(p).name for p in live_df.inputFiles()} if live_df is not None else set()
    live_files = [p for p in all_files if p.name in live]
    written = sum(p.stat().st_size for p in all_files)
    return {
        "sinks.commits": float(len(commits)),
        "sinks.append_commits": float(appends),
        "sinks.merge_commits": float(len(commits) - appends),
        "sinks.append_ratio": appends / len(commits) if commits else 0.0,
        "sinks.live_files": float(len(live_files)),
        "sinks.live_bytes": float(sum(p.stat().st_size for p in live_files)),
        "sinks.bytes_written": float(written),
        "sinks.write_amp": written / input_bytes if input_bytes else 0.0,
    }


def fresh_reads(r: Run, table_dir: str, query: str, expect: tuple) -> float:
    """Median time of a fixed SQL aggregate over the fresh table through
    ``motorway_spark.sql``, checked on every repetition; the first,
    untimed, repetition warms the session for it. Traced runs also
    time the sink's own ``open`` + ``read`` once, and the driver time
    inside ``sql``."""
    from motorway_spark import sql
    from motorway_spark.sinks import UpsertParquetSink

    tr = r.tracer
    if r.trace:
        t0 = time.perf_counter()
        with tr.span("sinks.read"):
            UpsertParquetSink.open(r.spark, table_dir).read()
        r.layers["sinks.read_ms"] = 1000 * (time.perf_counter() - t0)
    sql_ms, total_ms = [], []
    for i in range(1 + FRESH_READS):
        r.job_group(f"perfbench:read:{i}")
        t0 = time.perf_counter()
        with tr.span("fresh_query"):
            with tr.span("sqlapi.sql"):
                df = sql(query, spark=r.spark, tables={"fresh": table_dir})
            t1 = time.perf_counter()
            row = tuple(df.collect()[0])
        t2 = time.perf_counter()
        r.check(row == expect, f"fresh query returned {row}, expected {expect}")
        if i:
            sql_ms.append(1000 * (t1 - t0))
            total_ms.append(1000 * (t2 - t0))
    r.layers["sqlapi.sql_ms"] = median(sql_ms)
    return median(total_ms)


# -- event log ------------------------------------------------------------
def load_tool(name: str):
    """Import ``tools/<name>.py`` of the checkout by path (``tools`` is a
    directory of scripts, not a package)."""
    spec = importlib.util.spec_from_file_location(f"_tools_{name}", ROOT / "tools" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def event_log_jobs(evdir: str) -> list[dict]:
    """One dict per job: group, submission time (epoch ms), tasks,
    executor run seconds, shuffle bytes written and GC seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # the repository's event-log reader (handles Spark 4's eventlog_v2_* layout)
    for line in load_tool("capture_plans").iter_event_lines(evdir):
        if '"Event"' not in line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submitted_ms": ev.get("Submission Time", 0),
                "tasks": 0, "executor_run_s": 0.0, "shuffle_bytes": 0, "gc_s": 0.0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            tm = ev.get("Task Metrics") or {}
            job["tasks"] += 1
            job["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            job["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return list(jobs.values())


def job_totals(jobs: list[dict], prefix: str) -> dict[str, float]:
    return {
        f"{prefix}.jobs": float(len(jobs)),
        f"{prefix}.tasks": float(sum(j["tasks"] for j in jobs)),
        f"{prefix}.executor_run_s": sum(j["executor_run_s"] for j in jobs),
        f"{prefix}.shuffle_bytes": float(sum(j["shuffle_bytes"] for j in jobs)),
        f"{prefix}.gc_s": sum(j["gc_s"] for j in jobs),
    }


# -- the run ----------------------------------------------------------------
class Run:
    """One benchmark run: its work directory, session, tracer and the
    figures it reports. ``close`` stops Spark and waits for the JVM."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 t_process: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.t_process = t_process
        self.base = ROOT / ".perfbench"
        self.work = self.base / "work" / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self.tracer = Tracer(trace)
        self.layers: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.listener = None
        self._gateway = None

    @property
    def evdir(self) -> Path:
        return self.work / "eventlog"

    def start_session(self):
        """Start Spark ``local[nproc]`` with the benchmark's scratch
        space inside the checkout, plus the tracing conf when traced."""
        from motorway_spark import get_session

        tmp = self.work / "tmp"
        tmp.mkdir()
        # temporary files of this process, its Python workers and every
        # JVM it launches; no JVM performance-data files under /tmp
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        conf = {
            "spark.local.dir": str(tmp),
            "spark.driver.memory": "3g",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            self.evdir.mkdir()
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = str(self.evdir)
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_session(f"perfbench-{self.workload}", cpus=cpus,
                                     extra_conf=conf)
        self.layers["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._gateway = SparkContext._gateway
        if self.trace:
            self.listener = progress_listener()
            self.spark.streams.addListener(self.listener)
        return self.spark

    def job_group(self, group: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    def check(self, ok: bool, problem: str) -> None:
        """Count one checked output; a wrong one counts as failed."""
        self.tally(1, int(not ok), [] if ok else [problem])

    def tally(self, attempted: int, failed: int, problems: list[str]) -> None:
        """Count checked outputs, ``failed`` of them wrong; keeps the
        first 20 problem descriptions."""
        self.attempted += attempted
        self.failed += failed
        self.problems.extend(problems[: max(0, 20 - len(self.problems))])

    def close(self) -> None:
        """Stop Spark, then wait until the JVM it launched has exited."""
        if self.spark is None:
            return
        proc = getattr(self._gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        self._gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # a hung JVM must not outlive us
                proc.kill()
                proc.wait()

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
