"""Workload ``stream_ingest_openloop``: open-loop ingest at a fixed rate.

One generator thread appends seeded JSON records to a single-partition
``kafkalog`` topic on a fixed schedule, whatever the stream does; each
record carries its scheduled send time. The stream runs ``JsonParse``
-> ``ProjectIntersection`` -> ``UpsertParquetSink`` keyed on a monotone
id, so every commit takes the sink's append path and no state store is
involved. The projection carries ``@batch_process(wait=2)`` (the
reference's own tags say ``wait=1``; see ``WAIT_S``), and the stream
takes its trigger from ``Pipeline.trigger_kwargs()``. A record's latency
runs from its scheduled send time to the return of the ``upsert_batch``
that committed it.

After the ingest window, its check and its reads, the same session runs
the drain of ``perfbench.drain``, the reference's flagship word count,
for as long again: the state store and the sink's merge path, which the
ingest bypasses, give the workload its throughput.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

from motorway_spark import batch_process
from motorway_spark.intersections import ProjectIntersection
from perfbench.drain import drain
from perfbench.harness import (Run, beyond, fresh_reads, median, nearest_rank,
                               progress_phases, sink_figures, wait_until)

RATE = 500  # records per second
WARMUP_RECORDS = 200  # written at once before the stream starts
PACED_WARMUP_S = 4.0  # paced records before the timed window
#: the batching tag. The reference tags its controller ingest and its
#: Kafka sink ``@batch_process(wait=1, limit=500)``. Here a trigger takes
#: ~1.1 s on the measurement host, longer than ``wait=1``: the triggers
#: then run back to back, the stream works at its limit, and latency
#: follows the host's momentary speed (p50 spread 0.38, p95 0.47 over
#: five seeds). ``wait=2`` keeps each trigger inside its interval. The
#: limit is two intervals' worth of records, so a backlog left by one
#: slow trigger is caught up by the next.
WAIT_S = 2
LIMIT = 2 * WAIT_S * RATE
DRAIN_TIMEOUT_S = 60.0
SCHEMA = "id BIGINT, payload STRING, sched DOUBLE"


class TaggedProject(ProjectIntersection):
    """``ProjectIntersection`` with the workload's batching tag."""

    @batch_process(wait=WAIT_S, limit=LIMIT)
    def process(self, df):
        return super().process(df)


def record_line(i: int, payload: str, sched: float) -> str:
    return json.dumps({"key": str(i), "value": {
        "id": i, "payload": payload, "sched": sched}}) + "\n"


class Generator(threading.Thread):
    """Appends record i at ``t0 + i / rate`` (wall clock) to one
    partition file, in chunks of whatever is due, from record ``first``
    up to ``stop_at``; records how late each chunk ran against its
    schedule. ``drop`` names a record it leaves out."""

    def __init__(self, path: str, payloads: list[str], rate: float, t0: float,
                 first: int, stop_at: int, drop: int | None = None):
        super().__init__(daemon=True)
        self.path, self.payloads, self.rate = path, payloads, rate
        self.t0, self.next, self.stop_at, self.drop = t0, first, stop_at, drop
        self.lateness_ms: list[float] = []
        self.appended: list[tuple[float, int]] = []  # (wall time, offsets appended)
        self.halt = threading.Event()
        self.error: Exception | None = None

    def run(self):
        try:
            offsets = self.next
            with open(self.path, "a") as fh:
                while self.next < self.stop_at and not self.halt.is_set():
                    now = time.time()
                    due = min(self.stop_at, int((now - self.t0) * self.rate) + 1)
                    if due > self.next:
                        ids = [i for i in range(self.next, due) if i != self.drop]
                        fh.write("".join(record_line(i, self.payloads[i], self.t0 + i / self.rate)
                                         for i in ids))
                        fh.flush()
                        self.lateness_ms.append(
                            1000 * (time.time() - (self.t0 + self.next / self.rate)))
                        self.next = due
                        offsets += len(ids)
                        self.appended.append((time.time(), offsets))
                    self.halt.wait(0.005)
        except Exception as exc:  # noqa: BLE001 - surfaced by the caller
            self.error = exc


def first_mid_interval(now: float, interval: float) -> float:
    """The first time at or after ``now`` that lies half an interval past
    a whole multiple of ``interval`` (seconds since the epoch)."""
    mid = (now // interval) * interval + interval / 2
    return mid if mid >= now else mid + interval


def end_offset(progress: dict) -> int:
    """The single partition's end offset in a progress event."""
    src = (progress.get("sources") or [{}])[0]
    end = src.get("endOffset")
    if isinstance(end, str):
        end = json.loads(end)
    return int(((end or {}).get("offsets") or {}).get("0", 0))


def run(r: Run, rate: int = RATE, drop: int | None = None) -> dict[str, float]:
    """Ingest for ``r.seconds`` at ``rate``; ``drop`` names a record the
    generator leaves out (the harness self-test)."""
    from pyspark.sql import functions as F

    from motorway_spark.intersections import JsonParse
    from motorway_spark.pipeline import FormatRamp, Pipeline
    from motorway_spark.planguard import assert_plan_safe
    from motorway_spark.sinks import UpsertParquetSink
    from motorway_spark.sources import register_sources

    spark = r.start_session()
    register_sources(spark)
    tr = r.tracer
    topic, table, ckpt = (str(r.work / d) for d in ("topic", "table", "ckpt"))
    os.makedirs(topic)
    log = os.path.join(topic, "partition-0.jsonl")
    n_paced = int(rate * (PACED_WARMUP_S + r.seconds))
    total = WARMUP_RECORDS + n_paced
    with tr.span("inputs"):
        rng = np.random.default_rng(r.seed)
        lengths = rng.integers(8, 40, total)
        alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
        chars = alphabet[rng.integers(0, len(alphabet), int(lengths.sum()))]
        payloads = ["".join(c) for c in np.split(chars, np.cumsum(lengths)[:-1])]

    c0 = time.perf_counter()
    with tr.span("pipeline.compile"):
        p = Pipeline(spark)
        p.add_ramp(FormatRamp("kafkalog", {"path": topic}), "raw")
        p.add_intersection(JsonParse("value", SCHEMA), "raw", "parsed")
        p.add_intersection(TaggedProject(
            F.col("id"), F.col("payload"), F.col("sched")), "parsed", "rows")
        rows = p.compile()["rows"]
    c1 = time.perf_counter()
    with tr.span("planguard.check"):
        assert_plan_safe(rows)
    r.layers["pipeline.compile_ms"] = 1000 * (c1 - c0)
    r.layers["planguard.check_ms"] = 1000 * (time.perf_counter() - c1)

    sink = UpsertParquetSink(spark, table, key_cols=["id"])
    commits: dict[int, tuple[float, float, float]] = {}  # batch -> (start, end, wall end)

    def upsert(batch_df, batch_id):
        r.job_group(f"perfbench:batch:{batch_id}")
        t_a = time.perf_counter()
        with tr.span("sinks.upsert_batch", batch=batch_id):
            sink.upsert_batch(batch_df, batch_id)
        commits[batch_id] = (t_a, time.perf_counter(), time.time())

    # warm-up: a burst the cold first triggers absorb before pacing starts
    now = time.time()
    with open(log, "w") as fh:
        fh.write("".join(record_line(i, payloads[i], now) for i in range(WARMUP_RECORDS)))
    query = (rows.writeStream.foreachBatch(upsert)
             .trigger(**p.trigger_kwargs())
             .option("checkpointLocation", ckpt).start())
    gen = None
    try:
        if not wait_until(lambda: committed_offsets(query) >= WARMUP_RECORDS
                          or query.exception() is not None, timeout=150):
            raise RuntimeError("warm-up records did not commit")
        # the backlog is empty: pace record i at t0 + i / rate, starting
        # half an interval after a trigger time. Spark fires processing-time
        # triggers at whole multiples of the interval, so every run then
        # cuts its records into the same batches.
        t0 = first_mid_interval(time.time(), WAIT_S) - WARMUP_RECORDS / rate
        first_timed = WARMUP_RECORDS + int(rate * PACED_WARMUP_S)
        gen = Generator(log, payloads, rate, t0, WARMUP_RECORDS, total, drop=drop)
        gen.start()
        with tr.span("window"):
            time.sleep(max(0.0, t0 + first_timed / rate - time.time()))
            setup_s = time.perf_counter() - r.t_process
            wall0 = time.time()
            gen.join(timeout=r.seconds + 30)
            n_offsets = total - (drop is not None)
            wait_until(lambda: committed_offsets(query) >= n_offsets
                       or query.exception() is not None, timeout=DRAIN_TIMEOUT_S)
        with tr.span("streaming.stop"):
            query.stop()
    finally:
        if query.isActive:
            query.stop()
        if gen is not None:
            gen.halt.set()
            gen.join(timeout=10)
    if gen.error is not None:
        raise RuntimeError(f"generator failed: {gen.error}")
    err = query.exception()
    if err is not None:
        raise RuntimeError(f"ingest query failed: {err}")

    # batch -> end offset, from the query's own progress reports
    progress = [json.loads(q.json) for q in query.recentProgress]
    ends = sorted((int(e["batchId"]), end_offset(e)) for e in progress
                  if int(e.get("numInputRows") or 0) > 0 and int(e["batchId"]) in commits)
    lat_ms, lag, timed_batches = [], [], []
    start = 0
    for batch, end in ends:
        wall_commit = commits[batch][2]
        # offset i holds the record scheduled at t0 + i / rate
        lat_ms.extend(1000 * (wall_commit - (t0 + i / rate))
                      for i in range(max(start, first_timed), end))
        if end > first_timed:
            timed_batches.append(batch)
            appended = max((n for t, n in gen.appended if t <= wall_commit), default=0)
            lag.append(float(max(0, appended - end)))
        start = end
    wall1 = max((commits[b][2] for b in timed_batches), default=wall0)

    # correctness, outside the timed region: every id once, with its payload
    got = sink.read().select("id", "payload").toPandas()
    ids = got["id"].to_numpy()
    counts = np.bincount(ids[(ids >= 0) & (ids < total)], minlength=total)
    lost = int((counts == 0).sum())
    dup = int((counts > 1).sum()) + int(((ids < 0) | (ids >= total)).sum())
    wrong = sum(1 for i, pl in zip(ids, got["payload"]) if 0 <= i < total and payloads[i] != pl)
    r.tally(total, lost + dup + wrong,
            [f"{lost} records lost, {dup} duplicated, {wrong} with a wrong payload"]
            if lost + dup + wrong else [])

    read_ms = fresh_reads(
        r, table, "SELECT COUNT(*) AS n, MAX(id) AS top FROM fresh",
        expect=(len(got), int(ids.max()) if len(ids) else None))

    r.layers.update({
        "sinks.upsert_ms": median(1000 * (commits[b][1] - commits[b][0]) for b in timed_batches),
        "sources.lag_records": median(lag),
        "generator.lateness_ms": max(gen.lateness_ms, default=0.0),
    })
    timed_set = set(timed_batches)
    r.layers.update(sink_figures(sink, timed_set, os.path.getsize(log)))
    if r.listener is not None:
        r.layers.update(progress_phases(
            [e for e in r.listener.events if e.get("id") == str(query.id)
             and int(e.get("batchId", -1)) in timed_set]))

    # then, in the same session, the flagship word count drains a backlog
    # through KeyedCount's state store and the sink's merge path
    with tr.span("drain"):
        d = drain(r, r.seconds)
    r.layers.update({k: v for k, v in d.items() if k.startswith("streaming.state_")})
    r.layers.update({
        "drain.rows_per_s": d["rows_per_s"],
        "drain.batch_p50_ms": median(d["intervals_ms"]),
        "drain.upsert_ms": d["upsert_ms"],
        "drain.commits": d["sinks.commits"],
        "drain.merge_commits": d["sinks.merge_commits"],
    })
    r.info.update({
        "event_latency_p50_ms": median(lat_ms),
        "event_latency_p95_ms": nearest_rank(lat_ms, 95),
        "latency_samples": len(lat_ms),
        "samples_beyond_p95": beyond(lat_ms, 95),
        "fresh_query_ms": read_ms,
        "generator_lateness_max_ms": max(gen.lateness_ms, default=0.0),
        "generator_lateness_p50_ms": median(gen.lateness_ms),
        "batches_timed": len(timed_batches),
        "drain_rows_per_s": d["rows_per_s"],
        "drain_batches_timed": len(d["intervals_ms"]),
        "window_wall_ms": (wall0 * 1000, wall1 * 1000),
    })
    return {
        "setup_s": setup_s,
        "throughput_per_s": d["rows_per_s"],
        "op_p50_ms": median(lat_ms),
        "op_p95_ms": nearest_rank(lat_ms, 95),
        "read_ms": read_ms,
    }


def committed_offsets(query) -> int:
    """End offset of the newest progress report (0 before the first)."""
    last = query.lastProgress
    return end_offset(json.loads(last.json)) if last is not None else 0
