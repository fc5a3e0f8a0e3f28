"""Observability: streaming metrics listener (controller-stats parity).

The reference's ControllerIntersection aggregates per-process stats —
success/failed/processed counts, waiting depth, avg and 95th-percentile
latency, per-minute histograms (/root/reference/motorway/controller.py:
43-60, 156-199) — and a Flask webserver serves them
(motorway/webserver.py:66-73). On Spark the equivalent signal arrives
for free via StreamingQueryListener progress events; this module folds
them into the same shape, queryable as a DataFrame (the /api/status/
stand-in).
"""

from __future__ import annotations

import datetime
import json
import statistics
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener


def percentile_from_dict(freq: dict[float, int], p: float) -> float:
    """P-th percentile from an {observation: frequency} dict (nearest-
    rank over the expanded multiset) — the reference computes its 95th
    percentile from exactly this frequency-dict shape
    (motorway/utils.py:13-34, controller.py:52-53) so batch-duration
    stats never require storing one entry per observation."""
    assert 0 < p <= 100, "Percentile must be in range (0, 100)"
    total = sum(freq.values())
    if total == 0:
        return 0.0
    rank = total * (float(p) / 100)
    cumulative = 0
    for obs in sorted(freq):
        cumulative += freq[obs]
        if cumulative >= rank:
            return obs
    return max(freq)  # pragma: no cover — float-edge fallback


# stateOperators figures summed over a progress event's operators
STATE_TOTALS = ("numRowsTotal", "memoryUsedBytes", "commitTimeMs")


def _medians(samples: dict[str, list[int]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in samples.items()}


def _empty_minute() -> dict:
    # reference histogram bucket shape (controller.py:56-59)
    return {"error_count": 0, "success_count": 0, "timeout_count": 0, "processed_count": 0}


class MetricsListener(StreamingQueryListener):
    """Collects per-query progress into controller-style counters.

    Stat parity with ControllerIntersection.get_default_process_dict
    (controller.py:43-60): success/failed/processed counts, average and
    95th-percentile batch duration (from a duration-frequency dict, not
    a raw list), and a 60-slot per-minute histogram; ``api_status``
    serves the ``/api/status/`` payload shape (webserver.py:66-73).
    Beyond the reference, each progress row keeps every trigger phase
    Spark reports (``durationMs``: latestOffset, getBatch,
    queryPlanning, addBatch, walCommit, commitOffsets, ...) and the
    state-store totals (``STATE_TOTALS`` summed over the query's
    ``stateOperators``); ``status`` reports their per-query medians.
    """

    def __init__(self):
        self.progress: list[dict] = []
        self.failed_messages: list[tuple[str, str, str]] = []  # (ts, query, error)
        self.totals: dict[str, dict] = defaultdict(
            lambda: {
                "status": "running",
                "batches": 0,
                "rows": 0,
                "errors": 0,
                "waiting": 0,
                "duration_ms_total": 0,
                "frequency": defaultdict(int),  # duration_ms -> count
                "histogram": {m: _empty_minute() for m in range(60)},
            }
        )

    # StreamingQueryListener contract ----------------------------------
    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        name = p.get("name") or p.get("id")
        rows = int(p.get("numInputRows") or 0)
        phases = {k: int(v) for k, v in (p.get("durationMs") or {}).items()}
        duration_ms = phases.get("triggerExecution", 0)
        ops = p.get("stateOperators") or []
        # a stateless query reports no operators, hence no state figures
        store = {k: int(sum(op.get(k) or 0 for op in ops)) for k in STATE_TOTALS}
        self.progress.append(
            {
                "query": name,
                "batch_id": int(p.get("batchId", -1)),
                "num_input_rows": rows,
                "rows_per_sec": float(p.get("processedRowsPerSecond") or 0.0),
                "batch_duration_ms": duration_ms,
                "timestamp": p.get("timestamp"),
                "phases_ms": phases,
                "state_store": store if ops else {},
            }
        )
        totals = self.totals[name]
        totals["batches"] += 1
        totals["rows"] += rows
        totals["duration_ms_total"] += duration_ms
        totals["frequency"][duration_ms] += 1
        # "waiting" = source backlog, the reference's queue depth
        # (controller.py:48: messages routed but not yet processed).
        # Spark surfaces it as offsets-behind-latest in source metrics
        # (the kafka source's maxOffsetsBehindLatest); absent → 0.
        totals["waiting"] = int(
            sum(
                float((src.get("metrics") or {}).get("maxOffsetsBehindLatest") or 0)
                for src in (p.get("sources") or [])
            )
        )
        minute = datetime.datetime.now().minute
        totals["histogram"][minute]["success_count"] += 1
        totals["histogram"][minute]["processed_count"] += rows

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if event.exception is not None:
            totals = self.totals[str(event.id)]
            totals["errors"] += 1
            totals["status"] = "failed"
            totals["histogram"][datetime.datetime.now().minute]["error_count"] += 1
            # keep the recent-failures ring the detail view serves
            # (webserver.py:61-62 shows the last 20 per process)
            self.failed_messages.append(
                (
                    datetime.datetime.now().isoformat(),
                    str(event.id),
                    str(event.exception),
                )
            )
            del self.failed_messages[:-200]

    # controller-style views -------------------------------------------
    def status(self) -> dict[str, dict]:
        """Per-query stats in the reference's process-statistics shape
        (controller.py:43-60): counters + avg + p95 + histogram, plus the
        webserver's derived ``state`` (webserver.py:113-120): available →
        busy when there is backlog, overloaded when the backlog exceeds
        what the process got through in the trailing 3 minutes — and
        the per-batch medians of every trigger phase
        (``median_phases_ms``) and state-store total
        (``median_state_store``), each over the batches that reported it."""
        out = {}
        now_minute = datetime.datetime.now().minute
        phase_samples = defaultdict(lambda: defaultdict(list))
        store_samples = defaultdict(lambda: defaultdict(list))
        for row in self.progress:
            for k, v in row["phases_ms"].items():
                phase_samples[row["query"]][k].append(v)
            for k, v in row["state_store"].items():
                store_samples[row["query"]][k].append(v)
        for name, t in self.totals.items():
            batches = t["batches"]
            state = "available"
            if t["waiting"] > 0:
                state = "busy"
                recent = sum(
                    t["histogram"][(now_minute - i) % 60]["processed_count"]
                    for i in range(3)
                )
                if t["waiting"] > recent:
                    state = "overloaded"
            out[name] = {
                "status": t["status"],
                "state": state,
                "waiting": t["waiting"],
                "success": batches - t["errors"],
                "failed": t["errors"],
                "processed": t["rows"],
                "batches": batches,
                "rows": t["rows"],
                "errors": t["errors"],
                "avg_time_taken_ms": (t["duration_ms_total"] / batches) if batches else 0.0,
                "95_percentile_ms": percentile_from_dict(dict(t["frequency"]), 95),
                "frequency": dict(t["frequency"]),
                "total_frequency": sum(t["frequency"].values()),
                "histogram": {m: dict(b) for m, b in t["histogram"].items()},
                "median_phases_ms": _medians(phase_samples[name]),
                "median_state_store": _medians(store_samples[name]),
            }
        return out

    @staticmethod
    def _group_of(name: str) -> str:
        """Reference grouping key: process name up to the first dash
        (webserver.py:122 ``process_id_to_name[pid].split('-')[0]``);
        underscore also accepted since query names here use it."""
        return name.split("-")[0].split("_")[0]

    def grouped_status(self) -> dict[str, dict]:
        """Queries grouped by name prefix with the reference's group
        rollups (webserver.py:122-147): per-group waiting sum, summed
        60-slot histogram, total frequency (min 1 — the reference's
        division guard), and avg time per message per process."""
        status = self.status()
        groups: dict[str, dict] = {}
        for name, stats in status.items():
            groups.setdefault(self._group_of(name), {"processes": {}})[
                "processes"
            ][name] = stats
        for group in groups.values():
            procs = group["processes"].values()
            group["waiting"] = sum(p["waiting"] for p in procs)
            group["histogram"] = {m: _empty_minute() for m in range(60)}
            time_taken_ms = 0.0
            for p in procs:
                time_taken_ms += p["avg_time_taken_ms"] * p["batches"]
                for m, bucket in p["histogram"].items():
                    for key, val in bucket.items():
                        group["histogram"][m][key] += val
            group["frequency"] = sum(p["total_frequency"] for p in procs) or 1
            group["avg_time_taken_ms"] = (
                time_taken_ms / group["frequency"] / len(procs) if procs else 0.0
            )
        return groups

    def api_status(self) -> dict:
        """The ``/api/status/`` payload (webserver.py:66-73): grouped
        process statistics + the trailing-minutes histogram slice."""
        status = self.status()
        now_minute = datetime.datetime.now().minute
        last_minutes = {
            name: {
                m: stats["histogram"][m]
                for m in ((now_minute - i) % 60 for i in range(5))
            }
            for name, stats in status.items()
        }
        return {"groups": self.grouped_status(), "last_minutes": last_minutes}

    def api_detail(self, process: str) -> dict | None:
        """The per-process detail view (webserver.py:53-64): the
        process's stats, its most recent progress events (the stand-in
        for messages-being-processed — Spark has no per-record inflight
        registry, the live batch IS the in-flight unit), and its last
        ≤20 failures, newest first."""
        status = self.status()
        if process not in status:
            return None
        return {
            "process": process,
            "process_stats": status[process],
            "messages_being_processed": [
                p for p in self.progress if p["query"] == process
            ][-5:],
            "failed_messages": [
                {"timestamp": ts, "process": q, "error": err}
                for ts, q, err in reversed(
                    [f for f in self.failed_messages if f[1] == process][-20:]
                )
            ],
        }

    def progress_df(self, spark: SparkSession) -> DataFrame:
        schema = (
            "query string, batch_id long, num_input_rows long,"
            " rows_per_sec double, batch_duration_ms long, timestamp string,"
            " phases_ms map<string, long>, state_store map<string, long>"
        )
        return spark.createDataFrame(self.progress or [], schema=schema)


class StatusServer:
    """HTTP view over a MetricsListener — the reference's Flask
    webserver (motorway/webserver.py:18-80): ``GET /api/status/``
    returns the grouped stats + trailing-minute histograms as JSON,
    ``GET /`` serves the HTML dashboard rendering them (the twin of
    templates/index.html + app.jsx, dependency-free — see
    streaming/dashboard.py). Runs a stdlib ThreadingHTTPServer on a
    background thread (Flask isn't in this environment, and a
    dependency-free server is the right weight for a driver-side
    debug endpoint — at scale the real observability path is the
    Spark UI / StreamingQueryListener metrics sink anyway)."""

    def __init__(self, listener: MetricsListener, host: str = "127.0.0.1", port: int = 0):
        import http.server
        import threading

        metrics = listener

        class _Handler(http.server.BaseHTTPRequestHandler):
            def _json(self, payload) -> None:
                body = json.dumps(payload).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Access-Control-Allow-Origin", "*")
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802 (stdlib contract)
                path = self.path.rstrip("/")
                if path == "":  # GET / — the HTML dashboard
                    from motorway_spark.streaming.dashboard import DASHBOARD_HTML

                    body = DASHBOARD_HTML.encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html; charset=utf-8")
                    self.end_headers()
                    self.wfile.write(body)
                    return
                if path == "/api/status":
                    self._json(metrics.api_status())
                    return
                # /api/detail/<process>/ — per-process drill-down
                # (webserver.py:53-64 detail view, JSON-only here)
                if path.startswith("/api/detail/"):
                    detail = metrics.api_detail(path.removeprefix("/api/detail/"))
                    if detail is not None:
                        self._json(detail)
                        return
                self.send_response(404)
                self.end_headers()

            def log_message(self, *args):  # silence per-request stderr
                pass

        self._server = http.server.ThreadingHTTPServer((host, port), _Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="motorway-status", daemon=True
        )

    def start(self) -> "StatusServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
