"""Stateful streaming: per-key arbitrary state (the reference's T4
WordCountIntersection per-key dicts, examples/intersections.py:19-31),
checkpoint recovery, and the metrics listener."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from motorway_spark.sources import register_sources
from motorway_spark.streaming.metrics import MetricsListener


def test_stateful_running_count(spark):
    """applyInPandasWithState: per-key running totals across
    micro-batches — checkpointed state store instead of the reference's
    process-local defaultdict."""
    import uuid

    from pyspark.errors.exceptions.captured import StreamingQueryException

    register_sources(spark)

    def update_count(key, pdf_iter, state: GroupState):
        count = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"word": [key[0]], "count": [count]})

    def run_once() -> dict:
        name = f"sc_{uuid.uuid4().hex[:8]}"
        stream = (
            spark.readStream.format("sentences")
            .option("count", 10)
            .option("batchSize", 2)  # forces 5 micro-batches -> state reuse
            .load()
        )
        words = stream.select(F.explode(F.split("sentence", " ")).alias("word"))
        counted = words.groupBy("word").applyInPandasWithState(
            update_count,
            outputStructType="word string, count long",
            stateStructType="count long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        query = (
            counted.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .start()
        )
        query.processAllAvailable()
        query.stop()
        # update mode emits one row per key per batch; final value = max
        pdf = spark.table(name).toPandas()
        return pdf.groupby("word")["count"].max().to_dict()

    try:
        final = run_once()
    except StreamingQueryException as exc:
        # Known env flake under full-suite load: python worker spawn can
        # time out while the query is still INITIALIZING ("Python worker
        # failed to connect back"). Retry once; anything else is real.
        if "failed to connect back" not in str(exc):
            raise
        final = run_once()

    from collections import Counter
    from motorway_spark.sources import SENTENCES

    assert final == dict(Counter(w for s in SENTENCES for w in s.split(" ")))


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Exactly-once across restart: a file-backed stream with a
    checkpoint, stopped and restarted mid-stream, must not double-count
    (replaces the reference's XOR-ack at-least-once + retry,
    controller.py:98-129, with something strictly stronger)."""
    src = tmp_path / "in"
    src.mkdir()
    chk = str(tmp_path / "chk")
    out_name = "restart_counts"

    def write_file(i: int) -> None:
        spark.createDataFrame([(f"k{j % 3}",) for j in range(10)], "key string") \
            .coalesce(1).write.mode("append").parquet(str(src))

    write_file(0)

    def start_query():
        stream = spark.readStream.schema("key string").parquet(str(src))
        agg = stream.groupBy("key").count()
        return (
            agg.writeStream.format("memory")
            .queryName(out_name)
            .outputMode("complete")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )

    q = start_query()
    assert q.awaitTermination(120)
    write_file(1)
    q2 = start_query()  # restart from checkpoint; only new file processed
    assert q2.awaitTermination(120)
    counts = {r["key"]: r["count"] for r in spark.table(out_name).collect()}
    assert sum(counts.values()) == 20  # 2 files x 10 rows, no double-count


def test_metrics_listener(spark):
    import uuid

    from motorway_spark.streaming.runner import start_and_drain

    register_sources(spark)
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        def start():
            stream = spark.readStream.format("sentences").option("count", 6).load()
            return (
                stream.writeStream.format("memory")
                .queryName(f"mp_{uuid.uuid4().hex[:8]}")
                .outputMode("append")
                .start()
            )

        query = start_and_drain(start)
        name = query.name
        query.stop()
        import time

        time.sleep(2)  # listener events are async
        status = listener.status()
        assert name in status
        assert status[name]["rows"] == 6
        assert listener.progress_df(spark).count() >= 1
    finally:
        spark.streams.removeListener(listener)


def test_percentile_from_dict():
    """Reference utils.py:13-34 percentile semantics over a frequency
    dict (nearest-rank on the expanded multiset)."""
    from motorway_spark.streaming.metrics import percentile_from_dict

    freq = {10: 1, 20: 1, 30: 1, 40: 1}
    assert percentile_from_dict(freq, 50) == 20
    assert percentile_from_dict(freq, 100) == 40
    assert percentile_from_dict({5: 100}, 95) == 5
    # 99 observations of 1ms and one 1000ms outlier: p95 unaffected
    assert percentile_from_dict({1: 99, 1000: 1}, 95) == 1
    assert percentile_from_dict({}, 95) == 0.0


def test_metrics_controller_stats_parity(spark):
    """status() carries the reference's process-statistics shape
    (controller.py:43-60): avg + 95th percentile + minute histogram;
    api_status() serves the /api/status/ payload (webserver.py:66-73)."""
    import uuid

    from motorway_spark.streaming.runner import start_and_drain

    register_sources(spark)
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        def start():
            stream = (
                spark.readStream.format("sentences")
                .option("count", 9)
                .option("batchSize", 3)
                .load()
            )
            return (
                stream.writeStream.format("memory")
                .queryName(f"ms_{uuid.uuid4().hex[:8]}")
                .outputMode("append")
                .start()
            )

        query = start_and_drain(start)
        name = query.name
        query.stop()
        import time

        time.sleep(2)  # listener events are async
        stats = listener.status()[name]
        assert stats["status"] == "running"
        assert stats["processed"] == 9
        assert stats["failed"] == 0
        assert stats["batches"] >= 3
        assert stats["avg_time_taken_ms"] > 0
        # nearest-rank percentile returns a real observation
        assert stats["95_percentile_ms"] in stats["frequency"]
        assert stats["total_frequency"] == stats["batches"]
        assert set(stats["histogram"].keys()) == set(range(60))
        assert sum(m["success_count"] for m in stats["histogram"].values()) == stats["batches"]
        assert sum(m["processed_count"] for m in stats["histogram"].values()) == 9

        payload = listener.api_status()
        assert set(payload.keys()) == {"groups", "last_minutes"}
        # groups key = name prefix (webserver.py:122); the query's stats
        # sit under the group's processes map with group-level rollups
        group = payload["groups"]["ms"]
        assert name in group["processes"]
        assert group["waiting"] == 0
        assert group["frequency"] >= 1
        assert len(payload["last_minutes"][name]) == 5
    finally:
        spark.streams.removeListener(listener)


def test_status_server_serves_api_status(spark):
    """GET /api/status/ parity with the reference webserver
    (webserver.py:66-73): JSON payload with groups + last_minutes."""
    import json as _json
    import urllib.request

    from motorway_spark.streaming.metrics import StatusServer

    listener = MetricsListener()
    # seed one synthetic progress event (no real query needed)
    class _P:
        json = _json.dumps(
            {"name": "q1", "batchId": 0, "numInputRows": 7,
             "durationMs": {"triggerExecution": 12}}
        )

    class _E:
        progress = _P()

    listener.onQueryProgress(_E())
    server = StatusServer(listener).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/api/status/", timeout=10
        ) as resp:
            assert resp.status == 200
            payload = _json.loads(resp.read())
        q1 = payload["groups"]["q1"]["processes"]["q1"]
        assert q1["processed"] == 7
        assert q1["95_percentile_ms"] == 12
        assert q1["state"] == "available"  # no backlog reported
        assert "last_minutes" in payload

        # per-process detail view (webserver.py:53-64)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/api/detail/q1/", timeout=10
        ) as resp:
            detail = _json.loads(resp.read())
        assert detail["process_stats"]["processed"] == 7
        assert detail["messages_being_processed"][-1]["num_input_rows"] == 7
        assert detail["failed_messages"] == []

        # non-API paths and unknown processes 404
        import urllib.error

        for bad in ("/nope", "/api/detail/ghost/"):
            try:
                urllib.request.urlopen(
                    f"http://127.0.0.1:{server.port}{bad}", timeout=10
                )
                raise AssertionError("expected 404")
            except urllib.error.HTTPError as err:
                assert err.code == 404

        # GET / serves the HTML dashboard (templates/index.html twin)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/", timeout=10
        ) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/html")
            page = resp.read().decode()
        assert "Pipeline Stats" in page  # reference page title
        assert "/api/status/" in page  # polls the JSON API
        assert "/api/detail/" in page  # drill-down wired
    finally:
        server.stop()


def test_metrics_listener_keeps_trigger_phases_and_state_store():
    """Every ``durationMs`` phase and the summed ``stateOperators``
    totals land in each progress row; status() and the /api/status/
    payload carry their per-query medians."""
    import json as _json

    def progress_event(batch, phases, ops):
        class _P:
            json = _json.dumps(
                {
                    "name": "agg-1",
                    "batchId": batch,
                    "numInputRows": 10,
                    "durationMs": phases,
                    "stateOperators": ops,
                }
            )

        class _E:
            progress = _P()

        return _E()

    def op(rows, mem, commit):
        return {
            "operatorName": "stateStoreSave",
            "numRowsTotal": rows,
            "memoryUsedBytes": mem,
            "commitTimeMs": commit,
            "numRowsUpdated": 1,
        }

    listener = MetricsListener()
    listener.onQueryProgress(progress_event(
        0,
        {"latestOffset": 2, "getBatch": 1, "queryPlanning": 30,
         "addBatch": 100, "walCommit": 8, "commitOffsets": 6,
         "triggerExecution": 150},
        [op(10, 1000, 4), op(5, 500, 2)],
    ))
    listener.onQueryProgress(progress_event(
        1,
        {"latestOffset": 4, "getBatch": 3, "queryPlanning": 10,
         "addBatch": 60, "walCommit": 6, "commitOffsets": 4,
         "triggerExecution": 90},
        [op(20, 3000, 8), op(5, 500, 2)],
    ))
    # an idle trigger of a stateless query: no phases beyond these two
    listener.onQueryProgress(
        progress_event(2, {"latestOffset": 9, "triggerExecution": 9}, [])
    )

    first = listener.progress[0]
    assert first["batch_duration_ms"] == 150
    assert first["phases_ms"]["addBatch"] == 100
    assert first["phases_ms"]["walCommit"] == 8
    assert first["state_store"] == {
        "numRowsTotal": 15, "memoryUsedBytes": 1500, "commitTimeMs": 6,
    }
    assert listener.progress[2]["state_store"] == {}

    stats = listener.status()["agg-1"]
    assert stats["median_phases_ms"] == {
        "latestOffset": 4, "getBatch": 2, "queryPlanning": 20,
        "addBatch": 80, "walCommit": 7, "commitOffsets": 5,
        "triggerExecution": 90,
    }
    assert stats["median_state_store"] == {
        "numRowsTotal": 20, "memoryUsedBytes": 2500, "commitTimeMs": 8,
    }
    served = listener.api_status()["groups"]["agg"]["processes"]["agg-1"]
    assert served["median_phases_ms"] == stats["median_phases_ms"]
    assert served["median_state_store"] == stats["median_state_store"]


def test_busy_and_overloaded_states():
    """webserver.py:113-120 state machine: waiting>0 → busy; waiting
    beyond the trailing-3-minute processed throughput → overloaded."""
    import json as _json

    def progress_event(waiting, rows):
        class _P:
            json = _json.dumps(
                {
                    "name": "etl-1",
                    "batchId": 0,
                    "numInputRows": rows,
                    "durationMs": {"triggerExecution": 5},
                    "sources": [
                        {"metrics": {"maxOffsetsBehindLatest": str(waiting)}}
                    ],
                }
            )

        class _E:
            progress = _P()

        return _E()

    listener = MetricsListener()
    listener.onQueryProgress(progress_event(waiting=0, rows=100))
    assert listener.status()["etl-1"]["state"] == "available"
    # backlog present but smaller than recent throughput → busy
    listener.onQueryProgress(progress_event(waiting=50, rows=100))
    assert listener.status()["etl-1"]["state"] == "busy"
    # backlog exceeds everything processed recently → overloaded
    listener.onQueryProgress(progress_event(waiting=10_000, rows=10))
    assert listener.status()["etl-1"]["state"] == "overloaded"
    # grouping key: name up to the first dash (webserver.py:122)
    assert "etl" in listener.grouped_status()
    assert listener.grouped_status()["etl"]["waiting"] == 10_000


def test_observe_metrics(spark):
    """df.observe(): in-plan metric accumulation (SURVEY Phase 4) — the
    zero-extra-pass form of the controller's processed counters; on a
    stream these surface per-batch in progress.observedMetrics."""
    from pyspark.sql import Observation

    obs = Observation("corpus_stats")
    df = spark.range(100).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("id_sum"),
    )
    assert df.count() == 100
    assert obs.get == {"n_rows": 100, "id_sum": 4950}


def test_stream_dedup_minhash_cross_batch_registry(spark, tmp_path):
    """The (band, bucket) registry must carry across micro-batches: a
    near-identical doc arriving in a LATER batch is flagged against the
    earlier batch's occupant. Two parquet files + maxFilesPerTrigger=1
    forces two real batches through the foreachBatch MERGE path."""
    import shutil

    from pyspark.sql import functions as F

    from motorway_spark.queries import streaming_queries as sq
    from motorway_spark.queries.dedup import (
        _char_shingles,
        minhash_bands,
        minhash_signatures,
    )
    from motorway_spark.sinks.upsert import UpsertParquetSink

    base = "the quick brown fox jumps over the lazy dog " * 8
    batch1 = [(0, base), (1, "completely unrelated text about spark engines " * 6)]
    batch2 = [(2, base + "tail"), (3, "another fully distinct document body " * 6)]
    src = tmp_path / "docs_stream"
    src.mkdir()
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(tmp_path / f"b{i}"))
        part = next((tmp_path / f"b{i}").glob("part-*.parquet"))
        shutil.copy(part, src / f"{i:02d}.parquet")

    # doc 2 must share >=1 band with doc 0 for the test to be meaningful
    docs = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    b = minhash_bands(minhash_signatures(docs))
    shared = (
        b.alias("a")
        .join(b.alias("x"), ["band", "bucket"])
        .filter("a.doc_id = 0 AND x.doc_id = 2")
        .count()
    )
    assert shared >= 1, "fixture docs no longer collide; adjust texts"

    root = tmp_path / "mh"
    root.mkdir()
    flags_sink = UpsertParquetSink(spark, str(root / "flags"), key_cols=["doc_id"])
    reg_sink = UpsertParquetSink(
        spark, str(root / "registry"), key_cols=["band", "bkt"]
    )
    schema = "doc_id long, text string"
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src))
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(lambda bdf, b_id: sq._minhash_process_batch(
            bdf, b_id, flags_sink, reg_sink))
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()

    out = {r["doc_id"]: r for r in flags_sink.read().collect()}
    assert len(out) == 4
    assert not out[0]["is_near_dup"]          # first occupant
    assert out[2]["is_near_dup"]              # later batch, same buckets
    assert not out[1]["is_near_dup"] and not out[3]["is_near_dup"]
    # registry kept the MIN doc_id per bucket (negated storage)
    reg = reg_sink.read()
    assert reg.filter(F.col("neg_min_doc_id") > 0).count() == 0


def test_stream_corpus_ingest_cross_batch_registry(spark, tmp_path):
    """The md5 fingerprint registry must carry across micro-batches
    (a copy arriving LATER is is_exact_dup), and a REJECTED doc must
    never claim a fingerprint (a later clean copy counts as first).
    Two parquet files + maxFilesPerTrigger=1 force two real batches."""
    import shutil

    from pyspark.sql import functions as F

    from motorway_spark.queries import streaming_queries as sq
    from motorway_spark.sinks.upsert import UpsertParquetSink

    good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "too short"  # fails the n_tokens >= 10 gate
    batch1 = [(0, good), (1, short)]
    # 2: exact copy of doc 0 (must flag); 3: clean copy of the REJECTED
    # short text, padded to pass the gate -> must NOT be a dup of 1
    batch2 = [(2, good), (3, short + " one two three four five six seven ei")]
    src = tmp_path / "ingest_stream"
    src.mkdir()
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(tmp_path / f"ib{i}"))
        part = next((tmp_path / f"ib{i}").glob("part-*.parquet"))
        shutil.copy(part, src / f"{i:02d}.parquet")

    root = tmp_path / "ingest"
    root.mkdir()
    flags_sink = UpsertParquetSink(spark, str(root / "flags"), key_cols=["doc_id"])
    reg_sink = UpsertParquetSink(spark, str(root / "registry"), key_cols=["fp"])
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src))
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(
            lambda bdf, b_id: sq._ingest_process_batch(bdf, b_id, flags_sink, reg_sink)
        )
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()

    out = {r["doc_id"]: r for r in flags_sink.read().collect()}
    assert len(out) == 4
    assert out[0]["kept"] and not out[0]["is_exact_dup"]       # first copy
    assert not out[1]["passed_quality"] and not out[1]["kept"]  # gate reject
    assert out[2]["is_exact_dup"] and not out[2]["kept"]        # later-batch copy
    assert out[3]["kept"] and not out[3]["is_exact_dup"]        # reject never claimed fp
    # registry holds passing fingerprints only (negated min ids)
    reg = reg_sink.read()
    assert reg.count() == 2
    assert reg.filter(F.col("neg_min_doc_id") > 0).count() == 0


def test_registry_min_is_exact_across_batches_not_batch_side_wins(spark, tmp_path):
    """UpsertParquetSink's cross-batch merge is batch-side-WINS, so the
    foreachBatch bodies must fold the prior registry min in explicitly.
    Regression: after batches {5} then {10} (same fingerprint), the
    registry must still say min=5 — the naive upsert moved it to 10,
    and an out-of-order doc 7 then slipped through unflagged."""
    from motorway_spark.queries import streaming_queries as sq
    from motorway_spark.sinks.upsert import UpsertParquetSink

    good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    # -- exact-fingerprint ingest registry -------------------------------
    root = tmp_path / "ooo_ingest"
    root.mkdir()
    flags = UpsertParquetSink(spark, str(root / "flags"), key_cols=["doc_id"])
    reg = UpsertParquetSink(spark, str(root / "registry"), key_cols=["fp"])
    mk = lambda i: spark.createDataFrame([(i, good)], "doc_id long, text string")
    sq._ingest_process_batch(mk(5), 0, flags, reg)
    sq._ingest_process_batch(mk(10), 1, flags, reg)
    [(neg,)] = reg.read().select("neg_min_doc_id").collect()
    assert neg == -5, f"registry min moved up: {-neg}"
    sq._ingest_process_batch(mk(7), 2, flags, reg)  # out-of-order arrival
    out = {r["doc_id"]: r for r in flags.read().collect()}
    assert out[10]["is_exact_dup"] and out[7]["is_exact_dup"]
    assert not out[5]["is_exact_dup"]

    # -- minhash (band, bucket) registry ---------------------------------
    base = "the quick brown fox jumps over the lazy dog " * 8
    root2 = tmp_path / "ooo_mh"
    root2.mkdir()
    flags2 = UpsertParquetSink(spark, str(root2 / "flags"), key_cols=["doc_id"])
    reg2 = UpsertParquetSink(
        spark, str(root2 / "registry"), key_cols=["band", "bkt"]
    )
    mk2 = lambda i: spark.createDataFrame([(i, base)], "doc_id long, text string")
    sq._minhash_process_batch(mk2(5), 0, flags2, reg2)
    sq._minhash_process_batch(mk2(10), 1, flags2, reg2)
    # identical text -> every registry row is this doc family's buckets
    assert reg2.read().filter("neg_min_doc_id != -5").count() == 0
    sq._minhash_process_batch(mk2(7), 2, flags2, reg2)
    out2 = {r["doc_id"]: r for r in flags2.read().collect()}
    assert out2[10]["is_near_dup"] and out2[7]["is_near_dup"]
    assert not out2[5]["is_near_dup"]


def test_kmv_sketch_recovers_from_old_dir_after_crash(spark, tmp_path):
    """stream_distinct_kmv's swap is two renames (sketch -> .old-N,
    then .tmp-N -> sketch); a crash between them leaves no sketch dir.
    The reader must restore the NEWEST .old-* instead of restarting
    from an empty sketch (which would undercount)."""
    import os

    from motorway_spark.queries import streaming_queries as sq

    sketch = str(tmp_path / "sketch")
    spark.createDataFrame([(1,), (2,)], "u bigint").write.parquet(sketch)

    # intact dir: recovery is a no-op
    sq._recover_kmv_sketch(sketch)
    assert spark.read.parquet(sketch).count() == 2

    # crash window: sketch renamed away, a stale older .old and an
    # uncommitted .tmp also linger
    spark.createDataFrame([(9,)], "u bigint").write.parquet(f"{sketch}.old-3")
    spark.createDataFrame([(1,), (2,), (3,)], "u bigint").write.parquet(
        f"{sketch}.tmp-7"
    )
    os.rename(sketch, f"{sketch}.old-7")
    assert not os.path.isdir(sketch)

    sq._recover_kmv_sketch(sketch)
    # the newest .old (batch 7's prior state) is restored, not old-3
    assert sorted(r["u"] for r in spark.read.parquet(sketch).collect()) == [1, 2]
