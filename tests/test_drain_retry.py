"""The drain contract of ``streaming/runner.py``: one retry on the
Python-worker connect flake, resumed from the call's own checkpoint for
a table sink and restarted under a fresh name for a memory sink; any
other error raised after one attempt; a drain that outlives
``_DRAIN_TIMEOUT_S`` raises instead of returning a partial result."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from motorway_spark.sinks.upsert import UpsertParquetSink
from motorway_spark.streaming import runner

FLAKE = "Python worker failed to connect back (injected)"
N_SHARDS, ROWS_PER_SHARD = 3, 5


@pytest.fixture
def starts(monkeypatch):
    """Counts the queries started (one per drain attempt)."""
    calls = []
    real_start = DataStreamWriter.start

    def counting_start(self, *args, **kwargs):
        calls.append(1)
        return real_start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", counting_start)
    return calls


def _shard_stream(spark, src):
    """N_SHARDS parquet files read one per trigger: batch i is shard i."""
    os.makedirs(src)
    for i in range(N_SHARDS):
        ks = list(range(i * ROWS_PER_SHARD, (i + 1) * ROWS_PER_SHARD))
        pq.write_table(
            pa.table({"k": ks, "v": [f"v{k}" for k in ks]}),
            f"{src}/shard{i}.parquet",
        )
        # file-stream batches follow mtime order; keep it unambiguous
        os.utime(f"{src}/shard{i}.parquet", (1_000_000 + i, 1_000_000 + i))
    return (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


ALL_KEYS = list(range(N_SHARDS * ROWS_PER_SHARD))


def test_table_drain_flake_resumes_checkpoint_exactly_once(spark, tmp_path, starts):
    stream = _shard_stream(spark, str(tmp_path / "src"))
    sink = UpsertParquetSink(spark, str(tmp_path / "t"), key_cols=["k"], num_buckets=4)
    seen = []

    def process_batch(bdf, batch_id):
        seen.append(batch_id)
        sink.upsert_batch(bdf, batch_id)
        # fail AFTER batch 1 committed: the resumed attempt replays it
        # under the same id, and the sink's WAL must make that a no-op
        if batch_id == 1 and seen.count(1) == 1:
            raise RuntimeError(FLAKE)

    runner.run_foreach_batch(stream, process_batch, str(tmp_path / "ckpt"))

    assert len(starts) == 2
    assert seen == [0, 1, 1, 2]
    rows = sorted((r["k"], r["v"]) for r in sink.read().collect())
    assert rows == [(k, f"v{k}") for k in ALL_KEYS]
    committed = [h["batch_id"] for h in sink.history() if h["batch_id"] is not None]
    assert sorted(committed) == [0, 1, 2]


def test_memory_drain_flake_restarts_under_fresh_name(spark, tmp_path, starts):
    stream = _shard_stream(spark, str(tmp_path / "src"))
    marker = str(tmp_path / "failed_once")

    def fail_once_in_shard1(k):
        # runs in a Python worker: the first attempt to reach shard 1
        # fails, every later evaluation passes
        if k >= ROWS_PER_SHARD:
            try:
                os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
            except FileExistsError:
                return k
            raise RuntimeError(FLAKE)
        return k

    checked = stream.select(
        F.udf(fail_once_in_shard1, "bigint")("k").alias("k"), "v"
    )
    table = runner.run_stream_to_memory(checked, output_mode="append")

    assert len(starts) == 2
    rows = sorted((r["k"], r["v"]) for r in table.collect())
    assert rows == [(k, f"v{k}") for k in ALL_KEYS]


def test_non_flake_error_raises_after_one_attempt(spark, tmp_path, starts):
    stream = _shard_stream(spark, str(tmp_path / "src"))

    def process_batch(bdf, batch_id):
        raise ValueError("not a worker flake")

    with pytest.raises(Exception, match="not a worker flake"):
        runner.run_foreach_batch(stream, process_batch, str(tmp_path / "ckpt"))
    assert len(starts) == 1


def test_drain_past_timeout_raises(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(runner, "_DRAIN_TIMEOUT_S", 1)
    stream = _shard_stream(spark, str(tmp_path / "src"))

    def slow_batch(bdf, batch_id):
        time.sleep(3)

    with pytest.raises(TimeoutError):
        runner.run_foreach_batch(stream, slow_batch, str(tmp_path / "ckpt"))
    assert not spark.streams.active
