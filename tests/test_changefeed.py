"""Changefeed (CDC) over UpsertParquetSink manifest tables: the batch
``read_changes`` and the streaming ``read_stream`` surfaces. Contract
(Delta CDF-shaped): every committed row change in ``(since_seq,
to_seq]`` appears exactly once as insert / delete / update_preimage /
update_postimage + ``_commit_seq``; carried-over rows of rewritten
buckets and row-preserving maintenance (compact/rebucket) emit
NOTHING; reach is bounded by the log + vacuum retention windows with
clear errors past them; a streaming query resumes from its checkpoint
at the exact commit boundary (exactly-once)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from motorway_spark.sinks import UpsertParquetSink

CDC = ["_change_type", "_commit_seq"]


def _mk(spark, tmp_path, name="cftab", buckets=4):
    sink = UpsertParquetSink(
        spark, str(tmp_path / name), key_cols=["k"], num_buckets=buckets
    )
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=i, v=f"v{i}") for i in range(6)], "k bigint, v string"
        ),
        batch_id=0,
    )
    return sink


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_changes_classifies_and_skips_carried_rows(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    # k=2 update, k=10 insert, k=3 carried over UNCHANGED through the
    # bucket rewrite (must emit nothing)
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=2, v="V2"), Row(k=10, v="v10"), Row(k=3, v="v3")],
            "k bigint, v string",
        ),
        batch_id=1,
    )
    sink.delete_keys(spark.createDataFrame([(1,), (10,)], "k bigint"))
    got = _rows(sink.read_changes())
    assert got == sorted(
        [(i, f"v{i}", "insert", 1) for i in range(6)]
        + [
            (2, "v2", "update_preimage", 2),
            (2, "V2", "update_postimage", 2),
            (10, "v10", "insert", 2),
            (1, "v1", "delete", 3),
            (10, "v10", "delete", 3),
        ]
    )
    assert sink.read_changes().columns == ["k", "v"] + CDC


def test_since_seq_is_exclusive_and_windows_compose(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.upsert_batch(
        spark.createDataFrame([Row(k=2, v="V2")], "k bigint, v string"),
        batch_id=1,
    )
    full = _rows(sink.read_changes())
    first = _rows(sink.read_changes(since_seq=-1, to_seq=1))
    rest = _rows(sink.read_changes(since_seq=1))
    assert sorted(first + rest) == full
    assert {r[-1] for r in first} == {1}
    assert {r[-1] for r in rest} == {2}
    # empty window: schema-correct empty frame, no error
    empty = sink.read_changes(since_seq=sink._head_seq)
    assert empty.count() == 0
    assert empty.columns == ["k", "v"] + CDC


def test_maintenance_ops_emit_no_change_rows(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    head = sink._head_seq
    # append-path batches fragment buckets; compact rewrites files
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=100 + i, v="x") for i in range(4)], "k bigint, v string"
        ),
        batch_id=1,
    )
    sink.compact(max_files_per_bucket=1)
    sink.rebucket(8)
    items, _ = sink.changes_plan(head)
    assert [it["op"] for it in items] == ["append"]  # compact/rebucket absent
    got = _rows(sink.read_changes(since_seq=head))
    assert got == [(100 + i, "x", "insert", head + 1) for i in range(4)]


def test_append_plan_is_insert_only_no_old_files(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    items, _ = sink.changes_plan()
    assert [it["op"] for it in items] == ["append"]
    for old_p, new_p in items[0]["buckets"].values():
        assert old_p == [] and new_p  # pure-insert scan, no diff input


def test_changes_across_schema_evolution(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=2, v="V2", extra=9)], "k bigint, v string, extra bigint"
        ),
        batch_id=1,
    )
    df = sink.read_changes()
    assert df.columns == ["k", "v", "extra"] + CDC  # range-end schema
    got = {(r["k"], r["_change_type"], r["_commit_seq"]): r for r in df.collect()}
    # pre-evolution inserts read the evolved column as NULL
    assert got[(2, "insert", 1)]["extra"] is None
    assert got[(2, "update_preimage", 2)]["extra"] is None
    assert got[(2, "update_postimage", 2)]["extra"] == 9


def test_delete_where_emits_deletes(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    head = sink._head_seq
    assert sink.delete_where(F.col("k") >= 4) == 2
    got = _rows(sink.read_changes(since_seq=head))
    assert got == [
        (4, "v4", "delete", head + 1),
        (5, "v5", "delete", head + 1),
    ]


def test_out_of_log_retention_raises(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.upsert_batch(
        spark.createDataFrame([Row(k=2, v="V2")], "k bigint, v string"),
        batch_id=1,
    )
    sink._write_checkpoint()  # folds state at the current head (2)
    sink.upsert_batch(
        spark.createDataFrame([Row(k=3, v="V3")], "k bigint, v string"),
        batch_id=2,
    )
    # simulate the oldest delta aging out of retention
    deltas = dict(sink._list_mlog()[1])
    os.remove(deltas[1])
    with pytest.raises(ValueError, match="log retention"):
        sink.changes_plan(-1)
    # a window past the hole still works (state comes from the ckpt)
    assert {r[-1] for r in _rows(sink.read_changes(since_seq=2))} == {3}


def test_out_of_vacuum_retention_raises(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    head = sink._head_seq
    sink.upsert_batch(
        spark.createDataFrame([Row(k=2, v="V2")], "k bigint, v string"),
        batch_id=1,
    )
    sink.vacuum(retention_sec=0.0)  # reclaims the replaced preimage file
    with pytest.raises(ValueError, match="vacuum retention"):
        sink.read_changes(since_seq=head)


def test_bootstrap_adoption_emits_initial_inserts(spark, tmp_path):
    import shutil

    sink = _mk(spark, tmp_path, name="adopt")
    table = sink.table_dir
    # strip ALL manifest state: the data dir is now a bare adopted table
    shutil.rmtree(f"{table}/_mlog")
    sink2 = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=4)
    sink2.upsert_batch(
        spark.createDataFrame([Row(k=99, v="new")], "k bigint, v string"),
        batch_id=0,
    )
    got = _rows(sink2.read_changes())
    # adopted pre-existing rows surface as inserts at the adoption seq
    boot = [r for r in got if r[0] != 99]
    assert {(r[0], r[1], r[2]) for r in boot} == {
        (i, f"v{i}", "insert") for i in range(6)
    }
    assert (99, "new", "insert", max(r[-1] for r in got)) in got


def test_stream_matches_batch(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=2, v="V2"), Row(k=10, v="v10")], "k bigint, v string"
        ),
        batch_id=1,
    )
    sink.delete_keys(spark.createDataFrame([(0,)], "k bigint"))
    q = (
        sink.read_stream()
        .writeStream.format("memory")
        .queryName("cf_parity")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_parity"))
        .start()
    )
    q.awaitTermination(120)
    streamed = _rows(spark.sql("SELECT * FROM cf_parity"))
    assert streamed == _rows(sink.read_changes())


def test_stream_restart_resumes_exactly_once(spark, tmp_path):
    """The exactly-once contract: a checkpointed changefeed query
    restarted after more commits re-emits NOTHING it already delivered
    and delivers everything new — union(run1, run2) == the full feed
    with no overlap."""
    sink = _mk(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt_restart")
    out = str(tmp_path / "cf_out")

    def drain():
        q = (
            sink.read_stream()
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return _rows(spark.read.parquet(out).select("k", "v", *CDC))

    run1 = drain()
    assert {r[-1] for r in run1} == {1}
    # new commits AFTER the first run drained, pipeline DOWN meanwhile
    sink.upsert_batch(
        spark.createDataFrame([Row(k=2, v="V2")], "k bigint, v string"),
        batch_id=1,
    )
    sink.delete_keys(spark.createDataFrame([(0,)], "k bigint"))
    total = drain()
    run2 = sorted(set(total) - set(run1))
    assert {r[-1] for r in run2} == {2, 3}  # nothing re-delivered
    assert len(total) == len(run1) + len(run2)  # no duplicate rows
    assert total == _rows(sink.read_changes())


def test_stream_since_seq_skips_history(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    head = sink._head_seq
    sink.upsert_batch(
        spark.createDataFrame([Row(k=50, v="w")], "k bigint, v string"),
        batch_id=1,
    )
    q = (
        sink.read_stream(since_seq=head)
        .writeStream.format("memory")
        .queryName("cf_since")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_since"))
        .start()
    )
    q.awaitTermination(120)
    got = _rows(spark.sql("SELECT * FROM cf_since"))
    assert got == [(50, "w", "insert", head + 1)]


def test_matview_incremental_multi_batch_group_moves_and_death(
    spark, tmp_path
):
    """group_aggregate_view across THREE separate drains of the same
    checkpointed query: (1) bootstrap from inserts; (2) an update that
    MOVES a row between groups (debit old group, credit new) plus a
    delete; (3) a delete that kills a group entirely — the view row
    must disappear, not sit at zero. Sums are decimal-exact."""
    from motorway_spark.streaming.matview import group_aggregate_view

    base = UpsertParquetSink(
        spark, str(tmp_path / "mvbase"), key_cols=["k"], num_buckets=4
    )
    mv = UpsertParquetSink(
        spark, str(tmp_path / "mv"), key_cols=["g"], num_buckets=2
    )
    apply_delta = group_aggregate_view(
        mv, group_cols=["g"], count_col="n_rows", sum_cols={"v": "sv"}
    )
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            base.read_stream()
            .writeStream.foreachBatch(apply_delta)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        df = mv.read()
        return (
            {}
            if df is None
            else {
                r["g"]: (r["n_rows"], float(r["sv"]))
                for r in df.collect()
            }
        )

    base.upsert_batch(
        spark.createDataFrame(
            [(1, 1, 10.0), (2, 1, 5.0), (3, 2, 7.0)],
            "k bigint, g bigint, v double",
        ),
        batch_id=0,
    )
    assert drain() == {1: (2, 15.0), 2: (1, 7.0)}
    # pipeline DOWN: k=2 moves g1 -> g2 (new value), k=3 deleted
    base.upsert_batch(
        spark.createDataFrame([(2, 2, 6.0)], "k bigint, g bigint, v double"),
        batch_id=1,
    )
    base.delete_keys(spark.createDataFrame([(3,)], "k bigint"))
    assert drain() == {1: (1, 10.0), 2: (1, 6.0)}
    # group 1's last row dies -> the view row must VANISH
    base.delete_keys(spark.createDataFrame([(1,)], "k bigint"))
    assert drain() == {2: (1, 6.0)}
