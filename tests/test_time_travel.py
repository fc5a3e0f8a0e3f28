"""Time travel on UpsertParquetSink: replaced files are retained until
vacuum (unlisted = invisible to current readers), so read_version(seq)
re-resolves any historical manifest within the retention windows —
the Delta VACUUM-bounds-time-travel contract. history() is the audit
surface. Out-of-retention versions raise clearly. Replay starts from
the newest checkpoint at or below the requested version, including
checkpoints above the bootstrap and across a rebucket record."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

import motorway_spark
from motorway_spark.sinks import UpsertParquetSink


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def _mk(spark, tmp_path, name="ttab"):
    table = str(tmp_path / name)
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=4)
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=i, v=f"a{i}") for i in range(10)], "k bigint, v string"
        ),
        batch_id=0,
    )  # seq 1
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=2, v="upd2"), Row(k=20, v="new20")], "k bigint, v string"
        ),
        batch_id=1,
    )  # seq 2
    sink.delete_keys(spark.createDataFrame([(5,)], "k bigint"))  # seq 3
    return sink, table


def test_read_version_reconstructs_each_commit(spark, tmp_path):
    sink, _table = _mk(spark, tmp_path)
    v0 = sink.read_version(0)  # bootstrap checkpoint: empty table
    assert v0 is None
    assert _rows(sink.read_version(1)) == [(i, f"a{i}") for i in range(10)]
    v2 = {r["k"]: r["v"] for r in sink.read_version(2).collect()}
    assert v2[2] == "upd2" and v2[20] == "new20" and len(v2) == 11
    v3 = {r["k"]: r["v"] for r in sink.read_version(3).collect()}
    assert 5 not in v3 and len(v3) == 10
    # the current read agrees with the newest version
    assert _rows(sink.read()) == _rows(sink.read_version(3))


def test_history_lists_commits_newest_first(spark, tmp_path):
    sink, _table = _mk(spark, tmp_path)
    h = sink.history()
    assert [r["seq"] for r in h] == [3, 2, 1]
    assert [r["op"] for r in h] == ["delete", "merge", "append"]
    assert h[2]["batch_id"] == 0 and h[1]["batch_id"] == 1
    assert h[2]["schema_changed"] is True  # first write records it


def test_nonexistent_and_vacuumed_versions_raise(spark, tmp_path):
    sink, _table = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="does not exist"):
        sink.read_version(99)
    # vacuum with zero retention reclaims the replaced files: the
    # pre-update version is now out of vacuum retention
    sink.vacuum(retention_sec=0)
    with pytest.raises(ValueError, match="vacuumed"):
        sink.read_version(1).collect()
    # the current version still reads fine
    assert sink.row_count() == 10


def _snap(df):
    """{key: row dict} of a read (None = empty table)."""
    return {} if df is None else {r["k"]: r.asDict() for r in df.collect()}


def test_replay_from_checkpoints_above_zero_and_across_rebucket(
    spark, tmp_path
):
    table = str(tmp_path / "replay")
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    sink._LOG_COMPACT_EVERY = 2  # checkpoints land at seq 2 and 4
    seen = {}

    def capture():
        seen[sink._head_seq] = (sink.read().columns, _snap(sink.read()))

    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=i, v=f"a{i}") for i in range(10)], "k bigint, v string"
        ),
        batch_id=0,
    )  # seq 1: append
    capture()
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=2, v="b2", extra=7), Row(k=20, v="n20", extra=8)],
            "k bigint, v string, extra bigint",
        ),
        batch_id=1,
    )  # seq 2: merge that adds a column
    capture()
    sink.delete_keys(spark.createDataFrame([(5,)], "k bigint"))  # seq 3
    capture()
    sink.rebucket(4)  # seq 4
    capture()

    h = sink.history()
    assert [r["seq"] for r in h] == [4, 3, 2, 1]
    assert [r["op"] for r in h] == ["rebucket", "delete", "merge", "append"]
    assert [s for s, _ in sink._list_mlog()[0]] == [0, 2, 4]
    for r in h:
        v = sink.read_version(r["seq"])
        assert (v.columns, _snap(v)) == seen[r["seq"]], r["seq"]
    head = sink._state_at(4)
    cur = sink._load_manifest()
    for field in ("buckets", "schema", "num_buckets"):
        assert head[field] == cur[field], field
    assert cur["num_buckets"] == 4

    # since seq 1 (below both newer checkpoints): the base comes from
    # checkpoint 0 + delta 1, then deltas 2-4 replay across the rebucket
    got = sorted(
        (r["k"], r["v"], r["extra"], r["_change_type"], r["_commit_seq"])
        for r in sink.read_changes(since_seq=1).collect()
    )
    assert got == [
        (2, "a2", None, "update_preimage", 2),
        (2, "b2", 7, "update_postimage", 2),
        (5, "a5", None, "delete", 3),
        (20, "n20", 8, "insert", 2),
    ]
    # since seq 2 (the base is checkpoint 2 itself)
    got = sorted(
        (r["k"], r["_change_type"], r["_commit_seq"])
        for r in sink.read_changes(since_seq=2).collect()
    )
    assert got == [(5, "delete", 3)]


def test_time_travel_across_schema_evolution(spark, tmp_path):
    table = str(tmp_path / "evo")
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=4)
    sink.upsert_batch(
        spark.createDataFrame([Row(k=1, v="a")], "k bigint, v string"),
        batch_id=0,
    )  # seq 1
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=2, v="b", extra=7)], "k bigint, v string, extra bigint"
        ),
        batch_id=1,
    )  # seq 2: widens the schema
    v1 = sink.read_version(1)
    assert v1.columns == ["k", "v"]  # the schema AS OF that version
    v2 = sink.read_version(2)
    assert v2.columns == ["k", "v", "extra"]
    got = {r["k"]: r["extra"] for r in v2.collect()}
    assert got == {1: None, 2: 7}


def test_facade_time_travel_view(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    row = motorway_spark.sql(
        "SELECT COUNT(*) AS n FROM t_v1",
        "/root/testdata/sf0.001",
        spark,
        tables={"t_v1": (table, 1)},
    ).collect()[0]
    assert row["n"] == 10
    row = motorway_spark.sql(
        "SELECT COUNT(*) AS n FROM t",
        "/root/testdata/sf0.001",
        spark,
        tables={"t": table},
    ).collect()[0]
    assert row["n"] == 10  # current: 11 inserted - 1 deleted
