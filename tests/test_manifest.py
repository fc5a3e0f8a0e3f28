"""Manifest metadata for UpsertParquetSink — the lakehouse rung: file
lists + footer stats per bucket so the driver never LISTS directories
(Delta-log add-file stats, rebuilt on plain parquet). Covers creation,
no-scan accessors, crash-window healing, pre-manifest upgrade, and
stats-based bucket skipping."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from motorway_spark.sinks import UpsertParquetSink


def _manifest(sink: UpsertParquetSink) -> dict:
    """Merged manifest view via a COLD load on a fresh instance — every
    call exercises base + log replay and cross-instance freshness."""
    fresh = UpsertParquetSink(
        sink.spark,
        sink.table_dir,
        key_cols=sink.key_cols,
        num_buckets=sink.num_buckets,
    )
    return fresh._load_manifest()


def _mk(spark, tmp_path, n=40, buckets=8):
    table = str(tmp_path / "mtab")
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=buckets)
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=i, ts=i * 10, v=f"v{i}") for i in range(n)],
            "k bigint, ts bigint, v string",
        ),
        batch_id=0,
    )
    return sink, table


def test_manifest_written_and_matches_disk(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    m = _manifest(sink)
    assert m["version"] == 1 and m["num_buckets"] == 8
    total_rows = 0
    for k, ent in m["buckets"].items():
        live = f"{table}/data/bucket={k}"
        on_disk = sorted(
            f for f in os.listdir(live) if f.endswith(".parquet")
        )
        assert ent["files"] == on_disk
        total_rows += ent["rows"]
        # footer stats recorded for the scalar columns
        assert "k" in ent["min"] and "ts" in ent["max"]
        assert ent["min"]["k"] <= ent["max"]["k"]
    assert total_rows == 40


def test_row_count_and_schema_without_scan(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    assert sink.row_count() == 40
    schema = sink.table_schema()
    assert [f.name for f in schema.fields] == ["k", "ts", "v"]
    # stays exact through a merge that updates 5 and inserts 2
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=i, ts=0, v="u") for i in range(5)]
            + [Row(k=100, ts=0, v="n"), Row(k=101, ts=0, v="n")],
            "k bigint, ts bigint, v string",
        ),
        batch_id=1,
    )
    assert sink.row_count() == 42
    assert sink.row_count() == sink.read().count()


def test_read_serves_from_manifest_file_list(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == {i: f"v{i}" for i in range(40)}
    # the plan reads the manifest's explicit files (basePath keeps the
    # bucket partition out of the output schema)
    assert sink.read().columns == ["k", "ts", "v"]


def test_crash_window_stale_entry_heals(spark, tmp_path):
    """Simulated crash between a bucket swap and its manifest write:
    the entry names files that no longer exist. Every reader must
    detect that bucket (stat, not list), re-list ONLY it, and serve the
    live data."""
    sink, table = _mk(spark, tmp_path)
    m = _manifest(sink)
    k = next(iter(m["buckets"]))
    # emulate: the swap replaced the files but the manifest write never
    # happened — rewrite the live file under a different name
    live = f"{table}/data/bucket={k}"
    real = [f for f in os.listdir(live) if f.endswith(".parquet")]
    for i, f in enumerate(real):
        os.rename(f"{live}/{f}", f"{live}/part-renamed-{i}.parquet")
    assert sink.row_count() == 40  # healed, not undercounted
    healed = _manifest(sink)["buckets"][k]
    assert healed["files"] == sorted(
        f for f in os.listdir(live) if f.endswith(".parquet")
    )
    assert {r["k"] for r in sink.read().collect()} == set(range(40))


def test_crash_window_vanished_bucket_heals(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    m = _manifest(sink)
    k = next(iter(m["buckets"]))
    shutil.rmtree(f"{table}/data/bucket={k}")
    n_gone = m["buckets"][k]["rows"]
    assert sink.row_count() == 40 - n_gone
    assert str(k) not in _manifest(sink)["buckets"]


def test_pre_manifest_table_upgrades_with_full_bootstrap(spark, tmp_path):
    """Deleting the manifest (or a table written before manifests
    existed) must not lose untouched buckets: the first write after the
    upgrade bootstraps entries for EVERY live bucket."""
    sink, table = _mk(spark, tmp_path)
    shutil.rmtree(f"{table}/_mlog")
    # legacy read path still works
    assert sink.read().count() == 40
    # one small merge recreates the manifest covering the whole table
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=1, ts=999, v="up")], "k bigint, ts bigint, v string"
        ),
        batch_id=7,
    )
    assert sink.row_count() == 40
    m = _manifest(sink)
    assert sum(e["rows"] for e in m["buckets"].values()) == 40


def test_delete_keys_uses_manifest_schema(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    # keys supplied as INT against a BIGINT table: the cast target must
    # come from the manifest schema (no parquet inference listing)
    doomed = spark.createDataFrame([(3,), (5,)], "k int")
    assert sink.delete_keys(doomed) == 2
    assert sink.row_count() == 38


def test_delete_where_bounds_skips_disjoint_buckets(spark, tmp_path):
    """Footer-stats data skipping: buckets whose [min,max] on the
    hinted column are disjoint from the bounds are excluded from the
    scan entirely (the Delta data-skipping contract)."""
    sink, table = _mk(spark, tmp_path)
    m = _manifest(sink)
    # per-bucket ts stats are exact footers: compute which buckets the
    # hint ts <= 95 can skip (min ts > 95)
    skippable = {
        k for k, e in m["buckets"].items() if e["min"]["ts"] > 95
    }
    assert skippable  # fixture guarantees some high-ts-only buckets
    assert UpsertParquetSink._bucket_skippable(
        m, int(next(iter(skippable))), {"ts": (None, 95)}
    )
    deleted = sink.delete_where(F.col("ts") <= 95, bounds={"ts": (None, 95)})
    assert deleted == 10  # ts in {0,10,...,90}
    assert sink.row_count() == 30
    assert {r["k"] for r in sink.read().collect()} == set(range(10, 40))


def test_manifest_untouched_buckets_byte_identical_across_merge(spark, tmp_path):
    """A single-key merge touches exactly one bucket: every other
    bucket's files stay byte-identical on disk AND its manifest entry
    is carried over unchanged."""
    sink, table = _mk(spark, tmp_path)
    m0 = _manifest(sink)

    def fingerprint(k: str, ent: dict):
        return [
            (f, os.path.getsize(f"{table}/data/bucket={k}/{f}"))
            for f in ent["files"]
        ]

    before = {k: fingerprint(k, e) for k, e in m0["buckets"].items()}
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=0, ts=1, v="x")], "k bigint, ts bigint, v string"
        ),
        batch_id=3,
    )
    m1 = _manifest(sink)
    touched = [k for k in m0["buckets"] if m1["buckets"][k] != m0["buckets"][k]]
    assert len(touched) == 1  # only k=0's hash bucket was rewritten
    for k, ent in m1["buckets"].items():
        if k not in touched:
            assert fingerprint(k, ent) == before[k]


def _mlog_records(table: str, kind: str) -> list[tuple[int, dict]]:
    out = []
    for name in sorted(os.listdir(f"{table}/_mlog")):
        if name.endswith(f".{kind}.json"):
            with open(f"{table}/_mlog/{name}") as fh:
                out.append((int(name.split(".")[0]), json.load(fh)))
    return out


def test_manifest_commits_are_numbered_log_deltas(spark, tmp_path):
    """Per-batch manifest commits are O(|touched|) NUMBERED records —
    one exclusively-linked file each; the O(|buckets|) checkpoint is
    written once at bootstrap and only rewritten by compaction. (A
    monolithic rewrite measured 1.48x/decade on the third registry
    decade; the log form is what keeps per-batch driver time flat.)
    The batch id travels IN the record, so data visibility and the
    replay marker commit atomically — and a torn record is structurally
    impossible (a record is fully linked or absent)."""
    sink, table = _mk(spark, tmp_path)
    ckpts0 = _mlog_records(table, "ckpt")
    assert [s for s, _ in ckpts0] == [0]  # bootstrap checkpoint only
    for b in range(1, 4):
        sink.upsert_batch(
            spark.createDataFrame(
                [Row(k=0, ts=b, v="x")], "k bigint, ts bigint, v string"
            ),
            batch_id=b,
        )
    assert _mlog_records(table, "ckpt") == ckpts0  # untouched by commits
    deltas = _mlog_records(table, "delta")
    assert [s for s, _ in deltas] == [1, 2, 3, 4]  # contiguous chain
    # batch 0 loads an EMPTY table (trivially disjoint -> append fast
    # path); batches 1-3 update an existing key -> full merge
    assert [r["op"] for _, r in deltas] == ["append", "merge", "merge", "merge"]
    assert [r["batch_id"] for _, r in deltas] == [0, 1, 2, 3]
    assert all(len(r["buckets"]) == 1 for _, r in deltas[1:])  # one bucket
    # merged view = checkpoint + replay: the touched bucket reflects the
    # LAST delta (ts=3 won the within-batch sort), untouched buckets intact
    m = _manifest(sink)
    assert sum(e["rows"] for e in m["buckets"].values()) == 40
    assert {r["ts"] for r in sink.read().filter("k = 0").collect()} == {3}
    assert sink.row_count() == 40


def test_pre_mlog_manifest_files_are_refused(spark, tmp_path):
    """The pre-_mlog formats (`_manifest.json` + `_manifest.log`,
    `_upsert_meta.json`) are no longer read. A directory holding one
    and no checkpoint is refused by name, never adopted bare: a bare
    adoption would also list files the old manifest had excluded."""
    sink, table = _mk(spark, tmp_path)
    shutil.rmtree(f"{table}/_mlog")
    row = spark.createDataFrame(
        [Row(k=0, ts=999, v="x")], "k bigint, ts bigint, v string"
    )
    for name in ("_manifest.json", "_manifest.log", "_upsert_meta.json"):
        with open(f"{table}/{name}", "w") as fh:
            fh.write("{}\n")
        fresh = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
        with pytest.raises(ValueError, match=name):
            fresh.read()
        with pytest.raises(ValueError, match=name):
            fresh.upsert_batch(row, batch_id=50)
        with pytest.raises(ValueError, match=name):
            UpsertParquetSink.open(spark, table)
        assert not os.path.exists(f"{table}/_mlog")  # nothing adopted
        os.remove(f"{table}/{name}")
    # with the file gone, the bare directory is adopted as before
    fresh = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    assert fresh.row_count() == 40


def test_manifest_log_compacts_into_checkpoint(spark, tmp_path):
    sink, table = _mk(spark, tmp_path, n=10, buckets=4)
    sink._LOG_COMPACT_EVERY = 5  # instance-level override for the test
    for b in range(1, 7):
        sink.upsert_batch(
            spark.createDataFrame(
                [Row(k=b % 10, ts=b, v="c")], "k bigint, ts bigint, v string"
            ),
            batch_id=b,
        )
    # 6 deltas with threshold 5 -> one compaction happened: one
    # checkpoint carries the merged state. Folded records are RETAINED
    # (log retention — their numbered names must keep existing so a
    # stale writer's link at a folded seq fails loudly instead of
    # landing an invisible delta); readers skip them as seq <= ckpt.
    ckpts = _mlog_records(table, "ckpt")
    assert ckpts[-1][0] >= 5  # newest ckpt carries the fold
    assert any(s <= ckpts[-1][0] for s, _ in _mlog_records(table, "delta"))
    base = ckpts[-1][1]
    assert sum(e["rows"] for e in base["buckets"].values()) >= 10
    assert set(base["batches"]) >= {0, 1, 2, 3, 4}  # replay markers folded
    assert sink.row_count() == 10
    assert {r["ts"] for r in sink.read().filter("k = 1").collect()} == {1}


def test_manifest_warm_cache_skips_reparse_but_sees_external_writes(
    spark, tmp_path
):
    sink, table = _mk(spark, tmp_path)
    m1 = sink._load_manifest()
    assert sink._load_manifest() is m1  # warm: same object, no reparse
    # an external writer (second instance) commits; stat invalidates
    other = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    other.upsert_batch(
        spark.createDataFrame(
            [Row(k=500, ts=1, v="ext")], "k bigint, ts bigint, v string"
        ),
        batch_id=9,
    )
    m2 = sink._load_manifest()
    assert m2 is not m1
    assert sink.row_count() == 41


def test_bucket_column_name_is_reserved(spark, tmp_path):
    """'bucket' is the sink's internal hash-partition column; a key or
    value column with that name would be silently overwritten (found by
    stream_percentile_grid's first draft) — refuse loudly instead."""
    with pytest.raises(ValueError, match="reserved"):
        UpsertParquetSink(
            spark, str(tmp_path / "t"), key_cols=["bucket"], num_buckets=4
        )
    sink = UpsertParquetSink(
        spark, str(tmp_path / "t2"), key_cols=["k"], num_buckets=4
    )
    with pytest.raises(ValueError, match="reserved"):
        sink.upsert_batch(
            spark.createDataFrame([(1, 2)], "k bigint, bucket bigint"),
            batch_id=0,
        )


def test_log_retention_zero_restores_immediate_cleanup(spark, tmp_path):
    """LOG_RETENTION_SEC=0 (single-writer maintenance) removes folded
    records at the fold, restoring the old bounded-log behavior."""
    sink, table = _mk(spark, tmp_path, n=10, buckets=4)
    sink._LOG_COMPACT_EVERY = 5
    sink.LOG_RETENTION_SEC = 0.0
    for b in range(1, 7):
        sink.upsert_batch(
            spark.createDataFrame(
                [Row(k=b % 10, ts=b, v="c")], "k bigint, ts bigint, v string"
            ),
            batch_id=b,
        )
    ckpts = _mlog_records(table, "ckpt")
    assert len(ckpts) == 1 and ckpts[0][0] >= 5
    assert all(s > ckpts[0][0] for s, _ in _mlog_records(table, "delta"))
    assert sink.row_count() == 10


_DISCOVERY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _jobs_while(spark, group: str, build) -> tuple[list[int], object]:
    """Run ``build()`` under job group ``group``; return the group's job
    ids and what ``build`` returned. A marker job in a second group runs
    afterwards: status events arrive in order, so once the marker has
    ended, every job the build submitted is visible."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, group)
        out = build()
        sc.setJobGroup(f"{group}:marker", "marker")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not any(
        tracker.getJobInfo(i).status == "SUCCEEDED"
        for i in tracker.getJobIdsForGroup(f"{group}:marker")
    ):
        assert time.monotonic() < deadline, f"marker job of {group} never ended"
        time.sleep(0.05)
    return sorted(tracker.getJobIdsForGroup(group)), out


def test_manifest_reads_submit_no_listing_job(spark, tmp_path):
    """A read over more files than Spark's parallel-discovery
    threshold (32) builds without a Spark job: the driver stats the
    manifest's files instead of a one-task-per-file listing job. The
    session's threshold is unchanged afterwards, also when the read
    raises and when several threads read at once."""
    import threading

    from pyspark.errors import AnalysisException

    before = spark.conf.get(_DISCOVERY)
    schema = "k bigint, ts bigint, v string"
    table = str(tmp_path / "wide")
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=16)
    written = []
    for b in range(3):  # disjoint rising keys: three append commits
        rows = [(k, b, f"v{k}") for k in range(b * 64, (b + 1) * 64)]
        written += rows
        sink.upsert_batch(
            spark.createDataFrame(rows, schema).coalesce(1), batch_id=b
        )
    m = sink._load_manifest()
    all_buckets = sorted(int(k) for k in m["buckets"])
    paths = sink._manifest_paths(m, all_buckets)
    assert len(paths) >= 48 > int(before)
    assert [r["op"] for r in sink.history()] == ["append"] * 3
    seq = sink.history()[0]["seq"]

    def rows_of(df):
        return sorted(tuple(r) for r in df.select("k", "ts", "v").collect())

    for name, build in [
        ("read", sink.read),
        ("read_version", lambda: sink.read_version(seq)),
        ("read_buckets", lambda: sink._read_buckets(m, all_buckets)),
        ("read_changes", lambda: sink.read_changes(-1, seq)),
    ]:
        jobs, df = _jobs_while(spark, f"manifest-scan-{name}", build)
        assert jobs == [], f"{name} submitted jobs {jobs} while building"
        assert rows_of(df) == sorted(written), name
        assert spark.conf.get(_DISCOVERY) == before

    # a merge rewriting every bucket: its changefeed "before" leg scans
    # all 48+ replaced files
    updated = [(k, 9, f"u{k}") for k, _, _ in written]
    sink.upsert_batch(spark.createDataFrame(updated, schema), batch_id=3)
    assert sink.history()[0]["op"] == "merge"
    jobs, feed = _jobs_while(
        spark, "manifest-scan-merge-changes", lambda: sink.read_changes(seq)
    )
    assert jobs == []
    post = feed.filter(F.col("_change_type") == "update_postimage")
    assert rows_of(post) == sorted(updated)
    assert feed.filter(F.col("_change_type") == "update_preimage").count() == len(
        written
    )
    assert spark.conf.get(_DISCOVERY) == before

    # concurrent wide reads of the pre-merge version, more threads than
    # cores and frequent thread switches: without the lock, a reader
    # that saw another's raised value would restore it and leak it
    results, errors = [], []

    def reader():
        try:
            results.append(rows_of(sink.read_version(seq)))
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert results == [sorted(written)] * 6
    assert spark.conf.get(_DISCOVERY) == before

    # a wide read that raises still restores the threshold
    old = sink._state_at(seq)
    os.remove(sink._manifest_paths(old, all_buckets)[0])
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        sink._read_buckets(old, all_buckets, heal=False)
    assert spark.conf.get(_DISCOVERY) == before
