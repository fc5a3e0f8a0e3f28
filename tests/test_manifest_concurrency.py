"""Optimistic concurrency for UpsertParquetSink — the Delta-protocol
rung: data files are additive and uniquely named; the commit point is
a NUMBERED log record created atomically-and-exclusively (os.link), so
two concurrent writers conflict loudly at the log instead of silently
corrupting each other's bucket swaps.

The loser's documented retry path (sinks/upsert.py module docstring):
  1. its own batch id was committed by the winner  -> delete staged
     files, no-op (exactly one commit per batch id ever wins);
  2. the winner touched one of its buckets          -> delete staged
     files, REDO the merge from the fresh snapshot;
  3. disjoint buckets                               -> re-link at the
     next seq with the same record, NO Spark work repeated.

Also covers the round-8 advice items: orphan invisibility + vacuum,
`bucket=K.old` leftovers not breaking the bootstrap, and a
num_buckets mismatch over an existing table refusing loudly."""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from motorway_spark.sinks import UpsertParquetSink


class RacingSink(UpsertParquetSink):
    """Test double: rendezvous both writers at their FIRST commit
    attempt (after staging, before the link race) and count Spark
    staging work."""

    def __init__(self, *args, barrier=None, **kwargs):
        super().__init__(*args, **kwargs)
        self._barrier = barrier
        self._synced = False
        self.stage_calls = 0

    def _stage(self, *args, **kwargs):
        self.stage_calls += 1
        return super()._stage(*args, **kwargs)

    def _try_commit(self, *args, **kwargs):
        if self._barrier is not None and not self._synced:
            self._synced = True
            self._barrier.wait(timeout=180)
        return super()._try_commit(*args, **kwargs)


class VanishingSink(UpsertParquetSink):
    """Test double: the first scan after ``armed`` is set deletes the
    first file it was handed before Spark resolves the paths (a
    concurrent vacuum or an external delete) and records the keys that
    file held. ``attempts`` counts the redo loop's attempts."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.armed = False
        self.attempts = 0
        self.lost: set[int] = set()

    def _commit_loop(self, what, attempt, **kwargs):
        def counted(m):
            self.attempts += 1
            return attempt(m)

        return super()._commit_loop(what, counted, **kwargs)

    def _scan(self, paths, schema=None):
        import pyarrow.parquet as pq

        if self.armed:
            self.armed = False
            self.lost = set(pq.read_table(paths[0]).column("k").to_pylist())
            os.remove(paths[0])
        return super()._scan(paths, schema)


def _row_df(spark, k, ts, v):
    return spark.createDataFrame(
        [Row(k=k, ts=ts, v=v)], "k bigint, ts bigint, v string"
    )


def _mk_table(spark, tmp_path, n=40, buckets=8):
    table = str(tmp_path / "ctab")
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=buckets)
    sink.upsert_batch(
        spark.createDataFrame(
            [Row(k=i, ts=i * 10, v=f"v{i}") for i in range(n)],
            "k bigint, ts bigint, v string",
        ),
        batch_id=0,
    )
    return table


def _deltas(table):
    out = []
    for name in sorted(os.listdir(f"{table}/_mlog")):
        if name.endswith(".delta.json"):
            import json

            with open(f"{table}/_mlog/{name}") as fh:
                out.append(json.load(fh))
    return out


def _race(sinks_batches):
    """Run (sink, df, batch_id) triples concurrently; re-raise the
    first thread error."""
    errs = []

    def run(sink, df, bid):
        try:
            sink.upsert_batch(df, bid)
        except Exception as exc:  # noqa: BLE001 - surfaced below
            errs.append(exc)

    threads = [
        threading.Thread(target=run, args=t) for t in sinks_batches
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads), "writer hung"
    if errs:
        raise errs[0]


def _bucket_of(spark, table, key, buckets=8):
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=buckets)
    df = _row_df(spark, key, 0, "x").withColumn("bucket", sink._bucket_expr())
    return df.collect()[0]["bucket"]


def test_two_writers_same_batch_id_exactly_one_commit(spark, tmp_path):
    """The replay race: two writers carrying the SAME batch id both
    stage a merge, then race for the commit. Exactly one wins; the
    loser detects its batch id in the winner's record, deletes its
    staged files, and no-ops — and every untouched bucket stays
    byte-identical on disk."""
    table = _mk_table(spark, tmp_path)
    viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    m0 = viewer._load_manifest()
    touched_bucket = str(_bucket_of(spark, table, 0))

    def fingerprint(k, ent):
        return [
            (f, os.path.getsize(f"{table}/data/bucket={k}/{f}"))
            for f in ent["files"]
        ]

    before = {k: fingerprint(k, e) for k, e in m0["buckets"].items()}

    barrier = threading.Barrier(2)
    a = RacingSink(spark, table, key_cols=["k"], num_buckets=8, barrier=barrier)
    b = RacingSink(spark, table, key_cols=["k"], num_buckets=8, barrier=barrier)
    df = _row_df(spark, 0, 777, "race")
    _race([(a, df, 7), (b, df, 7)])

    committed = [d for d in _deltas(table) if d.get("batch_id") == 7]
    assert len(committed) == 1  # exactly one commit per batch id, ever
    got = {r["k"]: (r["ts"], r["v"]) for r in viewer.read().collect()}
    assert got[0] == (777, "race")
    assert viewer.row_count() == 40
    # the touched bucket's dir holds the manifest-listed files plus
    # the winner's REPLACED file (retained for time travel, unlisted =
    # invisible); the loser's staged files were deleted at the no-op.
    # vacuum(0) then reduces the dir to exactly the listed set —
    # proving everything unlisted (loser leftovers included, had any
    # survived) is reclaimable garbage, not reachable data.
    m1 = viewer._load_manifest()
    live = f"{table}/data/bucket={touched_bucket}"
    on_disk = sorted(f for f in os.listdir(live) if f.endswith(".parquet"))
    listed = m1["buckets"][touched_bucket]["files"]
    assert set(listed) <= set(on_disk)
    assert len(on_disk) <= len(listed) + 1  # + the one replaced file
    viewer.vacuum(retention_sec=0)
    assert sorted(
        f for f in os.listdir(live) if f.endswith(".parquet")
    ) == listed
    # byte-identity on every untouched bucket
    for k, ent in m1["buckets"].items():
        if k != touched_bucket:
            assert fingerprint(k, ent) == before[k]


def test_two_writers_disjoint_buckets_both_commit_without_redo(
    spark, tmp_path
):
    """Disjoint-bucket writers serialize only at the log: the loser of
    the seq race re-links at the next number with the SAME staged files
    — one Spark staging pass each, both commits land."""
    table = _mk_table(spark, tmp_path)
    # two keys in different hash buckets (fixture keys 0 and 1 differ;
    # assert rather than assume)
    kx, ky = 100, 101
    assert _bucket_of(spark, table, kx) != _bucket_of(spark, table, ky)

    barrier = threading.Barrier(2)
    a = RacingSink(spark, table, key_cols=["k"], num_buckets=8, barrier=barrier)
    b = RacingSink(spark, table, key_cols=["k"], num_buckets=8, barrier=barrier)
    _race(
        [
            (a, _row_df(spark, kx, 1, "ax"), 21),
            (b, _row_df(spark, ky, 2, "by"), 22),
        ]
    )
    assert a.stage_calls == 1 and b.stage_calls == 1  # no Spark redo
    committed = {d["batch_id"] for d in _deltas(table) if d["batch_id"]}
    assert {21, 22} <= committed
    viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    got = {r["k"]: r["v"] for r in viewer.read().collect()}
    assert got[kx] == "ax" and got[ky] == "by"
    assert viewer.row_count() == 42


def test_two_writers_overlapping_bucket_loser_redoes_merge(spark, tmp_path):
    """Writers touching the SAME bucket: the loser's staged version was
    derived from a stale target, so it deletes its staged files and
    REDOES the merge against the winner's snapshot. Both batches'
    effects land; no orphan files remain in the contested bucket."""
    table = _mk_table(spark, tmp_path)
    # two DIFFERENT keys in the SAME hash bucket
    base_b = _bucket_of(spark, table, 200)
    ky = next(
        k for k in range(201, 400) if _bucket_of(spark, table, k) == base_b
    )

    barrier = threading.Barrier(2)
    a = RacingSink(spark, table, key_cols=["k"], num_buckets=8, barrier=barrier)
    b = RacingSink(spark, table, key_cols=["k"], num_buckets=8, barrier=barrier)
    _race(
        [
            (a, _row_df(spark, 200, 1, "first"), 31),
            (b, _row_df(spark, ky, 2, "second"), 32),
        ]
    )
    # exactly one of them redid its merge
    assert sorted([a.stage_calls, b.stage_calls]) == [1, 2]
    viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    got = {r["k"]: r["v"] for r in viewer.read().collect()}
    assert got[200] == "first" and got[ky] == "second"
    assert viewer.row_count() == 42
    # contested bucket: listed files live; everything else (the two
    # writers' replaced versions, retained for time travel; the
    # loser's staged files were deleted at the redo) is unlisted
    # garbage vacuum(0) fully reclaims
    m = viewer._load_manifest()
    live = f"{table}/data/bucket={base_b}"
    listed = m["buckets"][str(base_b)]["files"]
    assert set(listed) <= {
        f for f in os.listdir(live) if f.endswith(".parquet")
    }
    viewer.vacuum(retention_sec=0)
    assert sorted(
        f for f in os.listdir(live) if f.endswith(".parquet")
    ) == listed


def test_crashed_writer_orphans_invisible_and_vacuumed(spark, tmp_path):
    """A writer that crashes AFTER staging but BEFORE its commit link
    leaves uniquely-named files no manifest entry lists: readers never
    see them, row_count is unchanged, and vacuum() removes them — but
    only once they age past the retention window (a YOUNG unlisted
    file is indistinguishable from a live writer's staged files, so
    default-retention vacuum must leave it alone)."""
    table = _mk_table(spark, tmp_path)
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    m = sink._load_manifest()
    k, ent = next(iter(m["buckets"].items()))
    live = f"{table}/data/bucket={k}"
    orphan = f"{live}/part-deadbeef0000-00000.parquet"
    shutil.copyfile(f"{live}/{ent['files'][0]}", orphan)
    assert sink.row_count() == 40  # invisible
    assert {r["k"] for r in sink.read().collect()} == set(range(40))
    # seconds old -> presumed staged by a live writer -> retained
    assert sink.vacuum() == 0 and os.path.exists(orphan)
    # aged past retention (here: window collapsed to 0) -> collected
    removed = sink.vacuum(retention_sec=0)
    assert removed >= 1 and not os.path.exists(orphan)
    # listed files untouched
    assert all(os.path.isfile(f"{live}/{f}") for f in ent["files"])
    assert sink.row_count() == 40


def test_bootstrap_tolerates_legacy_old_dirs(spark, tmp_path):
    """Round-8 advice: a leftover `bucket=K.old` dir (pre-rewrite crash
    window) must not break the bootstrap's bucket-id parse — only exact
    `bucket=<int>` names are buckets — and vacuum removes the junk."""
    table = _mk_table(spark, tmp_path)
    junk = f"{table}/data/bucket=3.old"
    os.makedirs(junk, exist_ok=True)
    with open(f"{junk}/leftover.parquet", "w") as fh:
        fh.write("junk")
    shutil.rmtree(f"{table}/_mlog")  # force a re-bootstrap
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    sink.upsert_batch(_row_df(spark, 1, 999, "up"), batch_id=5)  # no raise
    assert sink.row_count() == 40
    sink.vacuum(retention_sec=0)
    assert not os.path.exists(junk)


def test_num_buckets_mismatch_refuses_loudly(spark, tmp_path):
    """Round-8 advice: a sink constructed with a different bucket count
    over an existing table would hash keys to the WRONG buckets and
    merge/prune incorrectly — refuse at manifest load."""
    table = _mk_table(spark, tmp_path, buckets=8)
    wrong = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=16)
    with pytest.raises(ValueError, match="num_buckets"):
        wrong.upsert_batch(_row_df(spark, 1, 1, "x"), batch_id=9)
    # reads refuse too (a wrong-bucket viewer would mis-prune deletes)
    with pytest.raises(ValueError, match="num_buckets"):
        wrong.row_count()


def test_stress_many_concurrent_batches_converge(spark, tmp_path):
    """Unsynchronized stress: two writers push interleaved distinct
    batches; every batch commits exactly once and the final table is
    the union of all upserts."""
    table = _mk_table(spark, tmp_path, n=10)
    a = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    b = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    errs = []

    def writer(sink, ids):
        try:
            for bid in ids:
                sink.upsert_batch(
                    _row_df(spark, 1000 + bid, bid, f"w{bid}"), batch_id=bid
                )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=(a, [1, 3, 5]))
    t2 = threading.Thread(target=writer, args=(b, [2, 4, 6]))
    t1.start(), t2.start()
    t1.join(300), t2.join(300)
    assert not errs, errs
    bids = [d["batch_id"] for d in _deltas(table) if d["batch_id"] is not None]
    assert sorted(bids) == [0, 1, 2, 3, 4, 5, 6]  # once each, ever
    viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    got = {r["k"]: r["v"] for r in viewer.read().collect()}
    assert all(got[1000 + i] == f"w{i}" for i in range(1, 7))
    assert viewer.row_count() == 16


def test_vacuum_during_live_writer_stage_to_link_window(spark, tmp_path):
    """Round-9 verdict task: vacuum runs DURING another writer's
    stage-to-link window. The writer's staged files are unlisted (they
    look exactly like crashed-writer orphans), but they are seconds
    old — retention-aged vacuum must leave them alone, and the
    writer's commit must read back intact afterwards. (With
    retention=0 this vacuum would delete the staged files between
    staging and the commit link, after which the winning commit
    references missing files — the round-9 hazard.)"""
    import time

    table = _mk_table(spark, tmp_path)
    barrier = threading.Barrier(2)
    w = RacingSink(
        spark, table, key_cols=["k"], num_buckets=8, barrier=barrier
    )
    t = threading.Thread(
        target=w.upsert_batch, args=(_row_df(spark, 900, 1, "live"), 77)
    )
    t.start()
    deadline = time.time() + 180
    while barrier.n_waiting < 1:  # writer parked: staged, pre-link
        assert time.time() < deadline, "writer never reached the barrier"
        time.sleep(0.01)
    viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    m = viewer._load_manifest()
    listed = {
        f for ent in m["buckets"].values() for f in ent["files"]
    }
    on_disk = {
        f
        for d in os.listdir(f"{table}/data")
        if d.startswith("bucket=")
        for f in os.listdir(f"{table}/data/{d}")
        if f.endswith(".parquet")
    }
    staged_now = on_disk - listed
    assert staged_now, "hazard not exercised: no staged files visible"
    assert viewer.vacuum() == 0  # default retention: staged files kept
    barrier.wait(timeout=60)  # release the writer's commit link
    t.join(timeout=300)
    assert not t.is_alive()
    got = {r["k"]: r["v"] for r in viewer.read().collect()}
    assert got[900] == "live"
    assert viewer.row_count() == 41
    # the writer's committed bucket holds exactly its manifest-listed
    # files — nothing the commit references was vacuumed away
    m2 = viewer._load_manifest()
    for k, ent in m2["buckets"].items():
        live = f"{table}/data/bucket={k}"
        assert all(os.path.isfile(f"{live}/{f}") for f in ent["files"])


def test_fold_racing_stale_writer_redoes_from_fresh_snapshot(spark, tmp_path):
    """Round-9 verdict task: a checkpoint FOLD races a writer holding a
    pre-fold snapshot. The stale writer's commit link lands on a seq
    the fold covered; because folded records are RETAINED (log
    retention), the link fails with EEXIST, the writer sees
    ckpt_seq > read_seq ("compaction hid the interval"), redoes the
    merge from the fresh snapshot, and converges — its delta lands
    ABOVE the checkpoint where readers replay it. (If the fold had
    removed the folded names immediately, the stale link would SUCCEED
    at a seq every reader skips: a silently lost write.)"""
    import time

    table = _mk_table(spark, tmp_path)
    barrier = threading.Barrier(2)
    a = RacingSink(
        spark, table, key_cols=["k"], num_buckets=8, barrier=barrier
    )
    t = threading.Thread(
        target=a.upsert_batch, args=(_row_df(spark, 901, 1, "stale"), 81)
    )
    t.start()
    deadline = time.time() + 180
    while barrier.n_waiting < 1:  # A parked: snapshot + staged, pre-link
        assert time.time() < deadline, "writer never reached the barrier"
        time.sleep(0.01)
    # B pushes the head past A's snapshot and forces a FOLD
    b = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    b._LOG_COMPACT_EVERY = 2
    for i in range(3):
        b.upsert_batch(_row_df(spark, 910 + i, i, f"b{i}"), batch_id=82 + i)
    names = os.listdir(f"{table}/_mlog")
    ckpt_seqs = [
        int(n.split(".")[0]) for n in names if n.endswith(".ckpt.json")
    ]
    assert ckpt_seqs and max(ckpt_seqs) > 1, "fold did not happen"
    barrier.wait(timeout=60)  # release A's (now stale) commit attempt
    t.join(timeout=300)
    assert not t.is_alive()
    assert a.stage_calls == 2  # conflict detected -> merge redone
    viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    got = {r["k"]: r["v"] for r in viewer.read().collect()}
    assert got[901] == "stale"
    assert all(got[910 + i] == f"b{i}" for i in range(3))
    assert viewer.row_count() == 44
    # A's committed delta is visible to replay: strictly above the fold
    deltas = [
        int(n.split(".")[0])
        for n in os.listdir(f"{table}/_mlog")
        if n.endswith(".delta.json")
    ]
    a_seq = max(deltas)
    assert a_seq > max(ckpt_seqs)


def test_stress_loop_repeated_runs_converge(spark, tmp_path):
    """The round-10 verdict asked the once-observed stress flake to be
    pinned or cleared. A 100-iteration loop of the unsynchronized
    two-writer stress scenario (tools/stress_loop_manifest.py, original
    shape: one sink INSTANCE per thread) ran green on 2026-08-16
    against the round-11 sink — every batch committed exactly once in
    all 100 runs; the within-batch-dedup suspicion did not reproduce.
    Writing the loop DID surface a real adjacent race (shared-instance
    concurrent writes, pinned by the next test and fixed with the
    instance write lock). This test keeps a small always-on loop in CI
    (3 iterations); scale to the full reproduction via
    MOTORWAY_STRESS_ITERS=100."""
    import os as _os

    iters = int(_os.environ.get("MOTORWAY_STRESS_ITERS", "3"))
    for i in range(iters):
        table = str(tmp_path / f"looptab{i}")
        seed = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
        seed.upsert_batch(
            spark.createDataFrame(
                [Row(k=j, ts=j * 10, v=f"v{j}") for j in range(10)],
                "k bigint, ts bigint, v string",
            ),
            batch_id=0,
        )
        a = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
        b = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
        errs = []

        def writer(sink, ids):
            try:
                for bid in ids:
                    sink.upsert_batch(
                        _row_df(spark, 1000 + bid, bid, f"w{bid}"),
                        batch_id=bid,
                    )
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        t1 = threading.Thread(target=writer, args=(a, [1, 3, 5]))
        t2 = threading.Thread(target=writer, args=(b, [2, 4, 6]))
        t1.start(), t2.start()
        t1.join(300), t2.join(300)
        assert not errs, errs
        bids = [
            d["batch_id"] for d in _deltas(table) if d["batch_id"] is not None
        ]
        assert sorted(bids) == [0, 1, 2, 3, 4, 5, 6], f"iter {i}: {bids}"
        viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
        got = {r["k"]: r["v"] for r in viewer.read().collect()}
        assert all(got[1000 + j] == f"w{j}" for j in range(1, 7)), f"iter {i}"
        assert viewer.row_count() == 16, f"iter {i}"


def test_shared_instance_concurrent_writes_are_serialized(spark, tmp_path):
    """SIX threads pushing distinct batches through TWO shared sink
    instances (three threads each). Before the instance write lock this
    lost rows reproducibly (~1 in 2 runs): a commit applied its entries
    onto a sibling thread's in-flight snapshot cache, and the next
    record's view dropped them. Separate instances still interleave
    freely through the log protocol — the lock only serializes ONE
    instance's own commits."""
    table = _mk_table(spark, tmp_path, n=10)
    a = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    b = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    _race(
        [
            (a, _row_df(spark, 1000 + bid, bid, f"w{bid}"), bid)
            for bid in (1, 3, 5)
        ]
        + [
            (b, _row_df(spark, 1000 + bid, bid, f"w{bid}"), bid)
            for bid in (2, 4, 6)
        ]
    )
    bids = [d["batch_id"] for d in _deltas(table) if d["batch_id"] is not None]
    assert sorted(bids) == [0, 1, 2, 3, 4, 5, 6]
    viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    got = {r["k"]: r["v"] for r in viewer.read().collect()}
    assert all(got[1000 + j] == f"w{j}" for j in range(1, 7))
    assert viewer.row_count() == 16


@pytest.mark.parametrize("op", ["delete_where", "merge"])
def test_vanished_input_file_redoes_against_healed_snapshot(
    spark, tmp_path, op
):
    """A listed file that vanishes under a writer's scan is a redo, not
    an error: the second attempt heals the bucket (its surviving files
    are re-listed) and commits the write on top of it."""
    table = _mk_table(spark, tmp_path)
    sink = VanishingSink(spark, table, key_cols=["k"], num_buckets=8)
    sink.armed = True
    if op == "delete_where":
        n = sink.delete_where(F.col("k") < 5)
        want = {k: f"v{k}" for k in range(5, 40)}
        assert n == len(set(range(5)) - sink.lost)
    else:
        sink.upsert_batch(_row_df(spark, 1, 999, "upd"), batch_id=1)
        want = {k: f"v{k}" for k in range(40)}
        want[1] = "upd"
    assert sink.attempts == 2
    assert sink.lost
    for k in sink.lost - {1}:
        want.pop(k, None)
    # the redo may take the append path: the healed bucket's re-listed
    # key range can exclude k=1
    assert [d["op"] for d in _deltas(table)] in (
        (["append", "heal", "delete"],)
        if op == "delete_where"
        else (["append", "heal", "merge"], ["append", "heal", "append"])
    )
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert got == want
