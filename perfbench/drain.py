"""Workload ``stream_wordcount_drain``: closed-loop drain of a backlog.

The reference's flagship topology built with ``Pipeline``: a parquet
file-stream ramp over a pre-written backlog of sentence files (one file
per trigger), ``SplitExplode`` into words, ``KeyedCount`` grouped on
``word`` (state store), and ``UpsertParquetSink.upsert_batch`` keyed on
``word`` (copy-on-write merge). Words follow a Zipf law over a large
vocabulary, so state and table keep growing and every trigger touches
every bucket.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench.harness import (Run, beyond, fresh_reads, median, nearest_rank,
                               progress_phases, sink_figures, wait_until)

SENTENCES_PER_FILE = 10_000
VOCAB = 200_000
ZIPF_S = 1.05
WARMUP_BATCHES = 2
#: the backlog covers the window at up to this many sentences per second
MAX_RATE = 20_000


def make_backlog(src: str, n_files: int, per_file: int, vocab: int, seed: int):
    """Write ``n_files`` parquet files of ``per_file`` sentences each and
    return the word ids of each file (the generator's own counts).
    Modification times increase with the file index, so the file
    source (oldest first, one file per trigger) reads file i in batch i."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    words = np.array([f"w{i:06d}" for i in rng.permutation(vocab)], dtype=object)
    weights = 1.0 / np.arange(1, vocab + 1) ** ZIPF_S
    weights /= weights.sum()
    os.makedirs(src, exist_ok=True)
    base = time.time() - 10 * n_files
    per_file_ids = []
    for i in range(n_files):
        lengths = rng.integers(6, 15, per_file)
        ids = rng.choice(vocab, size=int(lengths.sum()), p=weights).astype(np.int32)
        toks = words[ids]
        cuts = np.cumsum(lengths)[:-1]
        sentences = [" ".join(part) for part in np.split(toks, cuts)]
        path = os.path.join(src, f"part-{i:05d}.parquet")
        pq.write_table(pa.table({"sentence": sentences}), path)
        os.utime(path, (base + 10 * i, base + 10 * i))
        per_file_ids.append(ids)
    return words, per_file_ids


def drain(r: Run, seconds: float, per_file: int = SENTENCES_PER_FILE,
          vocab: int = VOCAB, corrupt: bool = False) -> dict:
    """Drain a fresh backlog in ``r``'s session for ``seconds`` after the
    warm-up batches, then check every committed count (``corrupt`` adds
    one to a count first: the harness self-test). Its spans, job groups
    and work directory are all named ``drain``, so it can follow another
    stream in the same run. Returns its figures: ``rows_per_s`` (over the
    median interval), ``intervals_ms`` (between commits), ``upsert_ms``,
    ``compile_ms``, ``check_ms``, ``t_start`` (the end of the warm-up),
    ``lag_records``, ``backlog_files``, ``window_wall_ms``, the sink's
    figures (``sinks.*``) and, when traced, the query's progress
    figures; plus ``table`` and ``expect`` for a read."""
    from motorway_spark.intersections import KeyedCount, SplitExplode
    from motorway_spark.pipeline import Pipeline
    from motorway_spark.planguard import assert_plan_safe
    from motorway_spark.sinks import UpsertParquetSink

    spark = r.spark
    tr = r.tracer
    src, table, ckpt = (str(r.work / "drain" / d) for d in ("backlog", "table", "ckpt"))
    n_files = WARMUP_BATCHES + max(2, -(-int(seconds) * MAX_RATE // per_file))
    with tr.span("drain.inputs"):
        words, file_ids = make_backlog(src, n_files, per_file, vocab, r.seed)

    t0 = time.perf_counter()
    with tr.span("drain.pipeline.compile"):
        p = Pipeline(spark)
        p.add_ramp(spark.readStream.schema("sentence STRING")
                   .option("maxFilesPerTrigger", 1).parquet(src), "sentence")
        p.add_intersection(SplitExplode("sentence", output="word"), "sentence", "word")
        p.add_intersection(KeyedCount("word", output="cnt"), "word", "counts",
                           grouping_key="word")
        counts = p.compile()["counts"]
    t1 = time.perf_counter()
    with tr.span("drain.planguard.check"):
        assert_plan_safe(counts)
    t2 = time.perf_counter()

    sink = UpsertParquetSink(spark, table, key_cols=["word"], num_buckets=16)
    commits: list[tuple[int, float, float]] = []  # (batch, start, end)

    def upsert(batch_df, batch_id):
        r.job_group(f"perfbench:drain:{batch_id}")
        t_a = time.perf_counter()
        with tr.span("drain.upsert_batch", batch=batch_id):
            sink.upsert_batch(batch_df, batch_id)
        commits.append((batch_id, t_a, time.perf_counter()))

    query = (counts.writeStream.outputMode("update").foreachBatch(upsert)
             .option("checkpointLocation", ckpt).start())
    try:
        if not wait_until(lambda: len(commits) >= WARMUP_BATCHES
                          or query.exception() is not None, timeout=150):
            raise RuntimeError("warm-up batches did not commit")
        t_start = commits[WARMUP_BATCHES - 1][2]
        wall0 = time.time()
        with tr.span("drain.window"):
            time.sleep(max(0.0, t_start + seconds - time.perf_counter()))
            query.stop()
        wall1 = time.time()
    finally:
        if query.isActive:
            query.stop()
    err = query.exception()
    if err is not None:
        raise RuntimeError(f"drain query failed: {err}")

    timed = [c for c in commits if c[0] >= WARMUP_BATCHES and c[2] <= t_start + seconds]
    ends = [t_start] + [c[2] for c in timed]
    intervals_ms = [1000 * (b - a) for a, b in zip(ends, ends[1:])]

    # correctness, outside the timed region
    committed = sorted(h["batch_id"] for h in sink.history()
                       if h["op"] in ("append", "merge"))
    r.check(committed == list(range(len(committed))),
            f"committed batch ids not contiguous: {committed[:5]}...")
    expected = np.bincount(np.concatenate(file_ids[:len(committed)]), minlength=vocab)
    got = sink.read().toPandas()
    index = {w: i for i, w in enumerate(words)}
    actual = np.zeros(vocab, dtype=np.int64)
    unknown = [w for w in got["word"] if w not in index]
    for w, c in zip(got["word"], got["cnt"]):
        if w in index:
            actual[index[w]] = c
    if corrupt and len(got):
        actual[index[got["word"].iloc[0]]] += 1
    bad = np.flatnonzero(actual != expected)
    r.tally(int(((expected > 0) | (actual > 0)).sum()) + len(unknown),
            len(bad) + len(unknown),
            [f"count[{words[i]}]: table={actual[i]} generator={expected[i]}" for i in bad[:5]]
            + [f"word {w!r} was never generated" for w in unknown[:5]])

    figures = {
        # one file per batch: a batch's rows over the median interval, so
        # one batch stalled by the host does not set the rate
        "rows_per_s": 1000 * per_file / median(intervals_ms) if intervals_ms else 0.0,
        "intervals_ms": intervals_ms,
        "upsert_ms": median(1000 * (c[2] - c[1]) for c in timed),
        "compile_ms": 1000 * (t1 - t0),
        "check_ms": 1000 * (t2 - t1),
        "t_start": t_start,
        "lag_records": float(per_file * (n_files - len(committed))),
        "backlog_files": n_files,
        "window_wall_ms": (wall0 * 1000, wall1 * 1000),
        "table": table,
        "expect": (int((expected > 0).sum()), int(expected.sum())),
    }
    figures.update(sink_figures(
        sink, {c[0] for c in timed},
        sum(os.path.getsize(os.path.join(src, f)) for f in sorted(os.listdir(src))[:len(committed)])))
    if r.listener is not None:
        figures.update(progress_phases(
            [e for e in r.listener.events if e.get("id") == str(query.id)
             and int(e.get("batchId", -1)) >= WARMUP_BATCHES]))
    return figures


def run(r: Run, per_file: int = SENTENCES_PER_FILE, vocab: int = VOCAB,
        corrupt: bool = False) -> dict[str, float]:
    """The drain on its own: drain for ``r.seconds``, then time a read
    of the word table; return the end-to-end figures and fill
    ``r.layers``."""
    r.start_session()
    f = drain(r, r.seconds, per_file, vocab, corrupt)
    read_ms = fresh_reads(r, f.pop("table"), "SELECT COUNT(*) AS n, SUM(cnt) AS total FROM fresh",
                          expect=f.pop("expect"))
    intervals = f.pop("intervals_ms")
    r.layers.update({
        "pipeline.compile_ms": f.pop("compile_ms"),
        "planguard.check_ms": f.pop("check_ms"),
        "sinks.upsert_ms": f.pop("upsert_ms"),
        "sources.lag_records": f.pop("lag_records"),
    })
    setup_s = f.pop("t_start") - r.t_process
    r.info.update({
        "drain_rows_per_s": f["rows_per_s"],
        "batch_p50_ms": median(intervals),
        "batch_p95_ms": nearest_rank(intervals, 95),
        "batches_timed": len(intervals),
        "samples_beyond_p95": beyond(intervals, 95),
        "backlog_files": f.pop("backlog_files"),
        "window_wall_ms": f.pop("window_wall_ms"),
    })
    rows_per_s = f.pop("rows_per_s")
    r.layers.update(f)
    return {
        "setup_s": setup_s,
        "throughput_per_s": rows_per_s,
        "op_p50_ms": median(intervals),
        "op_p95_ms": nearest_rank(intervals, 95),
        "read_ms": read_ms,
    }
