"""Run Structured Streaming queries to completion over finite fixtures.

``stream_events`` exposes the events fixture as a *streaming* DataFrame
(file-stream source with an explicit schema — streaming scans can't
infer). ``run_stream_to_memory`` drives any streaming DataFrame through
a real StreamingQuery into a memory sink with ``Trigger.AvailableNow``
and returns the materialized result. This is how the engine's streaming
operators get the same DuckDB-oracle treatment as batch ones: the
streaming plan executes for real (state store, incremental execution),
the finite source drains, and the sink table is compared to batch SQL.

Drain contract — every drain in the engine (``start_and_drain``,
``run_stream_to_memory``, ``run_foreach_batch``, ``run_stream_to_upsert``)
runs through one loop, ``_drain``:

- it waits up to ``_DRAIN_TIMEOUT_S`` for the query to terminate and
  raises ``TimeoutError`` when it has not (a timed-out drain would
  otherwise hand back a silently partial sink); the ``process_all`` mode
  waits with ``processAllAvailable()`` instead;
- it retries exactly once when the error text contains "Python worker"
  (Spark's hardcoded 10 s connect-back timeout for a freshly forked
  worker, missed under heavy machine load), re-raises anything else, and
  stops the query on failure;
- the retry rule is set by the sink kind's query factory: a memory sink
  restarts under a fresh query name (a memory table does not survive a
  restart); a table sink (``foreachBatch``) resumes the call's own
  checkpoint, so the failed batch replays under its original id.
  ``start_and_drain`` callers pass their own factory and with it the
  rule.

``run_stream_to_memory`` and ``run_foreach_batch`` scope
``spark.sql.shuffle.partitions`` to 8 for the run (``scoped_conf``):
each stateful streaming query materializes one state-store instance per
shuffle partition per trigger, so at oracle scale the default 32+
partitions are pure fixed overhead; results are partition-count
independent. ``start_and_drain`` keeps the session's width.

``scratch_dir`` owns the temp dirs of the stream-backed queries: a call
removes the dir the previous call for the same tag made.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from motorway_spark.catalog import normalize_events_ts

#: Upper bound on one drain. It only turns a hang into an error, so it
#: is sized for the slowest drain in use: sf10 stream_dedup_minhash
#: (500k docs) takes ~340 s on local[32].
_DRAIN_TIMEOUT_S = 600
_SHUFFLE_PARTITIONS = "8"

_SCRATCH_DIRS: dict[str, str] = {}


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the body, then restore its previous value
    (or unset it if it had none)."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def _drain(start_query, process_all: bool = False):
    """The one drain loop (module docstring): start via the factory,
    wait, retry once on the Python-worker connect flake. Returns the
    drained query."""
    for attempt in (1, 2):
        query = start_query()
        try:
            if process_all:
                query.processAllAvailable()
            elif not query.awaitTermination(_DRAIN_TIMEOUT_S):
                raise TimeoutError(
                    f"stream did not drain within {_DRAIN_TIMEOUT_S}s"
                )
            return query
        except Exception as exc:  # noqa: BLE001
            query.stop()
            if attempt == 1 and "Python worker" in str(exc):
                continue
            raise


def scratch_dir(tag: str, prefix: str) -> str:
    """A fresh temp dir for ``tag``. The dir the previous call for the
    same tag made is removed first, so a long session holds at most one
    per tag; a frame returned from it must be materialized
    (``localCheckpoint(eager=True)``) to outlive the next call."""
    prev = _SCRATCH_DIRS.pop(tag, None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    _SCRATCH_DIRS[tag] = path = tempfile.mkdtemp(prefix=prefix)
    return path


def _staging_root() -> str:
    """Per-user staging root: multi-user hosts must not collide on the
    ownership (or contents) of a world-shared /tmp path."""
    import getpass
    import os

    try:
        user = getpass.getuser()
    except Exception:  # noqa: BLE001 - no passwd entry in some containers
        user = str(os.getuid()) if hasattr(os, "getuid") else "anon"
    return f"/tmp/motorway_stream_{user}"


def _staging_dir(sf_dir: str, table: str = "events") -> str:
    """File-stream sources require a *directory*; the fixtures are bare
    files. Stage a directory with a symlink to the table's parquet
    (read-only fixtures stay untouched). The stage path hashes the full
    sf_dir so two fixture dirs with the same basename never share (or
    inherit a stale) symlink."""
    import os

    from motorway_spark.catalog import sf_tag

    stage = f"{_staging_root()}/{sf_tag(sf_dir)}/{table}"
    os.makedirs(stage, exist_ok=True)
    target = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(target):
        # Spark-written fixture: a DIRECTORY of part files. The file
        # stream source lists the load path non-recursively, so a
        # single symlink to the dir yields zero rows — symlink each
        # part file into the stage instead (degenerate-input smoke).
        parts = sorted(
            p for p in os.listdir(target) if p.endswith(".parquet")
        )
        targets = {f"part{i}.parquet": f"{target}/{p}" for i, p in enumerate(parts)}
    else:
        targets = {f"{table}.parquet": target}
    for name, tgt in targets.items():
        link = f"{stage}/{name}"
        if os.path.islink(link) and os.readlink(link) != tgt:
            os.remove(link)
        if not os.path.exists(link):
            os.symlink(tgt, link)
    return stage


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture as a streaming DataFrame with ``ts`` normalized to
    TIMESTAMP exactly like the batch catalog (shared
    :func:`normalize_events_ts`), so stream and batch plans see identical
    values and types whatever parquet flavor the fixture was written
    with. Streaming scans can't infer a schema, so the declared schema is
    taken from a batch read of the same file — that way it tracks the
    fixture flavor (bigint for nanos-as-long, timestamp_ntz for µs NTZ)
    instead of hardcoding one."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_staging_dir(sf_dir))
    )
    return normalize_events_ts(raw)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents fixture as a streaming DataFrame — the ingest shape of
    a streaming corpus pipeline (each file drop = one micro-batch of new
    documents). Schema is taken from a batch read so it tracks the
    fixture flavor, exactly like :func:`stream_events`."""
    schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_staging_dir(sf_dir, table="documents"))
    )


def stream_embeddings(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """embeddings fixture as a streaming DataFrame SPLIT into
    ``n_files`` parquet files with ``maxFilesPerTrigger=1``, so the
    drain runs ``n_files`` real micro-batches — the ingest shape of an
    embedding pipeline (each arriving shard = one incremental index
    MERGE), not a single-batch replay. The split is RANGE-partitioned
    on vec_id — shards arrive as id ranges, how production embedding
    shards actually land — which lets a manifest-sink consumer prove
    per-shard key-disjointness from footer stats and ride the append
    fast path after the first shard. The split is staged once per
    (fixture, n_files) under /tmp and reused; HOW rows split across
    batches is irrelevant to consumers' RESULTS by design (keyed
    MERGEs of deterministic per-row values converge to the same table
    under any batching — only the ingest COST changes)."""
    import os

    from pyspark.sql import functions as F

    from motorway_spark.catalog import sf_tag

    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    stage = f"{_staging_root()}/{sf_tag(sf_dir)}/embeddings_rsplit{n_files}"
    if not os.path.isdir(stage):
        # Stage into a unique temp dir, then atomically rename into
        # place: a second session racing this one either wins the
        # rename (first mover) or sees the complete staged dir — never
        # a half-written split, and never part files mutating under an
        # ACTIVE reader (the overwrite-in-place it replaces could
        # delete files while another session's stream was mid-drain).
        tmp = f"{stage}.tmp.{uuid.uuid4().hex[:12]}"
        (
            spark.read.parquet(src)
            .repartitionByRange(n_files, F.col("vec_id"))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, stage)
        except OSError:
            # lost the race to a concurrent stager: theirs is complete
            shutil.rmtree(tmp, ignore_errors=True)
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(stage)
    )


def start_and_drain(start_query):
    """Start a StreamingQuery via ``start_query()`` and drain it with
    ``processAllAvailable`` under the drain contract (module docstring).
    The zero-arg factory sets the retry rule: a FRESH query name per
    call for a memory sink, its own ``checkpointLocation`` for a table
    sink. The session's shuffle width is left as it is. Returns the
    drained, still-running query (caller stops it)."""
    return _drain(start_query, process_all=True)


def run_stream_to_memory(
    streaming_df: DataFrame,
    output_mode: str = "complete",
    drain: str = "available_now",
) -> DataFrame:
    """Execute a streaming DataFrame to a memory sink until the finite
    source drains; return the sink contents.

    ``drain``: "available_now" (default) uses Trigger.AvailableNow —
    correct for built-in sources. Python Data Sources do NOT support
    AvailableNow (Spark silently falls back to ONE micro-batch, so a
    source with per-trigger/in-flight caps surfaces only its first
    batch — the sf0.1 sweep caught exactly this truncation); for those
    pass "process_all", which runs the default micro-batch trigger and
    drains with ``processAllAvailable()`` so commits release the caps
    batch by batch.

    A memory table does not survive a restart, so each attempt writes
    under a fresh query name (a partially-filled append sink is never
    reused) and the name of the attempt that drained is returned."""
    spark = streaming_df.sparkSession
    names: list[str] = []

    def start():
        names.append(f"mem_{uuid.uuid4().hex[:12]}")
        writer = (
            streaming_df.writeStream.format("memory")
            .queryName(names[-1])
            .outputMode(output_mode)
        )
        if drain == "available_now":
            writer = writer.trigger(availableNow=True)
        return writer.start()

    with scoped_conf(spark, "spark.sql.shuffle.partitions", _SHUFFLE_PARTITIONS):
        _drain(start, process_all=drain == "process_all").stop()
    return spark.table(names[-1])


def run_foreach_batch(
    streaming_df: DataFrame,
    process_batch,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Drain a streaming DataFrame through ``foreachBatch(process_batch)``
    with Trigger.AvailableNow, checkpointed at ``checkpoint_dir``.

    A retry resumes that checkpoint: the batches the failed attempt
    committed are not re-run, and the one it was inside replays under
    its ORIGINAL batch id and the same input files. ``process_batch``
    must therefore make a replayed batch id land once — a sink's
    batch-id WAL (``UpsertParquetSink``) or a merge that is idempotent
    by construction (set union). Restarting on a fresh checkpoint
    instead would renumber batches from 0 against the sink's WAL, and
    the file source's batch composition is not guaranteed stable
    between attempts, so a not-yet-ingested file could land under a
    WAL-skipped id and silently drop."""

    def start():
        return (
            streaming_df.writeStream.outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(process_batch)
            .start()
        )

    spark = streaming_df.sparkSession
    with scoped_conf(spark, "spark.sql.shuffle.partitions", _SHUFFLE_PARTITIONS):
        _drain(start)


def run_stream_to_upsert(
    streaming_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    output_mode: str = "update",
    num_buckets: int = 16,
) -> DataFrame:
    """Drive a streaming DataFrame through a keyed ``UpsertParquetSink``
    (``foreachBatch`` MERGE) until the finite source drains; return the
    parquet-backed table.

    This is the PRODUCTION stream-to-serving split: the sink is a real
    table (hash-bucketed parquet), so downstream batch passes can
    self-join / re-aggregate it freely — the memory sink can't be
    self-joined (MemoryPlan breaks DeduplicateRelations) and is
    driver-resident anyway. Update-mode emissions are safe because the
    upsert keys on ``key_cols`` and its within-/across-batch conflict
    resolution keeps the latest (highest-sorting) value per key, so a
    window re-emitted with a larger count converges to the final one.
    Replayed micro-batches are exactly-once no-ops via the sink's batch
    WAL (sinks/upsert.py). The query's checkpoint lives in a temp dir
    made for this call (a retry resumes it) and removed on return."""
    from motorway_spark.sinks.upsert import UpsertParquetSink

    spark = streaming_df.sparkSession
    sink = UpsertParquetSink(spark, table_dir, key_cols=key_cols, num_buckets=num_buckets)
    ckpt = tempfile.mkdtemp(prefix="upsert_ckpt_")
    try:
        run_foreach_batch(streaming_df, sink.foreach_batch(), ckpt, output_mode)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    out = sink.read()
    if out is None:
        raise RuntimeError(f"stream produced no batches into {table_dir}")
    return out
