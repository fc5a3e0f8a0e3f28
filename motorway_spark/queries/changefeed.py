"""Changefeed (CDC) registry queries — the manifest table as a change
SOURCE, closing the reference's end-to-end change-mover loop
(``/root/reference/motorway/pipeline.py:65-92``: ramp -> transform ->
sink; here: sink table -> changefeed -> downstream consumer).

Both queries drive the same deterministic three-commit scenario on a
temp ``UpsertParquetSink`` table keyed by ``o_custkey``:

- commit 1 (append): per-customer aggregates over pre-1999 orders;
- commit 2 (merge): full-history aggregates for customers with a
  post-cut order — updates for the overlap (pre/post images), inserts
  for late-only customers, carried-over rows of rewritten buckets
  emitting NOTHING;
- commit 3 (delete): customers whose early order count is exactly 1,
  emitting their CURRENT (possibly merged) values as delete preimages.

The DuckDB oracle reproduces the full change algebra from ``orders``
alone, so a hash-equal result proves insert/update/delete
classification, preimage/postimage values, carried-row suppression,
and commit attribution in one gate. ``table_changefeed`` checks the
batch ``read_changes``; ``stream_table_changefeed`` checks the
streaming ``manifest_changefeed`` source end-to-end (offsets = commit
seqs, executor-side Arrow diff) against the SAME oracle — streaming/
batch parity on the feed itself.

At 100 TB: the feed's cost is O(changed buckets), not O(table) — an
append commit streams exactly its added files; a merge commit diffs
only its rewritten buckets, each (commit, bucket) an independent
partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from motorway_spark.catalog import Catalog
from motorway_spark.queries.helpers import dec, sql_dsum
from motorway_spark.queries.registry import query
from motorway_spark.streaming.runner import (
    run_stream_to_memory,
    scratch_dir,
    start_and_drain,
)

_CUT = "TIMESTAMP '1999-01-01 00:00:00'"

_CDC_ORACLE = f"""
WITH early AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         {sql_dsum('o_totalprice', 'total_spend')}
  FROM orders WHERE o_orderdate < {_CUT}
  GROUP BY o_custkey),
late_keys AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= {_CUT}),
fullagg AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         {sql_dsum('o_totalprice', 'total_spend')}
  FROM orders GROUP BY o_custkey),
late_full AS (
  SELECT f.* FROM fullagg f JOIN late_keys lk ON f.o_custkey = lk.o_custkey),
updk AS (
  SELECT e.o_custkey FROM early e
  JOIN late_keys lk ON e.o_custkey = lk.o_custkey),
state2 AS (
  SELECT * FROM late_full
  UNION ALL
  SELECT e.* FROM early e
  WHERE NOT EXISTS (SELECT 1 FROM late_keys lk
                    WHERE lk.o_custkey = e.o_custkey)),
delk AS (SELECT o_custkey FROM early WHERE n_orders = 1)
SELECT o_custkey, n_orders, total_spend,
       'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_seq
FROM early
UNION ALL
SELECT lf.o_custkey, lf.n_orders, lf.total_spend,
       'insert', CAST(2 AS BIGINT)
FROM late_full lf
WHERE NOT EXISTS (SELECT 1 FROM early e WHERE e.o_custkey = lf.o_custkey)
UNION ALL
SELECT e.o_custkey, e.n_orders, e.total_spend,
       'update_preimage', CAST(2 AS BIGINT)
FROM early e JOIN updk u ON e.o_custkey = u.o_custkey
UNION ALL
SELECT f.o_custkey, f.n_orders, f.total_spend,
       'update_postimage', CAST(2 AS BIGINT)
FROM late_full f JOIN updk u ON f.o_custkey = u.o_custkey
UNION ALL
SELECT s.o_custkey, s.n_orders, s.total_spend,
       'delete', CAST(3 AS BIGINT)
FROM state2 s JOIN delk d ON s.o_custkey = d.o_custkey
"""

_OUT_COLS = ["o_custkey", "n_orders", "total_spend",
             "_change_type", "_commit_seq"]


def _build_table(spark: SparkSession, sf_dir: str, tag: str):
    """The three-commit scenario; returns the sink. Its table dir is
    ``scratch_dir(tag)``: the previous invocation's is removed."""
    from motorway_spark.sinks import UpsertParquetSink

    orders = Catalog(spark, sf_dir).table("orders")
    cut = F.expr(_CUT)
    is_early = F.col("o_orderdate") < cut
    is_late = F.col("o_orderdate") >= cut
    # ONE orders scan + ONE shuffle feeds all three commits: the early
    # aggregate, the late-customer full aggregate, and the delete-key
    # derivation are all slices of a single per-customer conditional
    # aggregate (guide §1.2/§2.4 — the previous form scanned orders
    # three times: early agg, late-keys distinct, full agg + semi
    # join). Bit-identical by construction: SUM ignores NULLs, so
    # sum(CASE WHEN early THEN dec(price) END) over all rows equals
    # sum(dec(price)) over the early-filtered rows — decimal addition
    # is exact and order-free — and count(CASE ...) is the filtered
    # COUNT(*). Membership tests (__n_early > 0, __n_late > 0) are
    # exactly the groupBy-on-filtered / late_keys-semi-join sets.
    # Persisted: customer-count-sized, released after the last commit.
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("__n_total"),
            F.sum(dec("o_totalprice")).alias("__sd_total"),
            F.count(F.when(is_early, F.lit(1))).alias("__n_early"),
            F.sum(F.when(is_early, dec("o_totalprice"))).alias("__sd_early"),
            F.count(F.when(is_late, F.lit(1))).alias("__n_late"),
        )
        .persist()
    )
    early = base.filter(F.col("__n_early") > 0).select(
        "o_custkey",
        F.col("__n_early").alias("n_orders"),
        F.round(F.col("__sd_early").cast("double"), 4).alias("total_spend"),
    )
    late_full = base.filter(F.col("__n_late") > 0).select(
        "o_custkey",
        F.col("__n_total").alias("n_orders"),
        F.round(F.col("__sd_total").cast("double"), 4).alias("total_spend"),
    )
    table_dir = scratch_dir(f"cdc_{tag}", prefix=f"cdc_{tag}_")
    sink = UpsertParquetSink(
        spark, table_dir, key_cols=["o_custkey"], num_buckets=16
    )
    try:
        sink.upsert_batch(early, batch_id=0)  # commit seq 1 (append)
        sink.upsert_batch(late_full, batch_id=1)  # commit seq 2 (merge)
        sink.delete_keys(  # commit seq 3
            base.filter(F.col("__n_early") == 1).select("o_custkey")
        )
    finally:
        base.unpersist()
    return sink


@query("table_changefeed", oracle=_CDC_ORACLE)
def table_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch Change Data Feed: ``read_changes()`` over the
    three-commit scenario — every committed row change, exactly once,
    classified and commit-stamped; Delta Lake's ``table_changes``
    recomputed from the manifest log (sinks/upsert.py). The oracle
    derives the identical change set from ``orders`` with plain ANSI
    algebra."""
    sink = _build_table(spark, sf_dir, "batch")
    out = sink.read_changes().select(*_OUT_COLS)
    # eager checkpoint: the frame must outlive the temp table dir
    return out.localCheckpoint(eager=True)


@query("stream_table_changefeed", oracle=_CDC_ORACLE)
def stream_table_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Change Data Feed: the same three commits consumed
    through ``read_stream()`` — the ``manifest_changefeed`` Python
    data source with commit seqs as offsets and one input partition
    per (commit, bucket) — drained to a memory sink. Hash-equality
    against the same oracle as the batch feed proves streaming/batch
    parity of the changefeed itself (VERDICT r11 top item: the
    engine's tables are now change SOURCES, so
    stream -> table -> downstream-stream composes)."""
    sink = _build_table(spark, sf_dir, "stream")
    drained = run_stream_to_memory(sink.read_stream(), output_mode="append")
    return drained.select(*_OUT_COLS).localCheckpoint(eager=True)


# -- incremental materialized view over the changefeed ---------------------

_MV_ORACLE = f"""
WITH early AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         {sql_dsum('o_totalprice', 'total_spend')}
  FROM orders WHERE o_orderdate < {_CUT}
  GROUP BY o_custkey),
late_keys AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= {_CUT}),
late_full AS (
  SELECT f.* FROM (
    SELECT o_custkey, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_spend')}
    FROM orders GROUP BY o_custkey) f
  JOIN late_keys lk ON f.o_custkey = lk.o_custkey),
state2 AS (
  SELECT * FROM late_full
  UNION ALL
  SELECT e.* FROM early e
  WHERE NOT EXISTS (SELECT 1 FROM late_keys lk
                    WHERE lk.o_custkey = e.o_custkey)),
delk AS (SELECT o_custkey FROM early WHERE n_orders = 1),
final AS (
  SELECT s.* FROM state2 s
  WHERE NOT EXISTS (SELECT 1 FROM delk d WHERE d.o_custkey = s.o_custkey))
SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_dsum('total_spend', 'spend')}
FROM final GROUP BY n_orders
"""


@query("stream_changefeed_matview", oracle=_MV_ORACLE)
def stream_changefeed_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained MATERIALIZED VIEW driven by the
    changefeed — the composition the CDC loop exists for: a per-group
    aggregate (customers + spend per order-count) over the cust_orders
    table is maintained in a SECOND manifest table by consuming the
    FIRST table's change rows, never rescanning the base table.

    The maintenance algebra is the standard signed-delta form: insert/
    update_postimage contribute (+1, +spend) to their group,
    delete/update_preimage contribute (-1, -spend) — so an update that
    MOVES a row between groups debits the old group and credits the
    new one in the same batch. Each micro-batch reduces its change
    rows to per-group deltas (a groupBy over O(changes), not O(table)),
    reads ONLY the touched groups' current values, and MERGEs the sums
    back through the view table's keyed upsert; groups whose count
    reaches zero are deleted. Spend accumulates as DECIMAL(38,6) —
    decimal addition is exact and order-free, so the incremental total
    is BIT-IDENTICAL to the oracle's direct aggregate over the final
    state (the engine's cross-engine sum convention, applied
    incrementally).

    At 100 TB this is the economics of Delta Live Tables' incremental
    aggregates: per-batch cost follows the CHANGE volume; the base
    table is never rescanned after bootstrap, and the view table's
    merge touches only the buckets holding changed groups.

    Reference: motorway's WordCount intersection (T4) maintains keyed
    counts over a stream; this is the same contract upgraded to
    exactly-once over a durable table, fed by the engine's own CDC.
    The maintenance body is the reusable
    ``streaming.matview.group_aggregate_view`` (replay-guarded:
    ledger-checked no-op + dead-groups-before-ledger-mark ordering;
    tests/test_changefeed.py drives the multi-batch restart path)."""
    from motorway_spark.sinks import UpsertParquetSink
    from motorway_spark.streaming.matview import group_aggregate_view

    base = _build_table(spark, sf_dir, "mvbase")  # three commits
    mv_dir = scratch_dir("cdc_mv", prefix="cdc_mv_")
    mv = UpsertParquetSink(
        spark, mv_dir, key_cols=["n_orders"], num_buckets=4
    )
    apply_delta = group_aggregate_view(
        mv,
        group_cols=["n_orders"],
        count_col="n_customers",
        sum_cols={"total_spend": "spend_dec"},
    )
    query_handle = start_and_drain(
        lambda: base.read_stream()
        .writeStream.foreachBatch(apply_delta)
        .option("checkpointLocation", f"{mv_dir}/_ckpt")
        .start()
    )
    query_handle.stop()
    out = mv.read().select(
        "n_orders",
        "n_customers",
        F.round(F.col("spend_dec").cast("double"), 4).alias("spend"),
    )
    return out.localCheckpoint(eager=True)
