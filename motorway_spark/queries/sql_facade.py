"""SQL-façade registry queries: ONE ANSI string, TWO engines.

Each entry here is a single SQL string handed verbatim to BOTH sides
of the correctness gate — Spark executes it through
``motorway_spark.sql()`` (the string façade over the catalog views)
and DuckDB executes it as the oracle. A hash-equal result therefore
proves two things at once: the façade's parse-against-catalog contract
works end to end, and the string is genuinely portable ANSI (the
decimal-cast aggregate conventions from queries/helpers.py are what
keep float aggregates bit-identical across engines).

The five entries deliberately span the relational surface a SQL-only
user would exercise: scan+filter+aggregate (TPC-H Q1/Q6 shapes), a
correlated EXISTS semi-join, a window-rank top-k, HAVING, and a
join+aggregate — each shape already proven by a DataFrame-API twin
(q1_pricing_summary, q6_forecast_revenue, q4_order_priority,
topk_per_group, agg_having), so a façade failure isolates to the
façade, not the operator.

Reference: motorway has no query language (SURVEY.md §4.1) — this is
the north-star SQL surface, driver-verified like every operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from motorway_spark.queries.helpers import sql_davg, sql_dsum
from motorway_spark.queries.registry import query
from motorway_spark.streaming.runner import scratch_dir


def _register(name: str, text: str, doc: str) -> None:
    @query(name, oracle=text)
    def fn(spark: SparkSession, sf_dir: str, _text: str = text) -> DataFrame:
        from motorway_spark.sqlapi import sql as facade_sql

        return facade_sql(_text, sf_dir, spark)

    fn.__name__ = name
    fn.__doc__ = doc


_register(
    "sql_facade_q1_pricing",
    f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dsum('l_quantity', 'sum_qty')},
      {sql_dsum('l_extendedprice', 'sum_base_price')},
      {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
      {sql_davg('l_quantity', 'avg_qty')},
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 pricing summary through the SQL string façade — the "
    "flagship aggregate as its user-facing one-string form; twin of "
    "q1_pricing_summary (same decimal-cast conventions).",
)

_register(
    "sql_facade_q6_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 tight-filter global aggregate through the façade; twin "
    "of q6_forecast_revenue. The WHERE reaches the parquet scan as "
    "pushed filters exactly as in the DataFrame form.",
)

_register(
    "sql_facade_exists_semijoin",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    """,
    "Correlated EXISTS (TPC-H Q4 shape) through the façade — Catalyst "
    "rewrites the subquery to the same left-semi join the DataFrame "
    "twin (q4_order_priority) declares explicitly.",
)

_register(
    "sql_facade_topk_window",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    "Window-rank top-3 per customer through the façade; twin of "
    "topk_per_group — Spark still plans the rank-limit pushdown "
    "(WindowGroupLimit) from the SQL form.",
)

_register(
    "sql_facade_join_agg",
    f"""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_price')}
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    "Two-table join + aggregate through the façade: market segment "
    "order volume — the façade registers exactly the two referenced "
    "views and Catalyst plans the join as from the DataFrame API.",
)


# -- write path -> query language, closed loop ---------------------------

_CUT = "TIMESTAMP '1999-01-01 00:00:00'"

_MANIFEST_FACADE_ORACLE = f"""
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
merged AS (
  SELECT f.o_custkey, f.n_orders, f.total_spend
  FROM fullagg f JOIN late_keys lk ON f.o_custkey = lk.o_custkey
  UNION ALL
  SELECT e.o_custkey, e.n_orders, e.total_spend
  FROM early e
  WHERE NOT EXISTS (SELECT 1 FROM late_keys lk
                    WHERE lk.o_custkey = e.o_custkey))
SELECT n_orders, COUNT(*) AS n_customers,
       {sql_dsum('total_spend', 'spend')}
FROM merged GROUP BY n_orders
"""

@query("sql_facade_manifest_table", oracle=_MANIFEST_FACADE_ORACLE)
def sql_facade_manifest_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write THROUGH the engine's sink, query BACK through its SQL
    string façade: per-customer order aggregates land in an
    ``UpsertParquetSink`` manifest table in two batches (batch 0 =
    pre-1999 aggregates for every customer; batch 1 = full-history
    aggregates for customers with a post-cut order, a real MERGE that
    overwrites ~98% of the keys), then ONE SQL string reads the table
    back via ``sql(..., tables={"cust_orders": dir})`` — the manifest's
    current file list registered as a catalog view. The oracle
    reproduces the merge algebra in ANSI SQL over ``orders`` (full
    aggregates for late-order customers, early aggregates for the
    rest), so a hash-equal result proves the sink's MERGE semantics AND
    the façade's manifest-table read path in one gate.

    At 100 TB: the façade view is the same explicit-file pruned scan
    the sink's own readers use — no directory listing, predicate
    pushdown intact; registration cost is O(manifest).

    Reference: motorway's durable sink (contrib/sql_alchemy/
    intersections.py:57-98) has no read-back surface at all; this is
    the lakehouse loop closed."""
    from motorway_spark.catalog import Catalog
    from motorway_spark.queries.helpers import dec
    from motorway_spark.sinks import UpsertParquetSink
    from motorway_spark.sqlapi import sql as facade_sql

    orders = Catalog(spark, sf_dir).table("orders")
    cut = F.expr(_CUT)
    is_early = F.col("o_orderdate") < cut
    is_late = F.col("o_orderdate") >= cut
    # ONE orders scan + ONE shuffle feeds both batches (previously
    # three scans: early agg, late-keys distinct, full agg + semi
    # join). Bit-identical: SUM skips NULLs, so the conditional
    # decimal sums equal the filtered ones exactly, and the membership
    # filters reproduce the groupBy/semi-join sets — same derivation
    # as queries/changefeed.py's _build_table. Persisted because both
    # upsert batches slice it; released after the second commit.
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
    fullagg = base.filter(F.col("__n_late") > 0).select(
        "o_custkey",
        F.col("__n_total").alias("n_orders"),
        F.round(F.col("__sd_total").cast("double"), 4).alias("total_spend"),
    )
    table_dir = scratch_dir("sql_facade_manifest_table", prefix="facade_cust_orders_")
    sink = UpsertParquetSink(
        spark, table_dir, key_cols=["o_custkey"], num_buckets=16
    )
    try:
        sink.upsert_batch(early, batch_id=0)
        sink.upsert_batch(fullagg, batch_id=1)
    finally:
        base.unpersist()
    out = facade_sql(
        f"""
        SELECT n_orders, COUNT(*) AS n_customers,
               {sql_dsum('total_spend', 'spend')}
        FROM cust_orders GROUP BY n_orders
        """,
        sf_dir,
        spark,
        tables={"cust_orders": table_dir},
    )
    # eager checkpoint: the returned frame must outlive the table dir
    # (the NEXT invocation rmtree's it)
    return out.localCheckpoint(eager=True)


# -- DML through the façade: the write half as SQL strings ----------------

_MERGE_DML_ORACLE = f"""
WITH early AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         {sql_dsum('o_totalprice', 'total_spend')}
  FROM orders WHERE o_orderdate < {_CUT}
  GROUP BY o_custkey),
late_keys AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= {_CUT}),
late_full AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         {sql_dsum('o_totalprice', 'total_spend')}
  FROM orders GROUP BY o_custkey
  HAVING MAX(o_orderdate) >= {_CUT}),
zeros AS (
  SELECT c_custkey AS o_custkey, CAST(0 AS BIGINT) AS n_orders,
         CAST(0.0 AS DOUBLE) AS total_spend
  FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)),
state AS (
  SELECT * FROM late_full
  UNION ALL
  SELECT e.* FROM early e
  WHERE NOT EXISTS (SELECT 1 FROM late_keys lk
                    WHERE lk.o_custkey = e.o_custkey)
  UNION ALL
  SELECT * FROM zeros),
updated AS (
  SELECT CASE WHEN n_orders >= 20 THEN n_orders + 100
              ELSE n_orders END AS n_orders,
         total_spend
  FROM state WHERE n_orders <> 1)
SELECT n_orders, COUNT(*) AS n_customers,
       {sql_dsum('total_spend', 'spend')}
FROM updated GROUP BY n_orders
"""

@query("sql_facade_merge_dml", oracle=_MERGE_DML_ORACLE)
def sql_facade_merge_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write half of the façade as SQL STRINGS: after an API-seeded
    batch 0 (early aggregates — the adopt-an-existing-table scenario),
    every mutation is one string routed to ``UpsertParquetSink`` —
    a canonical ``MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN
    NOT MATCHED THEN INSERT *`` (full-history aggregates for customers
    with a post-cut order: updates for the overlap, inserts for
    late-only customers), an ``INSERT INTO`` (zero rows for customers
    with no orders at all — pure inserts through the same keyed-upsert
    path), a ``DELETE FROM ... WHERE`` (single-order customers), and an
    ``UPDATE ... SET ... WHERE`` (heavy-order customers shift into a
    +100 bucket — the read-modify-write verb over pre-update values),
    then ONE read string aggregates the final state. The oracle
    replays the whole mutation algebra from ``orders``/``customer``.

    This completes the reference K4 surface declaratively: motorway's
    SQL-sink users write upserts as statements built from
    ``table_columns`` (contrib/sql_alchemy/intersections.py:57-98);
    here the statement IS the interface, and the engine plans the
    keyed MERGE underneath (VERDICT r11 item 3)."""
    from motorway_spark.catalog import Catalog
    from motorway_spark.queries.helpers import dsum
    from motorway_spark.sinks import UpsertParquetSink
    from motorway_spark.sqlapi import sql as facade_sql

    orders = Catalog(spark, sf_dir).table("orders")
    early = (
        orders.filter(F.col("o_orderdate") < F.expr(_CUT))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_spend"),
        )
    )
    table_dir = scratch_dir("sql_facade_merge_dml", prefix="dml_cust_orders_")
    sink = UpsertParquetSink(
        spark, table_dir, key_cols=["o_custkey"], num_buckets=16
    )
    sink.upsert_batch(early, batch_id=0)
    tables = {"cust_orders": table_dir}
    facade_sql(
        f"""
        MERGE INTO cust_orders USING (
          SELECT o_custkey, COUNT(*) AS n_orders,
                 {sql_dsum('o_totalprice', 'total_spend')}
          FROM orders GROUP BY o_custkey
          HAVING MAX(o_orderdate) >= {_CUT}
        ) src ON cust_orders.o_custkey = src.o_custkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """,
        sf_dir,
        spark,
        tables=tables,
    )
    facade_sql(
        """
        INSERT INTO cust_orders
        SELECT c_custkey AS o_custkey, CAST(0 AS BIGINT) AS n_orders,
               CAST(0.0 AS DOUBLE) AS total_spend
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        sf_dir,
        spark,
        tables=tables,
    )
    facade_sql(
        "DELETE FROM cust_orders WHERE n_orders = 1",
        sf_dir,
        spark,
        tables=tables,
    )
    facade_sql(
        "UPDATE cust_orders SET n_orders = n_orders + 100 "
        "WHERE n_orders >= 20",
        sf_dir,
        spark,
        tables=tables,
    )
    out = facade_sql(
        f"""
        SELECT n_orders, COUNT(*) AS n_customers,
               {sql_dsum('total_spend', 'spend')}
        FROM cust_orders GROUP BY n_orders
        """,
        sf_dir,
        spark,
        tables=tables,
    )
    return out.localCheckpoint(eager=True)
