"""Deeper TPC-H-shaped coverage: HAVING, scalar/IN subqueries,
conditional aggregation, disjunctive predicate pushdown, SQL-string API.

These exercise Catalyst paths the core modules don't: aggregate filters,
subquery decorrelation (rewritten to joins), OR-of-ANDs predicates, and
the spark.sql() SQL surface as a first-class entry point (same engine,
same plans — declared API parity, SURVEY.md §2b scans row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from motorway_spark.catalog import Catalog
from motorway_spark.queries.registry import query
from motorway_spark.queries.helpers import dec, dsum, sql_dsum


@query(
    "q12_shipmode_buckets",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_totalprice <  150000 THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_linenumber = 1
    GROUP BY o_orderpriority
    """,
)
def q12_shipmode_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional aggregation (sum of CASE)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_linenumber") == 1)
    )
    return (
        cat.orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_totalprice") >= 150000, 1).otherwise(0)).alias(
                "high_count"
            ),
            F.sum(F.when(F.col("o_totalprice") < 150000, 1).otherwise(0)).alias(
                "low_count"
            ),
        )
    )


@query(
    "q14_promo_share",
    oracle=f"""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                    AS DOUBLE), 6) AS promo_share,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio (promo market share)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    rev = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo_rev = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(38,6)")
    )
    return (
        li.join(F.broadcast(cat.part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(promo_rev).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("promo_share"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity', 'total_qty')}
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 250)
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery with HAVING (large-quantity orders),
    decorrelated by Catalyst into a semi join."""
    cat = Catalog(spark, sf_dir)
    big = (
        cat.lineitem.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sq"))
        .filter(F.col("sq") > 250)
        .select("l_orderkey")
    )
    return (
        cat.lineitem.join(
            big.withColumnRenamed("l_orderkey", "big_key"),
            F.col("l_orderkey") == F.col("big_key"),
            "inner",
        )
        .drop("big_key")
        .join(cat.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cat.customer, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
    )


@query(
    "q19_disjunctive",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}, COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 45 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — exercises
    CNF conversion / partial pushdown of disjunctive predicates."""
    cat = Catalog(spark, sf_dir)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 45)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        cat.lineitem.join(F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast(
                    "double"
                ),
                4,
            ).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q22_acctbal_subquery",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_cust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE), 4) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q22_acctbal_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global avg) + anti join.

    The scalar subquery is expressed as a 1-row broadcast cross join —
    the decorrelated plan Catalyst itself would produce; NO .collect()
    round-trip (driver-side constants would break plan caching and
    lineage at scale)."""
    cat = Catalog(spark, sf_dir)
    avg_bal = (
        cat.customer.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = cat.orders.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    return (
        cat.customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum(dec("c_acctbal")).cast("double"), 4).alias("total_bal"),
        )
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT l_suppkey, COUNT(*) AS n, {sql_dsum('l_extendedprice', 'total')}
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 500 AND SUM(CAST(l_extendedprice AS DECIMAL(38,6))) > 1000000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("l_extendedprice")).alias("total_dec"),
        )
        .filter((F.col("n") > 500) & (F.col("total_dec") > 1000000))
        .select(
            "l_suppkey", "n", F.round(F.col("total_dec").cast("double"), 4).alias("total")
        )
    )


@query(
    "sql_api_q7_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS ship_year,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'volume')}
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND n1.n_name <> n2.n_name
      AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                         AND TIMESTAMP '1996-12-31 23:59:59'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def sql_api_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape via the spark.sql STRING interface over temp
    views — declares the SQL API as a first-class engine surface (same
    Catalyst plans as the DataFrame API)."""
    Catalog(spark, sf_dir).register_temp_views(
        only=("supplier", "lineitem", "orders", "customer", "nation")
    )
    return spark.sql(
        """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS ship_year,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(38,6))) AS DOUBLE), 4) AS volume
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND n1.n_name <> n2.n_name
          AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                             AND TIMESTAMP '1996-12-31 23:59:59'
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        """
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           ROUND(CAST(total_revenue AS DOUBLE), 4) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: derived revenue view + scalar MAX subquery.
    Expressed as a rank-1 window over the derived view (one pass, no
    second scan of lineitem — the classic Q15 rewrite); exact decimal
    revenue makes the MAX comparison tie-exact across engines."""
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    revenue = (
        cat.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "total_revenue_d"
            )
        )
    )
    # rank()==1 is max-with-ties: a 1-row broadcast max + equality join
    # gives the identical set without the rank window's single-partition
    # sort over the supplier rollup (dimension-sized today, but the max
    # join is scale-proof at ANY supplier cardinality). Exact decimals,
    # so equality is well-defined.
    mx = revenue.agg(F.max("total_revenue_d").alias("__mx"))
    top = revenue.join(
        F.broadcast(mx), F.col("total_revenue_d") == F.col("__mx")
    ).drop("__mx")
    return (
        top.join(F.broadcast(cat.supplier), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_revenue_d").cast("double"), 4).alias("total_revenue"),
        )
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH all_nations AS (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS volume,
             n2.n_name AS supp_nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                            AND TIMESTAMP '1996-12-31 23:59:59'
        AND p_type = 'ECONOMY')
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'BRAZIL' THEN volume
                               ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-table join + conditional share. Dims (nation
    x2, region, filtered part) broadcast; only the fact chain shuffles."""
    cat = Catalog(spark, sf_dir)
    n1 = F.broadcast(cat.nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")))
    n2 = F.broadcast(cat.nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")))
    region = F.broadcast(cat.region.filter(F.col("r_name") == "AMERICA"))
    part = F.broadcast(cat.part.filter(F.col("p_type") == "ECONOMY"))
    orders = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31 23:59:59").cast("timestamp"))
    )
    vol = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    base = (
        cat.lineitem.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(cat.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("c_nkey"))
        .join(region, F.col("c_rkey") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("s_nkey"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "supp_nation")
    )
    brazil_vol = F.when(F.col("supp_nation") == "BRAZIL", F.col("volume")).otherwise(
        F.lit(0).cast("decimal(38,6)")
    )
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(brazil_vol).cast("double") / F.sum("volume").cast("double"), 6
        ).alias("mkt_share")
    )


@query(
    "q9_profit",
    oracle=f"""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           {sql_dsum('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.6',
                     'sum_profit')}
    FROM part, supplier, lineitem, orders, nation
    WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by nation and year (no
    partsupp table in the fixtures; supply cost approximated as 60% of
    retail price — the join/agg structure is the point). The color
    predicate is '%red%' because the fixture p_name vocabulary has no
    'green' (a '%green%' filter selects zero parts → vacuous oracle)."""
    cat = Catalog(spark, sf_dir)
    color_parts = F.broadcast(cat.part.filter(F.col("p_name").like("%red%")))
    profit = dec(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.6
    )
    return (
        cat.lineitem.join(color_parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(cat.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cat.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cat.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit).cast("double"), 4).alias("sum_profit"))
    )


@query(
    "q17_small_quantity",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice', 'total_revenue')}, COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    gating a fact filter. Decorrelated the way Catalyst would: the
    per-part average is ONE aggregate over lineitem joined back on
    partkey — no per-row subquery execution, one extra shuffle keyed
    the same as the probe join (0.5 factor instead of TPC-H's 0.2 so
    the fixture yields a nonempty, discriminating result)."""
    cat = Catalog(spark, sf_dir)
    brand_parts = F.broadcast(cat.part.filter(F.col("p_brand") == "Brand#1"))
    li = cat.lineitem
    part_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(brand_parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("avg_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            dsum("l_extendedprice", "total_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH partsupp AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey)
    SELECT p.p_partkey, p.p_name, s.s_name,
           FLOOR(ps.ps_supplycost * 10000 + 0.5) / 10000 AS supplycost
    FROM part p, partsupp ps, supplier s, nation n, region r
    WHERE p.p_partkey = ps.ps_partkey AND ps.ps_suppkey = s.s_suppkey
      AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'EUROPE' AND p.p_size = 10
      AND ps.ps_supplycost = (SELECT MIN(ps2.ps_supplycost) FROM partsupp ps2,
                                     supplier s2, nation n2, region r2
                              WHERE ps2.ps_partkey = p.p_partkey
                                AND ps2.ps_suppkey = s2.s_suppkey
                                AND s2.s_nationkey = n2.n_nationkey
                                AND n2.n_regionkey = r2.r_regionkey
                                AND r2.r_name = 'EUROPE')
    ORDER BY p.p_partkey, s.s_name
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-per-group correlated subquery over a
    derived partsupp (fixtures carry no partsupp table; unit price
    MIN(extendedprice/quantity) per (part, supplier) stands in for
    ps_supplycost — the join/subquery structure is the point).

    Decorrelated as a window MIN over the region-filtered partsupp —
    one pass, no re-aggregation join; ties keep every min-cost
    supplier exactly like the correlated form."""
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    partsupp = (
        cat.lineitem.filter(F.col("l_quantity") > 0)
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))
    )
    region = F.broadcast(
        cat.nation.join(
            cat.region.filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey")
    )
    euro_supp = cat.supplier.join(
        region, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    w = Window.partitionBy("ps_partkey")
    candidates = (
        partsupp.join(euro_supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
    )
    size10 = F.broadcast(cat.part.filter(F.col("p_size") == 10))
    return (
        candidates.join(size10, F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            # explicit half-up in pure double math: ROUND() tie handling
            # differs cross-engine exactly at 4-decimal midpoints (the
            # sf0.1 sweep caught spark=…3787 vs duckdb=…3788)
            (F.floor(F.col("ps_supplycost") * 10000 + 0.5) / 10000).alias(
                "supplycost"
            ),
        )
        .orderBy("p_partkey", "s_name")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey,
             MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS was_late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey, l_suppkey)
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, late l1
    WHERE s_suppkey = l1.l_suppkey AND l1.was_late = 1
      AND EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.was_late = 1)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame anti-join ladder — suppliers who
    alone were late on a multi-supplier order (EXISTS another supplier
    + NOT EXISTS another LATE supplier). Fixtures lack
    l_receiptdate/l_commitdate, so "late" = shipped >90 days after the
    order date — the exists/not-exists structure is the point.

    Decorrelated: per-(order, supplier) lateness aggregates once; the
    two correlated EXISTS become ONE per-order aggregate (supplier
    count + late-supplier count) broadcast-free self-join — the plan
    Catalyst produces for the classic formulation, written explicitly.
    """
    cat = Catalog(spark, sf_dir)
    late = (
        cat.lineitem.join(
            cat.orders.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("was_late")
        )
    )
    per_order = late.groupBy(F.col("l_orderkey").alias("ord")).agg(
        F.count("*").alias("n_supp"),
        F.sum("was_late").alias("n_late"),
    )
    blamed = (
        late.filter(F.col("was_late") == 1)
        .join(per_order, F.col("ord") == F.col("l_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        blamed.join(cat.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution (left outer join + double groupBy).
# ---------------------------------------------------------------------------
@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with a join-side predicate, then
    a distribution over per-key counts (two cascaded aggregations —
    the second one is tiny, keyed by the count itself).

    Deviation from spec: the orders filter is on o_orderpriority
    (fixtures have no o_comment column).
    """
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cat.customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# Q16: supplier-count per part group with a NOT IN anti-subquery.
# ---------------------------------------------------------------------------
@query(
    "q16_parts_supplier",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 15, 22, 25, 29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT) per part group, excluding
    blacklisted suppliers via an anti join (Catalyst decorrelates the
    NOT IN into a left-anti broadcast join — the blacklist is tiny).

    Deviations from spec: lineitem stands in for partsupp as the
    part-supplier relation; the supplier blacklist predicate is
    s_acctbal < 0 (no s_comment column in fixtures).
    """
    cat = Catalog(spark, sf_dir)
    parts = cat.part.filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 22, 25, 29)
    )
    bad_supp = cat.supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        cat.lineitem.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q11: important stock — share-of-total threshold via scalar subquery.
# ---------------------------------------------------------------------------
@query(
    "q11_important_stock",
    oracle="""
    WITH value_by_part AS MATERIALIZED (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS val
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey < 5
      GROUP BY l_partkey)
    SELECT l_partkey AS partkey,
           ROUND(CAST(val AS DOUBLE), 4) AS part_value
    FROM value_by_part, (SELECT SUM(val) AS tot FROM value_by_part) t
    WHERE val * 1000 > tot
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value, filtered against a scalar
    aggregate of the SAME derived table (share-of-total > 0.1%).

    Spark-first: the per-part aggregate computes once; the grand total
    is a column of an un-keyed window over it. Scale ceiling: that
    window sends every part-level row through ONE partition, so one
    task holds |partkey| rows — it grows with the part count, unlike a
    1-row aggregate + broadcast join (which re-runs the join +
    aggregate per side). The threshold compares EXACT decimals scaled by
    an integer (val*1000 > tot) — no double rounding at the boundary,
    so both engines make identical keep/drop decisions.

    Deviation from spec: value = sum of lineitem extendedprice routed
    through suppliers in nations 0-4 (fixtures have no partsupp).
    """
    cat = Catalog(spark, sf_dir)
    supp = cat.supplier.filter(F.col("s_nationkey") < 5).select("s_suppkey")
    value_by_part = (
        cat.lineitem.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("val"))
    )
    # the grand total rides an unbounded window over the part rollup —
    # the previous value_by_part.agg() + crossJoin referenced the
    # rollup twice and re-ran the lineitem ⋈ supplier join + aggregate
    # per side (guide §1.2/§2.4); the window's single-partition
    # exchange sees only the part-level rows, and the exact decimal
    # sum is order-free, so tot is bit-identical
    from pyspark.sql import Window as W

    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        value_by_part.withColumn("tot", F.sum("val").over(wall))
        .filter(F.col("val") * 1000 > F.col("tot"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("val").cast("double"), 4).alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q20: dominant suppliers — correlated >half-of-part-total quantity.
# ---------------------------------------------------------------------------
@query(
    "q20_dominant_supplier",
    oracle="""
    WITH shipped AS MATERIALIZED (
      SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%red%'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey)
    SELECT DISTINCT s_suppkey, s_name
    FROM shipped
    JOIN (SELECT l_partkey, SUM(qty) AS tot_qty FROM shipped GROUP BY l_partkey) tot
      USING (l_partkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE qty * 2 > tot_qty
    """,
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi-join against a correlated aggregate
    threshold — suppliers who shipped more than half of a red part's
    1996 volume. The per-(supplier, part) aggregate re-aggregates to
    per-part totals (partial-reuse, same trick as hypertable_rollup),
    then a same-key join applies the exact-decimal threshold
    (qty*2 > tot, integer-scaled — no boundary rounding).

    Deviation from spec: lineitem shipments stand in for partsupp
    availability (no partsupp fixture).
    """
    cat = Catalog(spark, sf_dir)
    red_parts = cat.part.filter(F.col("p_name").like("%red%")).select("p_partkey")
    shipped = (
        cat.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
    )
    totals = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("tot_qty")
    )
    dominant = (
        shipped.join(totals, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("qty") * 2 > F.col("tot_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return dominant.join(
        cat.supplier, F.col("l_suppkey") == F.col("s_suppkey")
    ).select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# Recursive CTE: calendar-spine gap filling (Spark 4 WITH RECURSIVE).
# ---------------------------------------------------------------------------
@query(
    "sql_api_recursive_cte",
    oracle="""
    WITH RECURSIVE m(mo) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT mo + INTERVAL 1 MONTH FROM m WHERE mo < DATE '1997-12-01')
    SELECT CAST(mo AS STRING) AS month, COUNT(o_orderkey) AS n_big_orders
    FROM m LEFT JOIN orders
      ON date_trunc('month', o_orderdate) = mo AND o_totalprice >= 450000
    GROUP BY mo
    """,
)
def sql_api_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) generating a 36-month
    calendar spine, left-joined to big-order counts — the gap-filling
    pattern: months with zero qualifying orders still appear with 0
    (visible at sf0.001, where the tail threshold leaves real gaps).
    The recursion is driver-cheap (36 iterations over one row each);
    the join against the fact table is one ordinary hash join.
    """
    Catalog(spark, sf_dir).register_temp_views(only=("orders",))
    return spark.sql(
        """
        WITH RECURSIVE m(mo) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT add_months(mo, 1) FROM m WHERE mo < DATE '1997-12-01')
        SELECT CAST(mo AS STRING) AS month, COUNT(o_orderkey) AS n_big_orders
        FROM m LEFT JOIN orders
          ON date_trunc('month', o_orderdate) = CAST(mo AS TIMESTAMP)
         AND o_totalprice >= 450000
        GROUP BY mo
        """
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery: per-customer top-N (decorrelated).
# ---------------------------------------------------------------------------
@query(
    "sql_api_lateral_topn",
    oracle="""
    SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
    WHERE c.c_custkey <= 100
    """,
)
def sql_api_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each customer's top-2 orders by
    price. Catalyst decorrelates the per-row subquery into a
    window-rank join (DecorrelateInnerQuery), so execution is the
    topk_per_group shape — no per-customer re-execution at scale.
    """
    Catalog(spark, sf_dir).register_temp_views(only=("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        WHERE c.c_custkey <= 100
        """
    )


@query(
    "sql_api_group_by_all",
    oracle=f"""
    SELECT n_name, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice', 'total_price')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ALL
    """,
)
def sql_api_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` on the SQL string surface (Spark 3.4+ / DuckDB
    both infer the grouping keys from the non-aggregate select items) —
    the analyst-ergonomics sugar a SQL-first user of the engine expects
    to keep working. Same Catalyst plan as the explicit GROUP BY: dims
    broadcast, partial/final hash aggregate."""
    Catalog(spark, sf_dir).register_temp_views(
        only=("orders", "customer", "nation")
    )
    return spark.sql(
        """
        SELECT n_name, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 4)
                 AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ALL
        """
    )


# ---------------------------------------------------------------------------
# Market-basket association rules.
# ---------------------------------------------------------------------------
# Minimum pair support (distinct co-occurrence orders) — same gate as
# graph_triangle_count's co-purchase graph.
MB_MIN_SUPPORT = 2


@query(
    "orders_market_basket_rules",
    oracle=f"""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li),
    sup AS MATERIALIZED (
      SELECT pk, COUNT(*) AS sup FROM li GROUP BY pk),
    pairs AS MATERIALIZED (
      SELECT a.pk AS u, b.pk AS v, COUNT(*) AS sup_pair
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING COUNT(*) >= {MB_MIN_SUPPORT}),
    rules AS (
      SELECT u AS antecedent, v AS consequent, sup_pair FROM pairs
      UNION ALL
      SELECT v, u, sup_pair FROM pairs)
    SELECT antecedent, consequent, sup_pair AS support_pair,
           sa.sup AS support_antecedent,
           ROUND(CAST(sup_pair AS DOUBLE) / CAST(sa.sup AS DOUBLE), 6)
             AS confidence,
           ROUND((CAST(sup_pair AS DOUBLE) * CAST(n_orders AS DOUBLE))
                 / (CAST(sa.sup AS DOUBLE) * CAST(sc.sup AS DOUBLE)), 6)
             AS lift
    FROM rules
    JOIN sup sa ON antecedent = sa.pk
    JOIN sup sc ON consequent = sc.pk
    CROSS JOIN n
    """,
)
def orders_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (Agrawal/Srikant
    a-priori semantics at pair depth): for every part pair co-purchased
    in >= MB_MIN_SUPPORT distinct orders, both directed rules a=>b with
    support, confidence = P(b|a) and lift = P(a,b)/(P(a)P(b)) — the
    classic retail/recommender workload, and the probabilistic reading
    of graph_triangle_count's co-purchase graph (same support gate,
    same basket machinery).

    Scale shape (100 TB): baskets are one hash aggregate on the order
    key with IN-ROW pair expansion (sorted collect_set + nested
    transforms — no self-join; the triangle-count trick), pair support
    is one map-side-combinable (u,v) aggregate bounded by the support
    gate, and the per-part support table is vocabulary-sized. The
    support joins carry NO broadcast hint: a forced hint assumes the
    item catalog fits in executor memory (true for TPC-H's ~200k/SF
    parts, an OOM at a 100M-item catalog), so the choice is left to
    AQE, which broadcasts at runtime exactly when the measured build
    side is under spark.sql.autoBroadcastJoinThreshold (plan-audited
    at fixture scale in test_plan_audit). The only forced broadcast is
    the provably-1-row totals frame. Confidence/lift are single
    divisions over integer counts, identical op trees both engines.
    """
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    # Deliberately NO persists despite sup/pairs feeding two plan
    # branches each: a same-session interleaved A/B at sf0.1 measured
    # the original redundant-branch plan at 2.3 s best-of-3 vs 3.3 s
    # with the pairs persist and 3.6 s with both persists — the
    # duplicate subtrees execute CONCURRENTLY inside one job on idle
    # cores, while an eager persist fill serializes ahead of the main
    # job (guide §5: cache only when recompute is dearer; §1.3: stop
    # when the measurement says no). At cluster scale the branches
    # still run as one job with shared scan caching underneath.
    sup = li.distinct().groupBy("pk").agg(F.count(F.lit(1)).alias("sup"))
    n = li.agg(F.count_distinct("ok").alias("n_orders"))
    baskets = li.groupBy("ok").agg(F.sort_array(F.collect_set("pk")).alias("pks"))
    pair_arr = F.flatten(
        F.transform(
            F.col("pks"),
            lambda x, i: F.transform(
                F.slice(F.col("pks"), i + 2, F.size(F.col("pks"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    pairs = (
        baskets.select(F.inline(pair_arr))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("sup_pair"))
        .filter(F.col("sup_pair") >= MB_MIN_SUPPORT)
    )
    rules = pairs.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "sup_pair"
    ).unionAll(
        pairs.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "sup_pair"
        )
    )
    sa = sup.select(F.col("pk").alias("antecedent"), F.col("sup").alias("sup_a"))
    sc = sup.select(F.col("pk").alias("consequent"), F.col("sup").alias("sup_c"))
    return (
        rules.join(sa, "antecedent")
        .join(sc, "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("sup_pair").alias("support_pair"),
            F.col("sup_a").alias("support_antecedent"),
            F.round(
                F.col("sup_pair").cast("double") / F.col("sup_a").cast("double"), 6
            ).alias("confidence"),
            F.round(
                (F.col("sup_pair").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("sup_a").cast("double") * F.col("sup_c").cast("double")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation.
# ---------------------------------------------------------------------------
RFM_TILES = 5


@query(
    "orders_rfm_segments",
    oracle=f"""
    WITH cust AS MATERIALIZED (
      SELECT o_custkey AS custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,6))
               AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT custkey, monetary,
             ntile({RFM_TILES}) OVER (ORDER BY last_order DESC, custkey) AS r,
             ntile({RFM_TILES}) OVER (ORDER BY n_orders DESC, custkey) AS f,
             ntile({RFM_TILES}) OVER (ORDER BY monetary DESC, custkey) AS m
      FROM cust)
    SELECT r || '' || f || '' || m AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(monetary) AS DOUBLE), 4) AS total_monetary
    FROM scored GROUP BY r, f, m
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the standard customer-value partitioning
    (recency / frequency / monetary, each quintile-scored, customers
    grouped into 'rfm' cells like '111' = best across the board): one
    row per occupied segment with its population and exact-decimal
    revenue. ntile is deterministic cross-engine only under a TOTAL
    order, so every score orders by (metric DESC, custkey) — the same
    tie-break discipline as the sampling family; monetary ranks on the
    exact DECIMAL(38,6) sum, never a float.

    Scale shape (100 TB): one hash aggregate to customer grain, then
    three quintile scores over the CUSTOMER table via
    helpers.distributed_ntile — the two-pass range-partitioned rank
    that replaced this query's original three GLOBAL ntile windows
    (single-partition sorts: exactly the 1.5M-customer bound the
    round-6 verdict flagged; the equi-depth histogram measured that
    shape at 14x/decade before the same swap). Each score is one range
    shuffle + per-partition sort of a (custkey, metric) projection;
    the three score frames join back on custkey (dimension-sized hash
    joins), then a 125-cell-max aggregate.

    Crossover note (why the sf0.1 bench went 0.54 s -> ~1.1 s in r7):
    distributed_ntile trades three cheap single-partition windows for
    three range exchanges + broadcast joins. Measured three-SF curve:
    1.03 -> 2.08 s at sf0.1 (the fixed overhead dominates 15k
    customers) but 8.16 -> 6.36 s at sf10, and the equi-depth twin of
    the same swap went 139 -> 10.1 s at sf10; top decade ratio
    6.2x -> 2.2x. The crossover is around sf1 — below it the global
    window is faster, above it the global window is a single-executor
    wall. This operator is built for the 100 TB side of that line; see
    SCALE.md round-7 batch 5 and the round-8 sf1 bench point.
    """
    cat = Catalog(spark, sf_dir)
    cust = cat.orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).alias("monetary"),
    )
    from motorway_spark.queries.helpers import distributed_ntile

    r = distributed_ntile(
        cust.select("custkey", "last_order"),
        RFM_TILES,
        [F.desc("last_order"), "custkey"],
        "r",
    ).select("custkey", "r")
    f = distributed_ntile(
        cust.select("custkey", "n_orders"),
        RFM_TILES,
        [F.desc("n_orders"), "custkey"],
        "f",
    ).select("custkey", "f")
    mo = distributed_ntile(
        cust.select("custkey", "monetary"),
        RFM_TILES,
        [F.desc("monetary"), "custkey"],
        "m",
    ).select("custkey", "m", "monetary")
    scored = mo.join(r, "custkey").join(f, "custkey")
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum("monetary").cast("double"), 4).alias("total_monetary"),
    ).select(
        F.concat_ws("", F.col("r"), F.col("f"), F.col("m")).alias("segment"),
        "n_customers",
        "total_monetary",
    )
