"""Data-quality validation + monitoring operators.

North-star extensions: a 100 TB training-data pipeline gates every
ingest behind declarative data-quality checks (the Deequ/Great-
Expectations pattern) and watches its stream tables for statistical
anomalies. Reference analogue: motorway's only "validation" is the
per-sink size guard (/root/reference/motorway/contrib/amazon_sqs/
utils.py:8-13) and crash-isolation of bad records
(intersection.py:135-143); these operators make the checks
first-class, set-oriented, and single-scan.

Scale notes:

- ``dq_checks``: the whole constraint suite costs TWO fact-table scans
  (one conditional aggregate per table — every row-level predicate is
  folded into one codegen'd pass) plus two key-only anti-joins for
  referential integrity. Uniqueness runs in its own single-purpose
  aggregate so the count_distinct Expand never multiplies the
  conditional-count pass (the profiler's measured split,
  profiling.py:88-97). All intermediates are one-row DataFrames; the
  final assembly is a broadcast of single rows, not a data-sized join.
- ``events_anomaly_zscore``: per-key mean/stddev are derived from
  EXACT integer sums (count, sum, sum-of-squares of bigint counts), so
  the z-score is one fixed IEEE expression over identical integers in
  both engines — bit-reproducible, unlike ``stddev_samp`` whose
  summation order differs per engine. Stats per event_type are 5 rows
  → broadcast back onto the hourly counts; no second shuffle.
- ``agg_histogram``: fixed-edge equi-width binning is a pure map +
  single aggregate; bucket ids come from ``floor`` arithmetic on
  literals (no two-pass min/max), the layout that lets a 100 TB scan
  histogram in one pass with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from motorway_spark.catalog import Catalog
from motorway_spark.queries.registry import query

# --------------------------------------------------------------------------
# dq_checks — declarative constraint suite over orders + lineitem
# --------------------------------------------------------------------------

# (check_name, table, SQL predicate counting VIOLATIONS) — row-level
# checks; each table's predicates run in ONE conditional aggregate.
_ROW_CHECKS = (
    (
        "orders_custkey_not_null",
        "orders",
        "o_custkey IS NULL",
    ),
    (
        "orders_status_in_domain",
        "orders",
        "o_orderstatus IS NULL OR o_orderstatus NOT IN ('O','F','P')",
    ),
    (
        "orders_totalprice_positive",
        "orders",
        "o_totalprice IS NULL OR o_totalprice <= 0",
    ),
    (
        "lineitem_qty_in_range",
        "lineitem",
        "l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50",
    ),
    (
        "lineitem_discount_in_range",
        "lineitem",
        "l_discount IS NULL OR l_discount < 0 OR l_discount > 1",
    ),
    (
        "lineitem_linenumber_positive",
        "lineitem",
        "l_linenumber IS NULL OR l_linenumber < 1",
    ),
)


def _oracle_dq() -> str:
    parts = []
    for name, table, pred in _ROW_CHECKS:
        parts.append(
            f"""
    SELECT '{name}' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE {pred}) AS BIGINT) AS violations,
           COUNT(*) FILTER (WHERE {pred}) = 0 AS passed
    FROM {table}"""
        )
    parts.append(
        """
    SELECT 'orders_pk_unique' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS violations,
           COUNT(*) = COUNT(DISTINCT o_orderkey) AS passed
    FROM orders"""
    )
    parts.append(
        """
    SELECT 'lineitem_pk_unique' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS violations,
           COUNT(*) = COUNT(DISTINCT (l_orderkey, l_linenumber)) AS passed
    FROM lineitem"""
    )
    parts.append(
        """
    SELECT 'orders_fk_customer' AS check_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS violations,
           COUNT(*) = 0 AS passed
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)"""
    )
    parts.append(
        """
    SELECT 'lineitem_fk_orders' AS check_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS violations,
           COUNT(*) = 0 AS passed
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)"""
    )
    return " UNION ALL ".join(parts)


@query("dq_checks", oracle=_oracle_dq())
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (completeness, domain, range,
    uniqueness, referential integrity) as ONE report DataFrame: one row
    per check with rows-examined, violation count, and a pass flag.

    Plan shape: per fact table, one conditional aggregate evaluates all
    of its row-level predicates in a single scan (``count_if`` columns)
    and its PK-uniqueness count in the same aggregate (one
    ``count_distinct`` next to the conditional counts: one scan per
    table); FK checks are key-only LEFT ANTI joins (column-pruned to
    the join keys). Every intermediate is a one-row DataFrame, so the
    assembly cross-joins broadcast single rows and stacks them to the
    report layout — no data-sized join anywhere."""
    cat = Catalog(spark, sf_dir)
    orders, lineitem, customer = cat.orders, cat.lineitem, cat.customer

    # PK-uniqueness rides the same aggregate as the row checks — ONE
    # scan per table instead of two (guide §1.2). A SINGLE distinct
    # aggregate alongside plain ones does not trigger the multi-
    # distinct Expand multiplier (the profile_columns trap needs >= 2
    # distinct columns); counts are integer-exact either way.
    def _conditional(table_df: DataFrame, table: str, uniq) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias(f"{table}__rows")]
        for name, tbl, pred in _ROW_CHECKS:
            if tbl == table:
                aggs.append(F.expr(f"count_if({pred})").alias(f"v__{name}"))
        aggs.append(
            (F.count(F.lit(1)) - F.count_distinct(uniq)).alias(
                f"v__{table}_pk_unique"
            )
        )
        return table_df.agg(*aggs)

    o_cond = _conditional(orders, "orders", F.col("o_orderkey"))
    l_cond = _conditional(
        lineitem, "lineitem", F.struct("l_orderkey", "l_linenumber")
    )
    o_fk = (
        orders.select("o_custkey")
        .join(customer.select("c_custkey"), orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v__orders_fk_customer"))
    )
    l_fk = (
        lineitem.select("l_orderkey")
        .join(orders.select("o_orderkey"), lineitem.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v__lineitem_fk_orders"))
    )

    wide = o_cond
    for one_row in (l_cond, o_fk, l_fk):
        wide = wide.crossJoin(one_row)

    rows = [(name, f"{tbl}__rows") for name, tbl, _ in _ROW_CHECKS]
    rows += [
        ("orders_pk_unique", "orders__rows"),
        ("lineitem_pk_unique", "lineitem__rows"),
        ("orders_fk_customer", "orders__rows"),
        ("lineitem_fk_orders", "lineitem__rows"),
    ]
    stack_args = ", ".join(
        f"'{name}', {rows_col}, v__{name}" for name, rows_col in rows
    )
    return wide.select(
        F.expr(
            f"stack({len(rows)}, {stack_args}) AS (check_name, n_rows, violations)"
        )
    ).withColumn("passed", F.col("violations") == 0)


# --------------------------------------------------------------------------
# agg_histogram — fixed-edge equi-width histogram
# --------------------------------------------------------------------------

_HIST_LO = 900.0
_HIST_W = 5205.0  # (105_000 - 900) / 20
_HIST_NBINS = 20

# floor() output is integral, so the bigint cast is exact in both
# engines (Spark truncates, DuckDB rounds — identical on integers).
_BUCKET_EXPR = (
    f"CAST(LEAST(FLOOR((l_extendedprice - {_HIST_LO}) / {_HIST_W}), "
    f"{_HIST_NBINS - 1}) AS BIGINT)"
)


@query(
    "agg_histogram",
    oracle=f"""
    SELECT {_BUCKET_EXPR} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           printf('%.2f', CAST({_HIST_LO} + {_BUCKET_EXPR} * {_HIST_W} AS DOUBLE)) AS lo_edge,
           printf('%.2f', CAST({_HIST_LO} + ({_BUCKET_EXPR} + 1) * {_HIST_W} AS DOUBLE)) AS hi_edge
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``l_extendedprice`` with FIXED literal
    edges (the one-pass layout: no preliminary min/max scan, so a
    100 TB histogram is a single scan with map-side partial
    aggregation). Bucket ids come from ``floor`` on literal arithmetic
    — the same IEEE ops in both engines — and the top edge clamps with
    ``LEAST`` so the max value lands in the last bin, matching
    ``width_bucket`` semantics without its engine-specific edge
    handling. Edges are rendered per bucket for the report."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.select(F.expr(_BUCKET_EXPR).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bucket",
            "n_rows",
            F.expr(
                f"printf('%.2f', CAST({_HIST_LO} + bucket * {_HIST_W} AS DOUBLE))"
            ).alias("lo_edge"),
            F.expr(
                f"printf('%.2f', CAST({_HIST_LO} + (bucket + 1) * {_HIST_W} AS DOUBLE))"
            ).alias("hi_edge"),
        )
    )


# --------------------------------------------------------------------------
# events_anomaly_zscore — per-type hourly anomaly detection
# --------------------------------------------------------------------------

# One fixed IEEE expression over exact integers (c, s, sq, n are all
# bigint): identical op tree => bit-identical double in both engines.
_Z_EXPR = (
    "(CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / "
    "sqrt((CAST(sq AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE)) "
    "/ CAST(n - 1 AS DOUBLE))"
)

_Z_THRESHOLD = 2.0


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS sq
      FROM hourly GROUP BY 1)
    SELECT bucket_hour, event_type, c AS n_events,
           ROUND({_Z_EXPR}, 6) AS zscore
    FROM hourly JOIN stats USING (event_type)
    WHERE ABS({_Z_EXPR}) > {_Z_THRESHOLD}
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection on the events stream table: hourly
    event counts per type, flagged where the count deviates more than
    2σ from that type's mean hourly volume.

    Determinism: mean and variance are derived from EXACT integer
    aggregates (n, Σc, Σc²) rather than ``stddev_samp`` — float
    aggregation order differs per engine, but these integer sums are
    exact, and the z-score is then one fixed IEEE-double expression
    evaluated on identical inputs, so even the > threshold comparison
    is bit-reproducible.

    Scale: one shuffle to hourly granularity (the heavy reduction:
    raw events collapse ~3 orders of magnitude), then per-type stats
    are |event_type| rows — broadcast back onto the hourly counts."""
    events = Catalog(spark, sf_dir).events
    hourly = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(F.expr(f"ABS({_Z_EXPR}) > {_Z_THRESHOLD}"))
        .select(
            "bucket_hour",
            "event_type",
            F.col("c").alias("n_events"),
            F.expr(f"ROUND({_Z_EXPR}, 6)").alias("zscore"),
        )
    )


# --------------------------------------------------------------------------
# fn_try_arith — error-safe (TRY) expression surface
# --------------------------------------------------------------------------


@query(
    "fn_try_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_quantity - 1.0, 0.0) AS safe_ratio,
           TRY_CAST(CASE WHEN l_linenumber % 2 = 0
                         THEN CAST(l_orderkey AS VARCHAR)
                         ELSE l_returnflag END AS INTEGER) AS maybe_int,
           TRY_CAST(CASE WHEN l_linenumber % 3 = 0
                         THEN '2024-01-15 00:00:00'
                         ELSE 'not a timestamp' END AS TIMESTAMP) AS maybe_ts,
           ([10, 20, 30])[l_linenumber] AS maybe_elem
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    """,
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: ``try_divide`` (null on /0 instead
    of Inf/exception), ``try_cast`` (null on malformed input),
    ``try_to_timestamp``, ``try_element_at`` (null past the end). The
    ANSI-mode escape hatches a pipeline needs so one malformed record
    degrades to NULL instead of killing the job — the set-oriented
    version of the reference's per-record crash isolation
    (/root/reference/motorway/intersection.py:135-143). All pure
    codegen'd projections; the oracle expresses the same semantics via
    DuckDB's NULLIF / TRY_CAST / out-of-bounds list indexing."""
    li = Catalog(spark, sf_dir).lineitem
    return li.where("l_orderkey % 10 = 0").select(
        "l_orderkey",
        "l_linenumber",
        # no ROUND: both engines IEEE-divide the same doubles, so the raw
        # quotient is bit-identical — while their ROUND(double, n) impls
        # differ (exact-decimal vs scaled-float) near k.5e-n boundaries
        F.expr("try_divide(l_extendedprice, l_quantity - 1.0)").alias("safe_ratio"),
        F.expr(
            "try_cast(CASE WHEN l_linenumber % 2 = 0 "
            "THEN CAST(l_orderkey AS STRING) ELSE l_returnflag END AS INT)"
        ).alias("maybe_int"),
        F.expr(
            "try_to_timestamp(CASE WHEN l_linenumber % 3 = 0 "
            "THEN '2024-01-15 00:00:00' ELSE 'not a timestamp' END)"
        ).alias("maybe_ts"),
        F.expr("try_element_at(array(10, 20, 30), l_linenumber)").alias("maybe_elem"),
    )


@query(
    "events_anomaly_seasonal",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1),
    cells AS (
      SELECT CAST(isodow(bucket_hour) AS INTEGER) AS dow,
             CAST(hour(bucket_hour) AS INTEGER) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS sq
      FROM hourly GROUP BY 1, 2)
    SELECT bucket_hour, c AS n_events,
           ROUND({_Z_EXPR}, 6) AS seasonal_z
    FROM hourly
    JOIN cells ON CAST(isodow(bucket_hour) AS INTEGER) = cells.dow
              AND CAST(hour(bucket_hour) AS INTEGER) = cells.hod
    WHERE n > 1 AND sq * n > s * s AND ABS({_Z_EXPR}) > {_Z_THRESHOLD}
    """,
)
def events_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Season-adjusted anomaly detection: each hour's total volume is
    z-scored against ITS OWN weekly cell (same ISO day-of-week and
    hour-of-day) instead of a global mean — Monday 09:00 is compared to
    other Monday 09:00s, so regular weekly rhythm stops reading as
    anomalous (the upgrade over ``events_anomaly_zscore``'s per-type
    global baseline). Same determinism discipline: cell mean/σ derive
    from exact integer sums (n, Σc, Σc²), the z-score is one fixed
    IEEE expression, and degenerate cells (n<=1 or zero variance —
    decided in exact INTEGER arithmetic: sq*n > s*s) are excluded
    identically in both engines. Stats are 7x24 rows, broadcast back
    onto the hourly table."""
    events = Catalog(spark, sf_dir).events
    hourly = (
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_hour"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    keyed = hourly.select(
        "bucket_hour",
        "c",
        (F.weekday("bucket_hour") + 1).alias("dow"),
        F.hour("bucket_hour").alias("hod"),
    )
    cells = keyed.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    return (
        keyed.join(F.broadcast(cells), ["dow", "hod"])
        .where(
            (F.col("n") > 1)
            & (F.col("sq") * F.col("n") > F.col("s") * F.col("s"))
            & F.expr(f"ABS({_Z_EXPR}) > {_Z_THRESHOLD}")
        )
        .select(
            "bucket_hour",
            F.col("c").alias("n_events"),
            F.expr(f"ROUND({_Z_EXPR}, 6)").alias("seasonal_z"),
        )
    )


# --------------------------------------------------------------------------
# embedding_quality_stats — data-quality gate for a vector column
# --------------------------------------------------------------------------

_EMB_DIM = 64  # embeddings fixture dimension (FIXTURES.md §3)

# Unrolled left-to-right sum of squares (same rationale as
# similarity._dot: whole-stage-codegen'd AND the exact fold order of
# DuckDB's list_sum, so the per-row double is bit-identical
# cross-engine). Out-of-contract dimensions make element_at return
# NULL in both engines, so norm2 is NULL there and MIN/MAX skip it
# identically.
_NORM2_SPARK = "(" + " + ".join(
    f"CAST(element_at(embedding, {i}) AS DOUBLE)"
    f" * CAST(element_at(embedding, {i}) AS DOUBLE)"
    for i in range(1, _EMB_DIM + 1)
) + ")"
_NORM2_DUCK = (
    "list_sum(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)


def _bad_component(x):
    """NULL, NaN, or ±inf — any of which silently poisons downstream
    vector math (and whose norm² handling diverges between engines:
    Spark's + propagates NULL, DuckDB's list_sum skips it, so norm² is
    only computed for CLEAN vectors — identically in both)."""
    return (
        x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf")))
    )


@query(
    "embedding_quality_stats",
    oracle=f"""
    WITH v AS (
      SELECT label,
             len(embedding) AS dim,
             CASE WHEN len(list_filter(embedding,
                    x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                         OR isinf(CAST(x AS DOUBLE)))) = 0
                   AND len(embedding) = {_EMB_DIM}
                  THEN {_NORM2_DUCK} END AS norm2,
             len(list_filter(embedding, x -> x IS NULL
                                          OR isnan(CAST(x AS DOUBLE))
                                          OR isinf(CAST(x AS DOUBLE)))) > 0
               AS has_nonfinite
      FROM embeddings)
    SELECT label,
           COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN dim <> {_EMB_DIM} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_dim,
           CAST(SUM(CASE WHEN has_nonfinite THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonfinite,
           CAST(SUM(CASE WHEN norm2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero,
           CAST(SUM(CASE WHEN norm2 < 0.25 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_norm,
           MIN(norm2) AS min_norm2,
           MAX(norm2) AS max_norm2
    FROM v GROUP BY label
    """,
)
def embedding_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate for a vector column — the embedding-table twin
    of ``dq_checks``: per label, how many vectors are dimension-broken,
    invalid (a NULL/NaN/±inf component), zero, or suspiciously low-norm, plus the norm² range.
    This is the pre-flight a similarity/ANN pipeline runs before
    trusting cosine math (a single NaN component silently poisons every
    dot product it touches; a zero vector divides by zero).

    Determinism: all flag columns are INTEGER counts decided by per-row
    comparisons; norm² is the unrolled left-to-right fold shared with
    the similarity family (bit-identical cross-engine), and MIN/MAX are
    order-insensitive picks of those per-row values — no float
    aggregation anywhere. One scan, one hash aggregate; at 100 TB this
    is a map-side-combined groupBy on a tiny key (label)."""
    emb = Catalog(spark, sf_dir).embeddings
    v = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        F.when(
            (F.size("embedding") == _EMB_DIM) & ~F.exists("embedding", _bad_component),
            F.expr(_NORM2_SPARK),
        ).alias("norm2"),
        F.exists("embedding", _bad_component).alias("has_nonfinite"),
    )
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("dim") != _EMB_DIM, 1).otherwise(0))
        .cast("long")
        .alias("n_bad_dim"),
        F.sum(F.when(F.col("has_nonfinite"), 1).otherwise(0))
        .cast("long")
        .alias("n_nonfinite"),
        F.sum(F.when(F.col("norm2") == 0.0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero"),
        F.sum(F.when(F.col("norm2") < 0.25, 1).otherwise(0))
        .cast("long")
        .alias("n_low_norm"),
        F.min("norm2").alias("min_norm2"),
        F.max("norm2").alias("max_norm2"),
    )


# candidate functional dependencies audited by dq_functional_dependency:
# (name, table, determinant, dependent). Mix of FDs that HOLD in TPC-H
# by construction and ones that genuinely don't — the audit must report
# both states, not assume.
FD_CANDIDATES = [
    ("part.p_partkey->p_brand", "part", "p_partkey", "p_brand"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("part.p_type->p_size", "part", "p_type", "p_size"),
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("documents.lang->source", "documents", "lang", "source"),
]


def _fd_oracle() -> str:
    parts = []
    for name, table, det, dep in FD_CANDIDATES:
        parts.append(f"""
    SELECT '{name}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_keys,
           ROUND(CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS violation_rate
    FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS n_dep
          FROM {table} GROUP BY {det})""")
    return " UNION ALL ".join(parts)


@query("dq_functional_dependency", oracle=_fd_oracle())
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate FD A->B, how many
    A-values map to more than one distinct B — the schema-inference /
    data-contract check profilers run to discover which columns are
    really determined by which (and the regression alarm when an
    upstream feed breaks a dependency that used to hold). Complements
    dq_checks (row-level predicates) and profile_columns (per-column
    stats) with CROSS-column structure.

    The candidate list mixes FDs the fixtures satisfy by construction
    (key -> attribute, nationkey -> regionkey) with ones they don't
    (brand -> type, lang -> source) so both outcomes are exercised. Scale shape: each FD is one
    two-level aggregation — (A, B) distinct pairs, then per-A distinct-B
    counts — map-side combinable, shuffles bounded by key cardinality,
    one scan per table (Catalyst shares the scan across same-table FDs
    via the union). Integer counts + one final division, exact
    cross-engine."""
    cat = Catalog(spark, sf_dir)
    outs = []
    for name, table, det, dep in FD_CANDIDATES:
        per_key = (
            getattr(cat, table)
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("n_dep"))
        )
        viol = F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0)).cast("long")
        outs.append(
            per_key.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).alias("n_keys"),
                viol.alias("n_violating_keys"),
                F.round(
                    viol.cast("double") / F.count(F.lit(1)).cast("double"), 6
                ).alias("violation_rate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ---------------------------------------------------------------------------
# Split drift audit (chi-square over a length histogram).
# ---------------------------------------------------------------------------
# Length-bucket geometry: floor(n_tokens / 20), capped.
DRIFT_BUCKET_W = 20
DRIFT_BUCKET_CAP = 10

# One shared per-bucket chi-square contribution, parsed by BOTH
# engines (identical IEEE op tree; x*x instead of pow — pow is libm).
# Inputs: n_train, n_test (bucket counts), tot_train, tot_test, tot
# (margins). expected_ij = row_total * col_total / grand_total.
_CHI2_CONTRIB = (
    "CAST(("
    "((CAST(n_train AS DOUBLE)"
    "  - (CAST(n_train + n_test AS DOUBLE) * CAST(tot_train AS DOUBLE))"
    "    / CAST(tot AS DOUBLE))"
    " * (CAST(n_train AS DOUBLE)"
    "  - (CAST(n_train + n_test AS DOUBLE) * CAST(tot_train AS DOUBLE))"
    "    / CAST(tot AS DOUBLE)))"
    " / ((CAST(n_train + n_test AS DOUBLE) * CAST(tot_train AS DOUBLE))"
    "    / CAST(tot AS DOUBLE))"
    " + ((CAST(n_test AS DOUBLE)"
    "  - (CAST(n_train + n_test AS DOUBLE) * CAST(tot_test AS DOUBLE))"
    "    / CAST(tot AS DOUBLE))"
    " * (CAST(n_test AS DOUBLE)"
    "  - (CAST(n_train + n_test AS DOUBLE) * CAST(tot_test AS DOUBLE))"
    "    / CAST(tot AS DOUBLE)))"
    " / ((CAST(n_train + n_test AS DOUBLE) * CAST(tot_test AS DOUBLE))"
    "    / CAST(tot AS DOUBLE))"
    ") AS DECIMAL(38,6))"
)


@query(
    "dq_split_drift_chi2",
    oracle=f"""
    WITH b AS MATERIALIZED (
      SELECT least(CAST(len(string_split(coalesce(text, ''), ' '))
                        // {DRIFT_BUCKET_W} AS BIGINT),
                   {DRIFT_BUCKET_CAP}) AS bucket,
             CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6'
                  THEN 1 ELSE 0 END AS is_train
      FROM documents),
    cnt AS MATERIALIZED (
      SELECT bucket,
             CAST(SUM(is_train) AS BIGINT) AS n_train,
             CAST(SUM(1 - is_train) AS BIGINT) AS n_test
      FROM b GROUP BY bucket),
    m AS (
      SELECT CAST(SUM(n_train) AS BIGINT) AS tot_train,
             CAST(SUM(n_test) AS BIGINT) AS tot_test,
             CAST(SUM(n_train + n_test) AS BIGINT) AS tot
      FROM cnt)
    SELECT bucket, n_train, n_test,
           ROUND(CAST({_CHI2_CONTRIB} AS DOUBLE), 6) AS chi2_contrib
    FROM cnt, m
    """,
)
def dq_split_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between the hash-stable train/test
    splits (same md5 < 'e6' rule as pipeline_pretraining_mix): a
    chi-square contingency test over the document-length histogram,
    one row per length bucket with its chi-square contribution — the
    standard pre-training split QA ("did the split skew the length
    mix?") and, run between two corpus SNAPSHOTS instead of two
    splits, the ingest-drift monitor. Chi-square instead of PSI/KL by
    design: those need libm ln (not bit-reproducible across engines);
    the chi-square statistic is pure rational arithmetic, expressed as
    ONE shared expression string parsed by both engines, decimal-cast
    at the row level so the (driver-side) total is also exact.

    Scale shape (100 TB): one scan -> an 11-bucket map-side-combinable
    aggregate -> a broadcast 1-row margin join. Nothing wider than the
    bucket count ever shuffles.
    """
    docs = Catalog(spark, sf_dir).documents
    b = docs.select(
        F.least(
            (
                F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
                / F.lit(DRIFT_BUCKET_W)
            ).cast("bigint"),
            F.lit(DRIFT_BUCKET_CAP).cast("bigint"),
        ).alias("bucket"),
        F.when(F.md5(F.col("doc_id").cast("string")) < "e6", 1)
        .otherwise(0)
        .alias("is_train"),
    )
    cnt = b.groupBy("bucket").agg(
        F.sum("is_train").cast("bigint").alias("n_train"),
        F.sum(1 - F.col("is_train")).cast("bigint").alias("n_test"),
    )
    # margins as an unbounded window over the ≤11-row bucket table —
    # the previous cnt.agg() + crossJoin referenced the cnt subtree
    # twice and ReusedExchange does not fire across the differing
    # aggregate levels, so the documents scan + tokenize ran TWICE
    # (plan-audited: 2 FileScans -> 1). The window's single-partition
    # exchange sees only the bucket rows; bigint sums are exact in any
    # order, so every margin is bit-identical.
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        cnt.select(
            "bucket",
            "n_train",
            "n_test",
            F.sum("n_train").over(wall).alias("tot_train"),
            F.sum("n_test").over(wall).alias("tot_test"),
            F.sum(F.col("n_train") + F.col("n_test")).over(wall).alias("tot"),
        )
        .select(
            "bucket",
            "n_train",
            "n_test",
            F.round(F.expr(_CHI2_CONTRIB).cast("double"), 6).alias(
                "chi2_contrib"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit drift audit.
# ---------------------------------------------------------------------------
# log10(1 + 1/d) in exact micro-units, precomputed (no libm in either
# engine's plan — the BM25/chi-square discipline): 301030 = round(1e6 *
# log10(2)), etc. benford_expected = micro / 1e6 exactly.
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {m}" for d, m in _BENFORD_MICRO.items())
    + " END"
)


@query(
    "dq_benford_first_digit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(LEFT(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM digits),
    freq AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n, n_total,
             CAST(FLOOR(CAST(2 * COUNT(*) * 1000000 + n_total AS DOUBLE)
                        / CAST(2 * n_total AS DOUBLE)) AS BIGINT) AS f_micro
      FROM digits CROSS JOIN tot GROUP BY digit, n_total)
    SELECT digit, n,
           CAST(f_micro AS DOUBLE) / 1000000.0 AS observed_freq,
           CAST({_BENFORD_CASE} AS DOUBLE) / 1000000.0 AS benford_expected,
           CAST(ABS(f_micro - {_BENFORD_CASE}) AS DOUBLE) / 1000000.0
             AS abs_dev
    FROM freq ORDER BY digit
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order amounts — the classic
    fabricated-data / broken-feed detector (a synthetic or truncated
    amount column drifts visibly from log10(1+1/d)). Complements
    dq_split_drift_chi2 (distribution drift BETWEEN splits) with drift
    against a THEORETICAL reference.

    Determinism: the first digit comes from the BIGINT string (integer
    formatting is unambiguous cross-engine; double formatting is not),
    expected frequencies are exact micro-unit literals (no libm log10
    in either plan), and the observed frequency is the integer-exact
    half-up mean trick (floor((2n*1e6 + total) / (2*total)) — see
    similarity._km_mean_sql for why ROUND on a quotient double is not
    cross-engine-stable). The deviation is then pure integer math.

    Scale shape: one scan, one 9-group aggregate, a 1-row total
    broadcast back — nothing grows with data size except the scan."""
    orders = Catalog(spark, sf_dir).orders
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.expr(
            "CAST(LEFT(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS STRING), 1) AS INT)"
        ).alias("digit")
    )
    # n_total as an unbounded window over the 9-row digit table — the
    # previous digits.agg() + crossJoin scanned orders twice (same
    # no-ReusedExchange shape as dq_split_drift_chi2, plan-audited:
    # 2 FileScans -> 1). sum(n) over the groups is exactly COUNT(*) of
    # digits (bigint-exact in any order).
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    freq = (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("n_total", F.sum("n").over(wall))
        .withColumn(
            "f_micro",
            F.expr(
                "CAST(FLOOR(CAST(2 * n * 1000000 + n_total AS DOUBLE)"
                " / CAST(2 * n_total AS DOUBLE)) AS BIGINT)"
            ),
        )
    )
    return freq.select(
        "digit",
        "n",
        (F.col("f_micro").cast("double") / F.lit(1000000.0)).alias(
            "observed_freq"
        ),
        (
            F.expr(f"CAST({_BENFORD_CASE} AS DOUBLE)") / F.lit(1000000.0)
        ).alias("benford_expected"),
        (
            F.expr(f"CAST(ABS(f_micro - {_BENFORD_CASE}) AS DOUBLE)")
            / F.lit(1000000.0)
        ).alias("abs_dev"),
    ).orderBy("digit")
