"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``motorway_spark.queries`` (registry pattern:
each module registers ``(spark, sf_dir) -> DataFrame`` callables
plus DuckDB oracle SQL). This file is a thin adapter.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_SWEPT_ROUND = re.compile(r"CORRECTNESS_r(\d+)\.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    from motorway_spark.queries import QUERIES

    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def _latest_swept_round() -> dict[str, int]:
    """Query name -> highest N of any ``CORRECTNESS_r<N>.json`` next to
    this file that has a row for it."""
    latest: dict[str, int] = {}
    for path in Path(__file__).resolve().parent.iterdir():
        m = _SWEPT_ROUND.fullmatch(path.name)
        if m:
            for name in json.loads(path.read_text()):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in sweep
    order: each round's correctness sweep has a budget and takes a
    prefix of this dict.
    Queries with an oracle come first, least recently swept first (never
    swept reads as round 0); rows-only queries come last. Ties keep
    registration order."""
    from motorway_spark.queries import get_oracles, get_queries

    qs, oracles = get_queries(), get_oracles()
    latest = _latest_swept_round()
    order = sorted(qs, key=lambda n: (n not in oracles, latest.get(n, 0)))
    return {n: qs[n] for n in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each SQL-expressible query."""
    from motorway_spark.queries import get_oracles

    return get_oracles()
