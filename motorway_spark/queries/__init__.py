"""Query registry: the engine's declared operator surface (SURVEY.md §2b).

Every operator the engine claims is registered here as a named query —
a ``(spark, sf_dir) -> DataFrame`` callable — optionally paired with an
ANSI-SQL oracle string that DuckDB runs over the same parquet tables.
The driver hash-compares the two at sf0.01; that pair IS the correctness
contract for the operator.

Import side effects: importing this package loads every query module so
the registry is fully populated.
"""

from motorway_spark.queries.registry import QUERIES, ORACLES, query, get_queries, get_oracles

# Populate the registry.
from motorway_spark.queries import changefeed  # noqa: F401,E402
from motorway_spark.queries import dataquality  # noqa: F401,E402
from motorway_spark.queries import spatial  # noqa: F401,E402
from motorway_spark.queries import timeseries  # noqa: F401,E402
from motorway_spark.queries import profiling  # noqa: F401,E402
from motorway_spark.queries import dedup  # noqa: F401,E402
from motorway_spark.queries import pipelines  # noqa: F401,E402
from motorway_spark.queries import similarity  # noqa: F401,E402
from motorway_spark.queries import text  # noqa: F401,E402
from motorway_spark.queries import multimodal  # noqa: F401,E402
from motorway_spark.queries import udfs  # noqa: F401,E402
from motorway_spark.queries import scalar_functions  # noqa: F401,E402
from motorway_spark.queries import scans  # noqa: F401,E402
from motorway_spark.queries import streaming_queries  # noqa: F401,E402
from motorway_spark.queries import setops  # noqa: F401,E402
from motorway_spark.queries import sampling  # noqa: F401,E402
from motorway_spark.queries import graph  # noqa: F401,E402
from motorway_spark.queries import tpch_extra  # noqa: F401,E402
from motorway_spark.queries import joins  # noqa: F401,E402
from motorway_spark.queries import relational  # noqa: F401,E402
from motorway_spark.queries import windows  # noqa: F401,E402
from motorway_spark.queries import sql_facade  # noqa: F401,E402

__all__ = ["QUERIES", "ORACLES", "query", "get_queries", "get_oracles"]
