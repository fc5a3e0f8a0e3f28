"""Per-job profiler for registry queries (guide §1: measure first).

Usage: python tools/profile_query.py SF_DIR NAME [NAME...]

Runs each named query once with the noop sink inside a session that
writes a Spark event log to a temp dir, then reads the log with
``tools/capture_plans.py``'s reader and prints one line per job: wall
seconds, number of tasks, total task time, and the job's call site —
the local[N] stand-in for the Spark UI's Jobs page (spark.ui is
disabled in the engine sessions).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.capture_plans import per_query_jobs  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    evdir = tempfile.mkdtemp(prefix="spark_events_")

    from motorway_spark.session import get_session
    from motorway_spark.queries import QUERIES

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_session(
        "motorway-profile",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warmup

    totals: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"[{name}]")
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        totals[name] = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
    spark.stop()

    tables = per_query_jobs(evdir)
    for name in names:
        print(f"\n######## {name}: {totals[name]:.3f}s total")
        print("\n".join(tables.get(name, [])))
    print(f"\nevent log: {evdir}")


if __name__ == "__main__":
    main()
