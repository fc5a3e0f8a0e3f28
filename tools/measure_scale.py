"""Scale/codec measurement for a query subset (r13 items 8-9).

Usage:
  python tools/measure_scale.py SF_DIR CPUS CODEC OUT_JSON NAME [NAME...]

Runs each named registry query best-of-2 with the noop sink on
local[CPUS] with spark.io.compression.codec=CODEC, event log enabled;
parses the event log afterwards and attributes per-query shuffle
read/write bytes and task time via the job-description label. One JSON
artifact per (cpus, codec) point; compare points for the c8/c32
scaling ratio and the lz4/zstd shuffle-codec delta.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.capture_plans import query_jobs  # noqa: E402


def scale_metrics(evdir: str) -> dict[str, dict[str, float]]:
    """Query name -> executor task seconds and shuffle/input bytes,
    summed over the query's ``[name]``-tagged jobs in the event log."""
    keys = ("task_time_sec", "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes")
    return {
        q: {k: round(sum(j[k] for j in jobs), 2) for k in keys}
        for q, jobs in query_jobs(evdir).items()
    }


def main() -> int:
    sf_dir, cpus, codec, out_path = (
        sys.argv[1],
        int(sys.argv[2]),
        sys.argv[3],
        sys.argv[4],
    )
    names = sys.argv[5:]
    evdir = tempfile.mkdtemp(prefix="scale_events_")

    from motorway_spark.maintenance import CACHES
    from motorway_spark.queries import QUERIES
    from motorway_spark.session import get_session

    spark = get_session(
        "measure-scale",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.io.compression.codec": codec,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(10000).count()

    wall: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"[{name}]")
        samples = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
            CACHES.release_all()
            spark.catalog.clearCache()
        wall[name] = round(min(samples), 3)
        print(f"# {name}: {wall[name]:.2f}s", file=sys.stderr)
    spark.stop()

    out = {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "codec": codec,
        "wall": wall,
        "metrics": scale_metrics(evdir),
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
