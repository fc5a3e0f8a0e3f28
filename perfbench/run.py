"""Run one perfbench workload and print its figures.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``stream_wordcount_drain``, ``stream_ingest_openloop`` and
``batch_query_mix`` (see perfbench/README.md). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics (plus the traced run's own end-to-end figures, ``traced.*``)
with ``--trace 1``. The lines before it give the same run under the
names the workload reports its figures by, its failures and, when
traced, where the span file was written.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("stream_wordcount_drain", "stream_ingest_openloop", "batch_query_mix")


def metric_units(section: str) -> dict[str, str]:
    """(name -> unit) of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json; every workload prints all of them, and a
    layer a workload bypasses reads 0."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_imports() -> None:
    """Make the checkout's package importable here and in Spark's Python
    workers (which inherit the environment), or exit without a result."""
    if not (ROOT / "motorway_spark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no motorway_spark package under {ROOT}")
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def run(workload: str, seed: int, seconds: int, trace: bool, t_process: float,
        **kwargs) -> dict:
    """Run one workload; return the result object printed as the last line."""
    import importlib

    from collections import Counter

    from perfbench.harness import Run, event_log_jobs, job_totals

    module = importlib.import_module(
        {"stream_wordcount_drain": "perfbench.drain",
         "stream_ingest_openloop": "perfbench.openloop",
         "batch_query_mix": "perfbench.mix"}[workload])
    r = Run(workload, seed, seconds, trace, t_process)
    try:
        e2e = module.run(r, **kwargs)
        if trace:
            # the event log is complete once Spark has stopped
            r.close()
            jobs = event_log_jobs(str(r.evdir))
            t0_ms, t1_ms = r.info["window_wall_ms"]
            window = [j for j in jobs if t0_ms <= j["submitted_ms"] <= t1_ms]
            r.layers.update(job_totals(window, "spark"))
            r.info["window_job_groups"] = dict(Counter(
                (j["group"] or "(none)").rsplit(":", 1)[0] for j in window))
            if hasattr(module, "event_log_layers"):
                r.layers.update(module.event_log_layers(r, jobs))
            span_file = r.base / "out" / f"{workload}-seed{seed}-spans.json"
            r.tracer.write(span_file)
            r.info["span_file"] = str(span_file.relative_to(ROOT))
            r.info["self_ms"] = r.tracer.self_times_ms()
    finally:
        r.close()
        r.cleanup()
    r.info["layers"] = r.layers
    if trace:
        units = metric_units("per_layer")
        values = {**r.layers, **{f"traced.{k}": v for k, v in e2e.items()}}
    else:
        units = metric_units("end_to_end")
        values = e2e
    r.info["failed_ratio"] = r.failed / r.attempted if r.attempted else 1.0
    r.info["problems"] = r.problems
    return {
        "info": r.info,
        "result": {
            "correct": r.failed == 0 and r.attempted > 0,
            "attempted": max(r.attempted, 1),
            "failed": r.failed if r.attempted else 1,
            "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                        for k, u in units.items()},
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_imports()
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), T_PROCESS)
    for key, value in out["info"].items():
        print(f"# {key}: {json.dumps(value, default=str)}")
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
