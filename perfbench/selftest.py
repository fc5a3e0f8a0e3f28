"""Self-test of the benchmark harness at tiny sizes.

Usage (from the root of a checkout): ``python3 perfbench/selftest.py``

Runs every workload small enough to finish in well under a minute each,
traced and untraced, and checks that each run is correct and prints
every metric BENCHMARK.json names, with its unit. Then it injects one
fault per workload — a record the generator leaves out, a word count
off by one, a query result missing a row — and checks that each one is
counted as a failure. Each case runs in its own process, because a
Spark session's JVM lives as long as the process that started it.
Exits 0 when every case passes.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

TINY = {
    "stream_wordcount_drain": {"per_file": 500, "vocab": 2000},
    "stream_ingest_openloop": {"rate": 100},
    "batch_query_mix": {"mix": ("q1_pricing_summary", "agg_cube")},
}
#: (case, workload, trace, fault kwargs); a fault case must report failures
CASES = [
    ("drain", "stream_wordcount_drain", 1, {}),
    ("drain_corrupted_count", "stream_wordcount_drain", 0, {"corrupt": True}),
    ("openloop", "stream_ingest_openloop", 1, {}),
    ("openloop_untraced", "stream_ingest_openloop", 0, {}),
    ("openloop_dropped_record", "stream_ingest_openloop", 0, {"drop": 250}),
    ("mix", "batch_query_mix", 1, {}),
    ("mix_corrupted_result", "batch_query_mix", 0, {"corrupt": "agg_cube"}),
]


def run_case(workload: str, trace: int, fault: dict) -> None:
    """Child process: one tiny run, result JSON on the last line."""
    t_process = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    from perfbench import run

    run.prepare_imports()
    out = run.run(workload, 7, 2, bool(trace), t_process, **TINY[workload], **fault)
    print(json.dumps(out["result"]))


def check(workload: str, trace: int, fault: dict) -> list[str]:
    from perfbench.run import metric_units

    proc = subprocess.run(
        [sys.executable, __file__, "--case", json.dumps([workload, trace, fault])],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"exit {proc.returncode}: {proc.stderr.strip().splitlines()[-1:]}"]
    res = json.loads(lines[-1])
    errors = []
    units = metric_units("per_layer" if trace else "end_to_end")
    for name, unit in units.items():
        got = res["metrics"].get(name)
        if got is None or got.get("unit") != unit or not isinstance(got.get("value"), float):
            errors.append(f"metric {name}: {got}")
    if set(res["metrics"]) != set(units):
        errors.append(f"unexpected metrics: {sorted(set(res['metrics']) - set(units))}")
    if fault and (res["failed"] < 1 or res["correct"]):
        errors.append(f"fault {fault} not counted: {res['failed']}/{res['attempted']}")
    if not fault and (res["failed"] or not res["correct"]):
        errors.append(f"{res['failed']}/{res['attempted']} failed")
    return errors


def main() -> int:
    if sys.argv[1:2] == ["--case"]:
        workload, trace, fault = json.loads(sys.argv[2])
        run_case(workload, trace, fault)
        return 0
    sys.path.insert(0, str(ROOT))
    failures = 0
    for case, workload, trace, fault in CASES:
        t0 = time.perf_counter()
        errors = check(workload, trace, fault)
        failures += bool(errors)
        print(f"{'FAIL' if errors else 'ok  '} {case} ({time.perf_counter() - t0:.0f} s)")
        for e in errors:
            print(f"     {e}")
    print(f"{len(CASES) - failures}/{len(CASES)} cases passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
