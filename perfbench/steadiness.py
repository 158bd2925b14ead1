#!/usr/bin/env python3
"""Check that the benchmark's end-to-end metrics are steady across seeds.

    python3 perfbench/steadiness.py --seeds 101-110 [--workloads a,b]

Runs ``perfbench/run.py --trace 0`` once per seed and workload, one run
at a time, printing each run's end-to-end metrics with their units and
its error rate; then prints for every end-to-end metric the median and the
spread: the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median, next
to the metric's bound from ``BENCHMARK.json``. A spread should stay
below a third of its bound (``setup_s`` excepted). Exits non-zero if a
run fails or reports incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()

    ok = True
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().split("\n")
            result = json.loads(lines[-1]) if proc.returncode == 0 else {}
            if not result.get("correct"):
                print(f"{workload} seed {seed}: rc={proc.returncode} {proc.stderr[-500:]}")
                ok = False
                continue
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: " + " ".join(
                f"{n}={m['value']:.4g} {m['unit']}" for n, m in result["metrics"].items())
                + f" error_rate={result['failed'] / result['attempted']:.3g}", flush=True)
        for m in spec["end_to_end"]:
            vals = values.get(m["name"], [])
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- not steady"
            print(f"  {workload:20s} {m['name']:12s} median={med:.4g} "
                  f"spread={spread:.3f} bound={m['bound']}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
