"""Run-to-run spread of the end-to-end metrics, the way the acceptance rule
computes it: one run per seed, then for each metric the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median.

    python3 perfbench/spread.py --workload paper_pipeline --seeds 1-10 [--trace 0]

Run from the repository root. Prints one line per run and a JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed} wall {walls[-1]:.1f}s correct {result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        summary[k] = {
            "median": med,
            "iqr_share": (q3 - q1) / med if med else None,
            "bound": bounds.get(k),
        }
    print(json.dumps({"workload": args.workload, "runs": len(walls),
                      "wall_s": {"median": statistics.median(walls), "max": max(walls)},
                      "metrics": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
