"""Run a workload on several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload github --seeds 1 2 3 4 5 [--out f.json]

For every end-to-end metric, prints the median of the runs and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
BENCHMARK.json. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=False,
    )
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    result["seed"] = seed
    result["exit"] = out.returncode
    result["elapsed_s"] = time.monotonic() - t0
    return result


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    table = {}
    names = runs[0].get("metrics", {}).keys() if runs else ()
    for name in names:
        values = [r["metrics"][name]["value"] for r in runs if "metrics" in r]
        row = {"median": stats.median(values), "n": len(values)}
        if len(values) >= 2:
            row["spread"] = stats.quartile_spread(values)
        if name in bounds:
            row["bound"] = bounds[name]
        table[name] = row
    return table


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = []
    for seed in args.seeds:
        r = one_run(args.workload, seed, spec["run_seconds"])
        runs.append(r)
        print(json.dumps(r), flush=True)
    table = summarize(runs, bounds)
    for name, row in table.items():
        spread = row.get("spread")
        print(
            f"{name:20s} median {row['median']:12.4f}  "
            f"spread {'-' if spread is None else f'{spread:.3f}':>6s}  "
            f"bound {row.get('bound', '-')}"
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": table}, f, indent=1)
    return 0 if all(r.get("correct") for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
