"""Write the per-layer table of a traced run next to an untraced one.

    python3 perfbench/trace_report.py --out perfbench/TRACE.md

For each workload, runs the benchmark ``PAIRS`` times with ``--trace 0``
and ``PAIRS`` times with ``--trace 1`` on seed ``SEED``, alternating,
then writes a markdown report: every per-layer metric of the median
traced run, the sum of its spans against the wall time of the measured
region, and the tracing overhead (median traced against median
untraced wall time of the measured region). Run from a checkout root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from steady import one_run  # noqa: E402

SEED = 1
PAIRS = 3


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(printed result, run record) of one benchmark run."""
    result = one_run(workload, seed, seconds, trace)
    if not result.get("correct"):
        raise SystemExit(f"{workload} seed {seed} trace {trace}: run failed or incorrect")
    records = glob.glob(os.path.join(".perfbench", "records", f"{workload}-s{seed}-t{trace}-*.json"))
    with open(max(records, key=os.path.getmtime)) as f:
        return result, json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    traced = {}
    lines = [
        "# Traced run: per-layer metrics",
        "",
        f"Seed {SEED}, `--seconds {seconds}`. Generated by "
        "`python3 perfbench/trace_report.py`, which runs each workload "
        f"{PAIRS} times untraced and {PAIRS} times traced, alternating. "
        "Walls are of the measured region. The overhead compares the "
        "median walls; the per-layer table is from the median traced "
        "run. Millisecond, MB and count figures are per measured pass; "
        "`count/step` and `ms/step` are means over the measured steps.",
        "",
        "| workload | untraced walls s | traced walls s | overhead | span sum s "
        "| span sum / its wall | span sum / untraced median |",
        "|---|---|---|---|---|---|---|",
    ]
    for w in workloads:
        plain, runs = [], []
        for _ in range(PAIRS):
            plain.append(run_once(w, SEED, seconds, 0)[1]["result"]["wall_s"])
            runs.append(run_once(w, SEED, seconds, 1))
        runs.sort(key=lambda r: r[1]["result"]["wall_s"])
        traced[w] = runs[PAIRS // 2]
        t = traced[w][1]["result"]
        p_med = statistics.median(plain)
        walls = [r[1]["result"]["wall_s"] for r in runs]
        lines.append(
            f"| {w} | {', '.join(f'{x:.2f}' for x in plain)} | "
            f"{', '.join(f'{x:.2f}' for x in walls)} | "
            f"{(t['wall_s'] / p_med - 1) * 100:+.1f}% | {t['span_sum_s']:.2f} | "
            f"{t['span_sum_s'] / t['wall_s']:.3f} | {t['span_sum_s'] / p_med:.3f} |"
        )
    lines += ["", "| metric | unit | " + " | ".join(workloads) + " |",
              "|---|---|" + "---|" * len(workloads)]
    for m in spec["per_layer"]:
        vals = [traced[w][0]["metrics"][m["name"]]["value"] for w in workloads]
        lines.append(f"| `{m['name']}` | {m['unit']} | " + " | ".join(f"{v:.4g}" for v in vals) + " |")
    lines += ["", "Inputs and environment of the median traced runs:", ""]
    for w in workloads:
        rec = traced[w][1]
        lines.append(
            f"- `{w}`: {rec['master']}, inputs {json.dumps(rec['result']['inputs'])}, "
            f"load average at start {rec['loadavg_start'][0]:.2f}, "
            f"CPU steal {rec['cpu_steal_share'] * 100:.1f}%"
        )
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
