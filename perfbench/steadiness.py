"""Run the benchmark on several seeds and report how much each
end-to-end metric spreads.

    python3 perfbench/steadiness.py --seeds 1-10 [--workload ingest] [--out FILE]
    python3 perfbench/steadiness.py --seeds 3-3 --trace 1 --repeat 2

For each workload and end-to-end metric: the median, the quartiles
(``statistics.quantiles(values, n=4)``), the spread (quartile
distance as a share of the median) and the share of the metric's
bound that spread uses. With ``--trace 1`` it lists instead the
per-layer counts (unit ``count``, and shuffle volumes) that differ
between repeated runs of one seed; host-independent counts should
repeat exactly. Runs are sequential, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    # run.py reports the timed window's wall time on stderr
    result["window_s"] = float(
        re.search(r"window ([0-9.]+) s", proc.stderr).group(1))
    return result


def summarize(spec: dict, runs: list[dict]) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med
        out[m["name"]] = {
            "median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": m["bound"], "spread_over_bound": spread / m["bound"],
        }
    return out


def unrepeated_counts(spec: dict, runs: list[dict]) -> dict:
    """Count-like per-layer metrics whose value differs between runs
    of the same seed: {metric: [values]}."""
    names = [m["name"] for m in spec["per_layer"]
             if m["unit"] == "count" or m["name"].endswith("shuffle_mb")]
    out = {}
    for seed in sorted({r["seed"] for r in runs}):
        same = [r for r in runs if r["seed"] == seed]
        for name in names:
            values = [r["metrics"][name]["value"] for r in same]
            if len(set(values)) > 1:
                out[f"{name}@{seed}"] = values
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10", help="first-last")
    p.add_argument("--workload", action="append")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--repeat", type=int, default=1, help="runs per seed")
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    lo, hi = (int(s) for s in args.seeds.split("-"))
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        runs = []
        for seed in range(lo, hi + 1):
            for _ in range(args.repeat):
                r = run_once(w, seed, spec["run_seconds"], args.trace)
                r["seed"] = seed
                runs.append(r)
                print(json.dumps({"workload": w, **r}), flush=True)
        report[w] = {"runs": runs}
        if args.trace:
            report[w]["unrepeated_counts"] = unrepeated_counts(spec, runs)
            print(f"{w}: counts that differ between repeats: "
                  f"{report[w]['unrepeated_counts']}", flush=True)
        else:
            report[w]["summary"] = summarize(spec, runs)
            for name, s in report[w]["summary"].items():
                print(f"{w:10s} {name:12s} median {s['median']:10.2f} "
                      f"spread {s['spread']:.3f} ({s['spread_over_bound']:.2f} "
                      "of bound)", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
