"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/check_spread.py --workloads ivf-ingest facade-curation --seeds 1-10

For every workload and metric it prints the median, the quartile spread
((Q3 − Q1) / median, quartiles as statistics.quantiles(n=4) gives them)
and that spread as a share of the metric's bound in BENCHMARK.json, plus
the wall time of each run against the per-run ceiling: a full
measurement makes 4 + 22 runs per workload, all within BUDGET_S. Raw
results go to .perfbench-out/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: wall time allowed for all runs of a full measurement
BUDGET_S = 3420


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    ceiling = BUDGET_S / (4 + 22 * len(bench["workloads"]))
    ok = True
    for w in args.workloads:
        runs = []
        for seed in parse_seeds(args.seeds):
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                ok = False
                continue
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            result.update(seed=seed, wall_s=wall, info=json.loads(lines[-2])["info"])
            runs.append(result)
            ok &= result["correct"]
            print(f"{w} seed {seed}: wall {wall:.1f}s (ceiling {ceiling:.0f}s) "
                  f"steal {result['info']['loop_cpu_steal_frac']:.3f} correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}", flush=True)
        with open(os.path.join(out_dir, f"spread-{w}-{stamp}.json"), "w") as f:
            json.dump(runs, f, indent=1)
        if len(runs) < 2:
            continue
        walls = [r["wall_s"] for r in runs]
        print(f"\n{w}: {len(runs)} runs, wall median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s, ceiling {ceiling:.1f}s")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            spread = quartile_spread(vals) if len(vals) > 2 else float("nan")
            bound = bounds.get(name)
            share = f"{spread / bound:.2f} of bound" if bound else ""
            print(f"  {name:40s} median {med:12.4f}  spread {spread:.4f}  {share}")
        print()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
