#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds and report, for each
end-to-end metric, the median and the spread (third minus first quartile,
as a share of the median) against the metric's bound in BENCHMARK.json.

Usage, from the repository root:

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--first-seed 1] [--trace]

A spread above a third of the bound is flagged; setup_s is reported but its
spread is not held to the bound. Each run's wall time is reported too, so
the whole benchmark's run time can be estimated. With --trace every seed is
also run traced, and the tracing overhead is reported per workload: the
median traced round time (trace.round_s) minus the median untraced one
(round_s).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default="")
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    ok = True
    def run(w, seed, trace):
        t0 = time.time()
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last:
            print(f"{w} seed {seed} trace {trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
            return None, wall
        res = json.loads(last)
        print(f"{w} seed {seed} trace {trace}: correct={res['correct']} {wall:.0f} s", flush=True)
        return res, wall

    for w in names:
        runs, walls, traced = [], [], []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            res, wall = run(w, seed, 0)
            walls.append(wall)
            ok &= bool(res and res["correct"])
            if res:
                runs.append(res)
            if args.trace:
                res, wall = run(w, seed, 1)
                ok &= bool(res and res["correct"])
                if res:
                    traced.append(res["metrics"]["trace.round_s"]["value"])
        print(f"\n{w}: {len(runs)} runs, run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            if len(vals) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ""
            if m["name"] != "setup_s" and spread > m["bound"] / 3:
                flag = "  <-- above a third of the bound"
                ok = False
            print(f"  {m['name']:14s} median {med:12.4f} {m['unit']:8s} spread {spread:.4f} "
                  f"bound {m['bound']}{flag}")
        if traced:
            base = statistics.median(r["metrics"]["round_s"]["value"] for r in runs)
            over = statistics.median(traced) - base
            print(f"  tracing overhead: {over:+.3f} s ({100 * over / base:+.1f} %) over "
                  f"{len(traced)} traced and {len(runs)} untraced runs")
        print()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
