#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload corpus_index --seeds 1-10 [--trace 0] [--seconds 10]

For every metric: the median, the quartiles as `statistics.quantiles(values,
n=4)` gives them, and the spread (q3 - q1) / median, beside the bound
BENCHMARK.json fixes for it. Work counters of a traced run are listed as
exact when every seed's run of them agrees, as varying otherwise.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", help="write the per-run lines and the summary here (JSON)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print("seed %d failed (exit %d):\n%s" % (seed, p.returncode, p.stderr[-2000:]), file=sys.stderr)
            sys.exit(1)
        line = json.loads(lines[-1])
        line["seed"], line["wall_s"] = seed, time.time() - t0
        runs.append(line)
        print("seed %d: correct=%s wall=%.1fs %s" % (seed, line["correct"], line["wall_s"], " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in sorted(line["metrics"].items())
            if k in bounds or args.trace == 0)), flush=True)
    summary = {}
    print("\n%-36s %12s %12s %12s %8s %6s" % ("metric", "median", "q1", "q3", "spread", "bound"))
    for name in sorted(runs[0]["metrics"]):
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        exact = len(set(values)) == 1
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "exact": exact,
                         "min": min(values), "max": max(values)}
        b = bounds.get(name)
        print("%-36s %12.6g %12.6g %12.6g %8.4f %6s%s" % (
            name, med, q1, q3, spread, "" if b is None else b,
            "" if b is None else ("  ok" if spread < b / 3 else "  WIDE")))
    walls = [r["wall_s"] for r in runs]
    print("\nall correct: %s; wall per run: median %.1f s, max %.1f s" % (
        all(r["correct"] for r in runs), statistics.median(walls), max(walls)))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace, "runs": runs,
                       "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
