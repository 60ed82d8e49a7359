#!/usr/bin/env python3
"""Run one workload over several seeds and summarise the spread.

For each metric: the median and the distance between the first and third
quartile (`statistics.quantiles(values, n=4)`) as a share of the median,
next to the metric's bound in BENCHMARK.json.

Usage, from the root of a checkout:

    python3 bench/tools/repeat.py --workload cdc_stream --seeds 1 2 3 4 5 \
        [--seconds 5] [--trace 0] [--json out.jsonl]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", default=None, help="append each result line to this file")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values, walls = {}, []
    for seed in a.seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, "bench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(lines[-1])
        if a.json:
            with open(a.json, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              f"wall={walls[-1]:.0f}s " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{a.workload}: {len(a.seeds)} runs, wall median {statistics.median(walls):.0f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        b = bounds.get(k)
        print(f"  {k:28s} median {med:12.5g}  spread {spread:7.3f}" +
              (f"  bound {b}" if b is not None else ""))


if __name__ == "__main__":
    main()
