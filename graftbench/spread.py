#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 graftbench/spread.py --workload osm_ingest --seeds 1-10 --seconds 1 \
        --out graftbench/steadiness/osm_ingest-a.json

The spread of a metric is (Q3 - Q1) / median over the runs, with quartiles
as ``statistics.quantiles(values, n=4)`` gives them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else 0.0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", default="1")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    first, last = map(int, args.seeds.split("-"))
    runs = []
    for seed in range(first, last + 1):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
        stamp, result = json.loads(lines[-2])["stamp"], json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": round(time.time() - t0, 1),
                     "result": result, "stamp": stamp})
        print(seed, {k: round(v["value"], 4) for k, v in result["metrics"].items()},
              file=sys.stderr)
    names = list(runs[0]["result"]["metrics"])
    summary = {n: spread([r["result"]["metrics"][n]["value"] for r in runs]) for n in names}
    report = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
              "all_correct": all(r["result"]["correct"] for r in runs),
              "spread": summary, "runs": runs}
    print(f"run wall time: {min(r['wall_s'] for r in runs)}-{max(r['wall_s'] for r in runs)} s")
    for n, s in summary.items():
        print(f"{n:24s} median {s['median']:12.4f}  spread {s['spread']:.4f}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
