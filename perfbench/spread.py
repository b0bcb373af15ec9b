"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload mirror_crawl --seeds 1-10 [--trace 1]

Runs ``perfbench/run.py`` once per seed, one after another, with
BENCHMARK.json's ``run_seconds``, and prints per metric the median, the
quartiles (``statistics.quantiles(n=4)``) and the spread
(Q3 - Q1) / median next to the metric's bound. With ``--trace 1`` it
instead lists every per-layer count that is not the same in all runs;
run one seed twice (``--seeds 3,3``) to check that rows, pairs, jobs and
exchanges repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,3")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    results = []
    for seed in parse_seeds(args.seeds):
        res, wall = run_once(args.workload, seed, bench["run_seconds"], args.trace)
        results.append(res)
        shown = ("trace.items_per_s",) if args.trace else tuple(res["metrics"])
        vals = " ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in shown)
        print(f"seed {seed}: wall {wall:.1f} s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} {vals}", flush=True)
    if args.trace:
        counts = [n for n, m in ((m["name"], m) for m in bench["per_layer"])
                  if m["unit"] == "count"]
        for name in counts:
            vals = {r["metrics"][name]["value"] for r in results}
            if len(vals) > 1:
                print(f"DIFFERS {name}: {sorted(vals)}")
        return 0
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:14s} median {med:10.4f} {m['unit']:6s} q1 {q1:10.4f} "
              f"q3 {q3:10.4f} spread {spread:6.3f} bound {m['bound']}"
              f"{'  OVER' if spread > m['bound'] else ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
