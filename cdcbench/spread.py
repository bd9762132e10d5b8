"""Run-to-run spread of the benchmark, as the acceptance rule computes it.

Runs ``run.py`` once per seed for each workload (one run at a time), then
prints per end-to-end metric the median of the runs and the distance
between their first and third quartiles as a share of that median
(``statistics.quantiles(values, n=4)``), next to the metric's bound from
``BENCHMARK.json``; plus the share of failed operations per workload.

Run from the repository root:

    python3 cdcbench/spread.py --seeds 1 2 3 4 5 6 7 8 9 10 [--workload NAME ...]

Each run's JSON result is appended to ``.cdcbench/out/spread.jsonl``.
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
REPO = os.path.dirname(BENCH_DIR)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    log = os.path.join(REPO, ".cdcbench", "out", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = 0.0
    for w in args.workload:
        results = []
        for seed in args.seeds:
            t0 = time.time()
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", "0"]
            p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=900)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                return 1
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res.update(workload=w, seed=seed, wall_s=wall)
            with open(log, "a") as f:
                f.write(json.dumps(res) + "\n")
            results.append(res)
            print(f"{w} seed {seed}: {wall:.0f} s, correct={res['correct']}, "
                  f"failed {res['failed']}/{res['attempted']}", flush=True)
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"{w}: failed share {sorted(shares)}; mean wall "
              f"{statistics.mean(r['wall_s'] for r in results):.1f} s")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(name)
            if b is not None and name != "setup_s":
                worst = max(worst, spread / b)
            print(f"  {name:<26} median {med:>12.6g}  spread {spread:6.3f}"
                  + (f"  bound {b}" if b is not None else ""))
    print(f"largest spread / bound (setup_s aside): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
