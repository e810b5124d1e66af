"""Run one workload over several seeds and report each metric's median
and spread (interquartile range over median, from
``statistics.quantiles(values, n=4)``), the figure the benchmark's
bounds are judged against.

    python3 perfbench/spread.py --workload curation --seeds 1-10
    python3 perfbench/spread.py --workload warehouse --seeds 1-5 --trace 1

Each run is a fresh process of perfbench/run.py in the repository root;
a run that exits nonzero is reported and stops the sweep.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                       cwd=ROOT)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    runs = []
    for s in seeds_of(args.seeds):
        r = run_once(args.workload, s, args.seconds, args.trace)
        runs.append(r)
        print(f"seed {s}: wall {r['wall_s']:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in r["metrics"].items()), flush=True)
    print(f"\n{args.workload}: {len(runs)} runs, wall median "
          f"{statistics.median(r['wall_s'] for r in runs):.1f}s")
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        sp = spread(vals) if len(vals) >= 2 else 0.0
        print(f"  {k:32s} median {statistics.median(vals):12.5g} "
              f"{runs[0]['metrics'][k]['unit']:12s} spread {sp:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
