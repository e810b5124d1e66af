"""Repeatability and tracing-overhead check for one workload and seed.

    python3 perfbench/selfcheck.py --workload warehouse --seed 7

Runs the workload twice untraced and twice traced, all with the same
seed. Every count (files, rows, pairs, partitions, tasks, jobs and their
ratios) must repeat exactly between the traced runs. Byte totals
(``write_amp``, ``*.bytes_*``, shuffle and spill MB) must agree to 1e-4:
they are compressed sizes, and the row order inside a compressed block
can differ between runs (a merge reads partitions in Spark's file-listing
order, where equal-size files tie on random names; shuffle blocks take
rows from concurrent tasks), which moves a size by a few bytes. It also
prints the tracing overhead: the traced runs' timed phase minus the
untraced runs'. Exits nonzero on any difference beyond that.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from spread import ROOT, run_once

# per-layer units that are counts (or ratios of counts), never timings
COUNT_UNITS = {"count", "files/files", "rows/rows", "pairs/pairs"}
BYTE_UNITS = {"bytes", "bytes/byte", "MB"}
BYTE_TOLERANCE = 1e-4


def differs(unit: str, a: float, b: float) -> bool:
    if unit in COUNT_UNITS:
        return a != b
    if unit in BYTE_UNITS:
        return abs(a - b) > BYTE_TOLERANCE * max(abs(a), abs(b))
    return False


def timed_phase_s(workload: str, seed: int, trace: int) -> float:
    path = os.path.join(ROOT, ".perfbench", f"{workload}-s{seed}-t{trace}",
                        "record.json")
    with open(path) as f:
        return json.load(f)["timed_phase_s"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    w, s, sec = args.workload, args.seed, args.seconds

    bad = []
    untraced, phases = [], []
    for _ in range(2):
        untraced.append(run_once(w, s, sec, 0))
        phases.append(timed_phase_s(w, s, 0))
    amps = [r["metrics"]["write_amp"]["value"] for r in untraced]
    print(f"write_amp {amps}")
    if differs("bytes/byte", *amps):
        bad.append(f"write_amp {amps}")

    traced, traced_phases = [], []
    for _ in range(2):
        traced.append(run_once(w, s, sec, 1))
        traced_phases.append(timed_phase_s(w, s, 1))
    for name, m in traced[0]["metrics"].items():
        a, b = m["value"], traced[1]["metrics"][name]["value"]
        if differs(m["unit"], a, b):
            bad.append(f"{name}: {a} != {b}")

    base = statistics.median(phases)
    traced_phase = statistics.median(traced_phases)
    print(f"{w} seed {s}: timed phase untraced {base:.2f}s, traced "
          f"{traced_phase:.2f}s, tracing overhead "
          f"{traced_phase - base:+.2f}s ({(traced_phase / base - 1):+.1%})")
    for b in bad:
        print("NOT REPEATED:", b)
    print("counts repeat exactly" if not bad else f"{len(bad)} counts differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
