"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload relational_scan --seeds 1-10 --seconds 26

Prints, per metric, the median and the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, the figure a benchmark bound must cover.  Runs are sequential, one
process at a time; each run's full output stays in its result file.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, required=True)
    args = p.parse_args(argv)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall = time.monotonic() - t0
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        if proc.returncode or not line["correct"]:
            print(f"seed {seed}: exit {proc.returncode}, failed {line['failed']}", file=sys.stderr)
            return 1
        for name, m in line["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} ({wall:.0f} s): " + " ".join(f"{k}={m['value']:.4g}" for k, m in line["metrics"].items()),
              flush=True)
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{name:36s} median {med:12.5g}  IQR/median {share:7.4f}  n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
