"""Self-test of the benchmark: two traced runs of the same code on the same
seed must give identical exact counts (jobs, stages, tasks, rows, bytes,
files), per workload and per item, and every run must pass its checks.

    python3 -m pytest perfbench/test_selftest.py -q

Each run starts its own Spark session, so the test takes a few minutes.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(Path(__file__).resolve().parent))

from workloads import WORKLOADS  # noqa: E402


def traced_run(workload: str, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0
    path = re.search(r"\[perfbench\] result file (\S+)", proc.stderr).group(1)
    return json.loads((ROOT / path).read_text())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_exact_counts_repeat_between_traced_runs(workload):
    first, second = (traced_run(workload, seed=7) for _ in range(2))
    assert first["counts_per_item"] == second["counts_per_item"]
    assert set(first["counts_per_item"]) == set(first["items"])
    for name in ("exec.jobs", "exec.stages", "exec.tasks", "sources.scan_rows",
                 "sources.scan_bytes", "exec.shuffle_write_bytes", "sinks.kv.rows"):
        assert first["per_layer"][name] == second["per_layer"][name], name
