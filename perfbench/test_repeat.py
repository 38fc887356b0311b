"""Two traced runs of the same seed give identical per-layer job, task and
shuffle-byte counts — the counts that host contention does not move.

It runs six traced benchmark runs, so it is marked slow; run it from the
repository root with

    python3 -m pytest -m slow perfbench/test_repeat.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT = (".jobs", ".tasks", ".shuffle_bytes")

pytestmark = pytest.mark.slow


def _traced_counts(workload: str) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-2000:]
    return {k: v["value"] for k, v in result["metrics"].items() if k.endswith(EXACT)}


@pytest.mark.parametrize(
    "workload", ["dedup-curation", "explorer-session", "manifest-ingest"]
)
def test_traced_counts_repeat_exactly(workload):
    first = _traced_counts(workload)
    second = _traced_counts(workload)
    assert sum(first.values()) > 0
    assert first == second
