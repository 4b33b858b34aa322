"""Self-test of the benchmark: ``python3 -m pytest perfbench -q`` from
the repository root (about five minutes: four short traced runs).

Two traced runs at one seed must give exactly the same count metrics,
and every op of the current tree must be correct.  A directory without
the engine must make the benchmark fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")
COUNTS = (
    "compile.py4j_calls",
    "compile.eager_jobs",
    "exec.jobs",
    "streaming.batches",
)


def _traced(workload: str, seed: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", ["navigate", "ingest"])
def test_counts_repeat_and_ops_correct(workload):
    results = []
    for _ in range(2):
        proc = _traced(workload, seed=5)
        assert proc.returncode == 0, proc.stderr[-2000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0, proc.stdout
        assert result["attempted"] >= 1
        results.append(result["metrics"])
    first, second = ({k: m[k]["value"] for k in COUNTS} for m in results)
    assert first == second


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _traced("navigate", seed=1, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "{" not in proc.stdout
