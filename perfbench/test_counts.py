"""Per-query Spark job and stage counts repeat exactly.

Two traced runs of a workload, with different seeds, must give the same
``spark.jobs`` and ``spark.stages`` for every query in every traced pass,
so that later changes can cite these counts as counts.  Each run takes
one to two minutes:

    python3 -m pytest -p no:cacheprovider perfbench/test_counts.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import tail  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def traced_counts(workload: str, seed: int) -> list[dict[str, tuple[int, int]]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    assert json.loads(lines[-1])["correct"]
    passes = next(json.loads(x)["per_query"] for x in lines if x.startswith('{"per_query"'))
    return [{q: (c[0], c[1]) for q, c in p.items()} for p in passes]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_jobs_and_stages_repeat_exactly(workload):
    runs = [traced_counts(workload, seed) for seed in (1, 2)]
    passes = [p for run in runs for p in run]
    assert set(passes[0]) == set(WORKLOADS[workload].queries)
    for p in passes[1:]:
        assert p == passes[0]
    assert all(jobs > 0 for jobs, _ in passes[0].values())


def test_tail_keeps_ten_samples_above():
    value, pct, n = tail([float(i) for i in range(36)])
    assert (value, n) == (25.0, 36)
    assert abs(pct - 100 * 26 / 36) < 1e-9
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
