"""Steadiness check: two sets of runs of the same code, interleaved in time.

    python3 perfbench/steady.py [--workload relational ...] [--runs 10]

Run ``i`` of both sets A and B uses seed ``i``; the sets take turns (A B
A B ...), so host drift falls on both alike.  For every end-to-end metric
of every workload the report gives each set's median and quartiles, the
quartile spread as a share of the median, and whether the sets agree
under the metric's bound in BENCHMARK.json: both spreads within the
bound, and set B's median within the bound of set A's, either way.
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


def run_once(workload: str, seed: int, seconds: int) -> dict[str, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    print(f"  {workload} seed={seed} wall={wall:.1f}s correct={result['correct']} "
          + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()), flush=True)
    return metrics


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, quartile spread / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def report(spec: dict, runs: dict) -> bool:
    ok = True
    for workload, sets in runs.items():
        print(f"\n{workload}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a, b = (spread([r[name] for r in sets[s]]) for s in "AB")
            drift = (b[0] - a[0]) / a[0] if a[0] else 0.0
            agree = a[3] <= bound and b[3] <= bound and abs(drift) <= bound
            ok &= agree
            print(f"  {name:14s} bound {bound:.0%}: {'agree' if agree else 'DISAGREE'}"
                  f", B vs A {drift:+.1%}")
            for label, (med, q1, q3, rel) in zip("AB", (a, b)):
                print(f"    set {label}: median {med:.4g} [{q1:.4g}, {q3:.4g}] spread {rel:.1%}")
    return ok


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all)")
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    runs = {w: {"A": [], "B": []} for w in workloads}
    for i in range(1, args.runs + 1):
        for w in workloads:
            for label in "AB":
                print(f"set {label} run {i}/{args.runs}", flush=True)
                runs[w][label].append(run_once(w, i, spec["run_seconds"]))
    return 0 if report(spec, runs) else 1


if __name__ == "__main__":
    sys.exit(main())
