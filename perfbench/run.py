"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 14 --trace 0

Load model: a closed loop with one client.  One driver process runs the
program's own session (``kevinlang_spark.session.get_spark``) at
``local[nproc]`` and calls the registered ``__spark_entry__.queries()`` of
the workload one after another, in the registered order rotated by
``--seed``.  Each query is sunk to the ``noop`` format, so every column is
evaluated.

A run has three phases:

1. set-up: session start, one oracle pass (every output is collected and
   compared with DuckDB) and ``WARM_PASSES`` unmeasured noop passes;
2. the measured window: ``round(seconds / nominal_pass_s)`` passes, at
   least one, so every run measures the same pass indices;
3. with ``--trace 1``, the window has twice as many passes, untraced and
   traced in A B B A order; the per-layer metrics come from the traced
   ones and ``trace.overhead_frac`` compares the two kinds.

The last line of standard output is the result object; progress goes to
standard error.  Exit code 2 means the directory is not a checkout of the
program or lacks its input tables.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

#: unmeasured noop passes after the oracle pass
WARM_PASSES = 1
#: a query running longer than this has its job group cancelled
QUERY_TIMEOUT_S = 90.0
#: the samples that must lie above the reported tail percentile
TAIL_SAMPLES = 10


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def documented_sf_dir(sf: str) -> str | None:
    """The directory of scale factor ``sf`` as TESTDATA.md documents it."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            text = fh.read()
    except OSError:
        return None
    m = re.search(rf"`([^`]*/{re.escape(sf)})/?`", text)
    return m.group(1) if m else None


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that has
    ``TAIL_SAMPLES`` samples above it; the maximum if there are fewer."""
    xs = sorted(samples)
    k = len(xs) - TAIL_SAMPLES - 1 if len(xs) > TAIL_SAMPLES else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs)


class Execution:
    __slots__ = ("name", "build_s", "exec_s", "ok", "t0", "t1", "compiles")

    def __init__(self, name):
        self.name = name
        self.build_s = self.exec_s = 0.0
        self.compiles = 0
        self.ok = False
        self.t0 = self.t1 = 0.0

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


class Pass:
    def __init__(self, traced: bool):
        self.traced = traced
        self.execs: list[Execution] = []
        self.wall_s = self.cpu_s = 0.0
        self.t0 = self.t1 = 0.0
        self.py_probe_ms = self.steal_frac = 0.0
        self.layers: dict[str, float] = {}
        self.jvm: dict[str, float] = {}
        self.heap_peak_mb = 0.0
        self.checkpoints = 0


class CheckpointCounter:
    """Counts ``DataFrame.checkpoint``/``localCheckpoint`` calls."""

    def __init__(self):
        self.enabled = False
        self.count = 0

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        for name in ("checkpoint", "localCheckpoint"):
            original = getattr(DataFrame, name)

            def counted(df, *args, _original=original, **kwargs):
                if self.enabled:
                    self.count += 1
                return _original(df, *args, **kwargs)

            setattr(DataFrame, name, counted)


class Bench:
    def __init__(self, args, workload: Workload, sf_dir: str, run_dir: str):
        self.args = args
        self.wl = workload
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        # the seed rotates the registered order: every run then makes the
        # same cyclic sequence of query executions, from a different start
        k = args.seed % len(workload.queries)
        self.order = list(workload.queries[k:] + workload.queries[:k])
        self.failed_queries: set[str] = set()
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.checkpoints = None

    # -- environment ------------------------------------------------------

    def isolate_temp(self) -> None:
        """Point every temp location at the fresh per-run root, so fixture
        artifacts are rebuilt inside set-up in every run."""
        import tempfile

        tmp = os.path.join(self.run_dir, "tmp")
        local = os.path.join(self.run_dir, "local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        tempfile.tempdir = None
        self.tmp = tmp

    def observation_conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        return conf

    # -- one query --------------------------------------------------------

    @contextmanager
    def watchdog(self, group: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group, interruptOnCancel=True)
        timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelJobGroup, (group,))
        timer.daemon = True
        timer.start()
        try:
            yield
        finally:
            timer.cancel()

    def execute(self, name: str, check: bool = False) -> Execution:
        ex = Execution(name)
        self.attempted += 1
        fn = self.queries[name]
        ex.t0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.watchdog(name):
                df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                ex.build_s = t1 - t0
                if check:
                    pdf = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                ex.exec_s = time.perf_counter() - t1
            if check:
                from oracle import digest

                got = digest(pdf, self.norm_df)
                want = self.oracle.expected(self.oracle_sql[name], self.norm_df)
                if got != want:
                    print(f"perfbench: {name}: output differs from the oracle", file=sys.stderr)
                    self.failed_queries.add(name)
            ex.ok = name not in self.failed_queries
        except Exception as exc:  # a failing query is counted, the run goes on
            print(f"perfbench: {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            self.failed_queries.add(name)
        ex.t1 = time.time()
        if not ex.ok:
            self.failed += 1
        return ex

    # -- passes -----------------------------------------------------------

    def run_pass(self, traced: bool) -> Pass:
        p = Pass(traced)
        tracer = self.tracer
        if tracer is not None:
            tracer.enabled = traced
            self.checkpoints.enabled = traced
            layer0 = tracer.totals()
            jvm0 = self.jvm.snapshot()
            ckpt0 = self.checkpoints.count
        cpu0 = probes.tree_cpu_s(self.pid)
        steal0 = probes.cpu_times()
        p.t0 = time.time()
        w0 = time.perf_counter()
        for name in self.order:
            if traced:
                compiles = self.jvm.codegen_compiles()
            p.execs.append(self.execute(name))
            if traced:
                p.execs[-1].compiles = self.jvm.codegen_compiles() - compiles
                p.heap_peak_mb = max(p.heap_peak_mb, self.jvm.heap_used_mb())
        p.wall_s = time.perf_counter() - w0
        p.t1 = time.time()
        p.cpu_s = probes.tree_cpu_s(self.pid) - cpu0
        p.steal_frac = probes.steal_frac(steal0, probes.cpu_times())
        if tracer is not None:
            layer1 = tracer.totals()
            p.layers = {k: v - layer0.get(k, 0.0) for k, v in layer1.items()}
            jvm1 = self.jvm.snapshot()
            p.jvm = {k: jvm1[k] - jvm0[k] for k in jvm1}
            p.checkpoints = self.checkpoints.count - ckpt0
            tracer.enabled = False
            self.checkpoints.enabled = False
        p.py_probe_ms = probes.py_probe_ms()
        return p

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        self.pid = os.getpid()
        self.isolate_temp()
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        sys.path.insert(0, ROOT)
        if self.args.trace:
            from layers import LayerTracer

            self.tracer = LayerTracer()
            self.tracer.install()
            self.checkpoints = CheckpointCounter()
            self.checkpoints.install()
        import check_oracle
        from oracle import OracleDigests

        entry = check_oracle.entrymod
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.norm_df = check_oracle.norm_df
        self.oracle = OracleDigests(
            self.sf_dir, check_oracle.TABLES, os.path.join(HERE, ".cache")
        )
        missing = [q for q in self.order if q not in self.queries or q not in self.oracle_sql]
        if missing:
            raise SystemExit(f"perfbench: queries without an oracle: {missing}")

        t_setup = time.perf_counter()
        self.spark = check_oracle.get_spark("perfbench", extra_conf=self.observation_conf())
        session_s = time.perf_counter() - t_setup
        if self.args.trace:
            from sparkstats import JvmCounters, RestStats, StreamStats

            self.jvm = JvmCounters(self.spark)
            self.rest = RestStats(self.spark)
            self.streams = StreamStats()
            self.spark.streams.addListener(self.streams)
        checks = [self.execute(name, check=True) for name in self.order]
        self.oracle.close()
        times = " ".join(f"{ex.name}={ex.t1 - ex.t0:.2f}" for ex in checks)
        print(f"perfbench: oracle pass: {times}", file=sys.stderr)
        for _ in range(WARM_PASSES):
            self.run_pass(traced=False)
        setup_s = time.perf_counter() - t_setup - self.oracle.duckdb_s
        print(
            f"perfbench: set-up {setup_s:.2f}s (session {session_s:.2f}s, "
            f"DuckDB {self.oracle.duckdb_s:.2f}s excluded)",
            file=sys.stderr,
        )

        n = max(1, round(self.args.seconds / self.wl.nominal_pass_s))
        if not self.args.trace:
            metrics = self.end_to_end(self.window(n), setup_s)
            units = metric_units("end_to_end")
        else:
            # PSS is sampled only here: the walk over /proc would perturb
            # the untraced measurement
            with probes.PssSampler(self.pid) as pss:
                pss.reset()
                passes = self.window(2 * n)
                peak_pss = pss.peak()
            traced = [p for p in passes if p.traced]
            untraced = [p for p in passes if not p.traced]
            metrics = self.per_layer(traced, untraced, session_s, peak_pss)
            units = metric_units("per_layer")
        metrics = {k: metrics[k] for k in units}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }

    def window(self, count: int) -> list[Pass]:
        passes = []
        for i in range(count):
            # untraced and traced passes in A B B A order, so a trend
            # left over from warm-up weighs on both alike
            passes.append(self.run_pass(traced=bool(self.args.trace) and i % 4 in (1, 2)))
            times = " ".join(f"{ex.name}={ex.latency_s:.2f}" for ex in passes[-1].execs)
            print(f"perfbench: pass {i} {passes[-1].wall_s:.2f}s cpu {passes[-1].cpu_s:.2f}s "
                  f"probe {passes[-1].py_probe_ms:.1f}ms: {times}", file=sys.stderr)
        return passes

    def end_to_end(self, passes: list[Pass], setup_s: float) -> dict:
        lat = [ex.latency_s for p in passes for ex in p.execs]
        tail_s, pct, n = tail(lat)
        print(f"perfbench: query latency median {statistics.median(lat):.4f}s, "
              f"p{pct:.1f} {tail_s:.4f}s of {n} executions", file=sys.stderr)
        return {
            "setup_s": setup_s,
            "pass_s": statistics.median(p.wall_s for p in passes),
            # not the median: over a handful of queries the median jumps
            # between the latencies of the two middle queries
            "query_gmean_s": statistics.geometric_mean(lat),
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "ok_frac": (self.attempted - self.failed) / self.attempted,
        }

    def per_layer(
        self, traced: list[Pass], untraced: list[Pass], session_s: float, peak_pss: float
    ) -> dict:
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        except Exception:  # the private hook may change; give the bus time instead
            time.sleep(3)
        self.rest.fetch()
        rows = []
        for p in traced:
            row = {
                "entry.build_s": sum(ex.build_s for ex in p.execs),
                "entry.exec_s": sum(ex.exec_s for ex in p.execs),
                "spark.checkpoints": p.checkpoints,
                "spark.codegen_compiles": p.jvm["codegen_compiles"],
                "spark.codegen_compile_s": p.jvm["codegen_compile_s"],
                "jvm.jit_s": p.jvm["jit_s"],
                "jvm.gc_s": p.jvm["gc_s"],
                "jvm.heap_peak_mb": p.heap_peak_mb,
                "host.py_probe_ms": p.py_probe_ms,
                "host.steal_frac": p.steal_frac,
            }
            for layer in ("frame", "sources"):
                row[f"{layer}.calls"] = p.layers.get(f"calls:{layer}", 0)
            for layer in (
                "frame", "sources", "operators.graph", "operators.similarity",
                "operators.text", "operators.dedup", "operators.quality",
                "functions", "streaming",
            ):
                row[f"{layer}.self_s"] = p.layers.get(f"self_s:{layer}", 0.0)
            row.update(self.rest.interval_metrics(p.t0, p.t1, self.cores))
            row.update(self.streams.interval_metrics(p.t0, p.t1))
            rows.append(row)
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        untraced_s = statistics.median(p.wall_s for p in untraced)
        out.update({
            "session.start_s": session_s,
            "peak_rss_mb": peak_pss,
            "query_tail_s": tail([ex.latency_s for p in untraced for ex in p.execs])[0],
            "setup.warm_passes": 1 + WARM_PASSES,
            "jvm.code_cache_mb": self.jvm.code_cache_mb(),
            "streaming.tmp_dirs_left": len(
                [d for d in os.listdir(self.tmp) if d.startswith("stream_src_")]
            ),
            "trace.overhead_frac": statistics.median(p.wall_s for p in traced) / untraced_s - 1.0,
        })
        self.print_query_counts(traced)
        return out

    def print_query_counts(self, traced: list[Pass]) -> None:
        """One stdout line, ahead of the result line, with each traced
        pass's per-query [jobs, stages, tasks, codegen compiles]."""
        counts = [
            {ex.name: [*self.rest.job_stage_counts(ex.t0, ex.t1), ex.compiles] for ex in p.execs}
            for p in traced
        ]
        print(json.dumps({"per_query": counts}, sort_keys=True))

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        for pid in probes.process_tree(self.pid)[1:]:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    needed = ("__spark_entry__.py", "scripts/check_oracle.py", "TESTDATA.md", "kevinlang_spark")
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the program; missing {missing}",
              file=sys.stderr)
        return 2
    sf_dir = documented_sf_dir(wl.sf)
    if sf_dir is None or not os.path.isdir(sf_dir):
        print(f"perfbench: input tables for {wl.sf} not found (TESTDATA.md)", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    bench = Bench(args, wl, sf_dir, run_dir)
    try:
        result = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
