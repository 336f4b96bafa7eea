"""Counters read from the Spark driver from outside the program.

* JVM counters through py4j: Spark's codegen metrics and the JVM's
  management beans (JIT, GC, code cache, heap).
* Job, stage and SQL-operator metrics through the status REST API of the
  Spark UI, which only the traced run switches on.  Jobs, stages and SQL
  executions are attributed to a query by their submission time, which
  is exact because the benchmark runs one query at a time.
* Streaming progress through a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import re
import threading
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


class JvmCounters:
    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._memory = mf.getMemoryMXBean()
        self._code_heaps = [
            p for p in mf.getMemoryPoolMXBeans() if p.getName().startswith("CodeHeap")
        ]

    def codegen_compiles(self) -> int:
        return self._codegen.METRIC_COMPILATION_TIME().getCount()

    def snapshot(self) -> dict[str, float]:
        """Cumulative counters since JVM start."""
        return {
            "codegen_compiles": self.codegen_compiles(),
            "codegen_compile_s": self._generator.compileTime() / 1e9,
            "jit_s": self._jit.getTotalCompilationTime() / 1e3,
            "gc_s": sum(gc.getCollectionTime() for gc in self._gcs) / 1e3,
        }

    def code_cache_mb(self) -> float:
        return sum(p.getUsage().getUsed() for p in self._code_heaps) / 2**20

    def heap_used_mb(self) -> float:
        return self._memory.getHeapMemoryUsage().getUsed() / 2**20


def _ms(stamp: str | None) -> float | None:
    if not stamp:
        return None
    dt = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SCALE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}

#: SQL metrics of the operators that exchange rows with Python workers
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def _total(text: str) -> str:
    """The total of a formatted SQL metric: a plain "147.9 KiB", or the
    value line of "total (min, med, max ...)\\n1.2 MiB (...)"."""
    return text.split("\n")[-1] if text.startswith("total") else text


def _bytes(text: str) -> float:
    m = _SIZE.search(_total(text))
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)] if m else 0.0


def _count(text: str) -> int:
    m = re.search(r"[\d,]+", _total(text))
    return int(m.group(0).replace(",", "")) if m else 0


class RestStats:
    """Reads the application's jobs, stages and SQL executions once, at
    the end of the run, and sums them over wall-clock intervals."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.sql: list[dict] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as resp:
            return json.load(resp)

    def fetch(self) -> None:
        self.jobs = self._get("/jobs")
        self.stages = [s for s in self._get("/stages") if s["status"] != "SKIPPED"]
        # the SQL list is paged, 20 executions by default
        self.sql = self._get("/sql?details=true&planDescription=false&length=1000000")

    @staticmethod
    def _within(items, key: str, t0: float, t1: float):
        """Items submitted inside [t0, t1] (seconds since the epoch)."""
        lo, hi = t0 * 1000.0, t1 * 1000.0
        return [x for x in items if lo <= (_ms(x.get(key)) or -1) <= hi]

    def job_stage_counts(self, t0: float, t1: float) -> tuple[int, int, int]:
        jobs = self._within(self.jobs, "submissionTime", t0, t1)
        stages = self._within(self.stages, "submissionTime", t0, t1)
        tasks = sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)
        return len(jobs), len(stages), tasks

    def interval_metrics(self, t0: float, t1: float, cores: int) -> dict[str, float]:
        stages = self._within(self.stages, "submissionTime", t0, t1)
        jobs, n_stages, tasks = self.job_stage_counts(t0, t1)
        task_s = sum(s["executorRunTime"] for s in stages) / 1e3
        # wall time with no stage running: the interval minus the union
        # of the stages' [submission, completion] spans
        spans = sorted(
            (_ms(s["submissionTime"]) / 1e3, (_ms(s.get("completionTime")) or t1 * 1e3) / 1e3)
            for s in stages
        )
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        wall = t1 - t0
        py_rows = py_bytes = 0.0
        for ex in self._within(self.sql, "submissionTime", t0, t1):
            for node in ex.get("nodes", ()):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", ())}
                if _PY_SENT in metrics:
                    py_bytes += _bytes(metrics[_PY_SENT]) + _bytes(metrics.get(_PY_RETURNED, ""))
                    py_rows += _count(metrics.get("number of output rows", "0"))
        return {
            "spark.jobs": jobs,
            "spark.stages": n_stages,
            "spark.tasks": tasks,
            "spark.task_s": task_s,
            "spark.driver_gap_s": max(0.0, wall - busy),
            "spark.core_busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
            "spark.input_bytes": sum(s["inputBytes"] for s in stages),
            "spark.python_rows": py_rows,
            "spark.python_bytes": py_bytes,
        }


class StreamStats(StreamingQueryListener):
    """Records micro-batch progress reports.  Reports arrive on the
    listener bus after the batch, so they are attributed to a pass by the
    batch's trigger time, like jobs and stages."""

    def __init__(self):
        self._lock = threading.Lock()
        self._events: list[tuple[float, dict[str, float]]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        dur = p.durationMs or {}
        when = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        row = {
            "streaming.batches": 1,
            "streaming.rows_in": p.numInputRows,
            "streaming.trigger_s": dur.get("triggerExecution", 0) / 1e3,
            "streaming.addbatch_s": dur.get("addBatch", 0) / 1e3,
            "streaming.state_rows": sum(op.numRowsTotal for op in p.stateOperators),
        }
        with self._lock:
            self._events.append((when.replace(tzinfo=timezone.utc).timestamp(), row))

    def interval_metrics(self, t0: float, t1: float) -> dict[str, float]:
        out = dict.fromkeys(
            ("streaming.batches", "streaming.rows_in", "streaming.trigger_s",
             "streaming.addbatch_s", "streaming.state_rows"), 0.0)
        with self._lock:
            for when, row in self._events:
                if t0 <= when <= t1:
                    for k, v in row.items():
                        out[k] += v
        return out
