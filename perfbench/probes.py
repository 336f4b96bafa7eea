"""Host-side probes that run outside the JVM under test.

* process-tree CPU seconds: driver Python, the JVM (all its threads,
  including JIT compiler and GC threads) and the Python workers.  Workers
  that exit are reaped by a live process of the tree, so their time shows
  up in that parent's ``cutime``/``cstime``.
* process-tree proportional set size (PSS), sampled by a thread.
* a fixed single-thread Python loop (the host yardstick) and the steal
  share of ``/proc/stat``, so host drift can be told apart from a change
  in the program.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of every live process in the tree, plus the reaped
    children each of them waited for."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state (stat field 3): utime..cstime are 14..17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_pss_mb(root: int) -> float:
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PssSampler:
    """Samples the tree's PSS every ``interval`` seconds; ``peak()``
    returns the highest sum seen since the last ``reset()``."""

    def __init__(self, root: int, interval: float = 0.5):
        self._root = root
        self._interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            pss = tree_pss_mb(self._root)
            with self._lock:
                self._peak = max(self._peak, pss)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_pss_mb(self._root)

    def peak(self) -> float:
        with self._lock:
            return max(self._peak, tree_pss_mb(self._root))


def py_probe_ms() -> float:
    """Median of three runs of a fixed single-thread Python loop."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[1]


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # guest time is already counted inside user time
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0
