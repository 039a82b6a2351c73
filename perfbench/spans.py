"""Measurement helpers: in-memory spans, Spark job counts per call, failure
accounting and percentiles.

Spans are recorded only from the benchmark's own code, around its calls into
the package's public functions; nothing inside the package is instrumented.
A span's layer is the part of its name before the first dot (`index.append_index`
belongs to layer `index`).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np

T_START = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Tracer:
    """Spans (id, parent, name, start, end) kept in memory and written as
    JSON at the end of the run. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Per layer: Σ span duration minus the time its child spans cover
        (children run sequentially inside their parent, so their durations
        add up without overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Spark jobs and tasks launched inside a `with counter.track() as rec`
    block, read from the status tracker under a block-private job group."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextmanager
    def track(self):
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        rec = {"jobs": 0, "tasks": 0}
        try:
            yield rec
        finally:
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            rec["jobs"] = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    sinfo = st.getStageInfo(s)
                    rec["tasks"] += sinfo.numTasks if sinfo else 0


class Ops:
    """Attempted/failed counts of timed calls. A failing call is logged with
    its traceback and counted; the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn):
        """(ok, result, seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {label} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False, None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if dt > 0.5:
            print(f"[perfbench] {label}: {dt:.2f} s", file=sys.stderr)
        return True, out, dt


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and every process below it: the driver, its JVM and the JVM's Python
    workers. Time the host steals from the machine is not in it."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        # after the command: state, ppid, ..., utime stime cutime cstime at 11-14
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q)) if len(values) else float("nan")


def median(values) -> float:
    return pct(values, 50)
