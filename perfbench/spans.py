"""Spans, counters and engine job counts for the benchmark.

A span covers one call into a package layer. Spark is lazy, so a traced
call's DataFrame output is materialized (``localCheckpoint``) before its
span closes; downstream layers then read the checkpoint, and each
span's self time is the work of that layer alone. Spans of one
operation share its ``op`` id; they are kept in memory and written out
when the run ends.

Layers are traced from outside the package: ``Tracer.install`` replaces
a module attribute with a wrapper for the life of the run and
``Tracer.uninstall`` puts the original back.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.op = None

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        # a foreachBatch callback runs on a py4j thread: its first span
        # hangs under the main thread's innermost open span
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "op": self.op,
                               "parent": parent, "start": time.perf_counter(),
                               "end": None})
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def self_times(self) -> dict[str, float]:
        """Layer name -> summed self time: each span's duration minus
        the part of it that its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)

    # -- wrapping package functions ------------------------------------------

    def install(self, module, attr: str, wrapper_factory) -> None:
        orig = getattr(module, attr)
        self._patched.append((module, attr, orig))
        setattr(module, attr, functools.wraps(orig)(wrapper_factory(orig)))

    def uninstall(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)


def materialize(df):
    """Run a lazy DataFrame now and return a plan that reads the result."""
    return df.localCheckpoint(eager=True)


class EngineCounter:
    """Spark jobs and tasks per operation, read through job groups on
    ``SparkContext.statusTracker()``: one group per operation."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0
        self.samples: dict[str, list[tuple[int, int]]] = defaultdict(list)

    @contextmanager
    def group(self, kind: str, record: bool = True):
        self._n += 1
        gid = f"perfbench-{kind}-{self._n}"
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if record:
                self.samples[kind].append(self._jobs_tasks(gid))

    def _jobs_tasks(self, gid: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def per_op(self, kind: str) -> tuple[float, float]:
        s = self.samples.get(kind)
        if not s:
            return 0.0, 0.0
        return (sum(j for j, _ in s) / len(s), sum(t for _, t in s) / len(s))


def _descendants(root: int) -> list[int]:
    kids = defaultdict(list)
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(p))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant: the JVM and its Python workers."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
