"""In-memory span tracing around calls into the engine's layers.

Spans are recorded from the benchmark's side only: a layer function is
wrapped wherever the engine's modules bound it (``plans.layers`` does
``from ..sources.sinks import overwrite_table``, so patching the ``sinks``
module alone would miss its calls). Each span records its name, start, end,
parent span and op id; a layer's self time is its duration minus that of its
child spans. Also here: per-op Spark job/stage/task counts from the status
tracker, and process CPU and memory read from ``/proc``."""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "wnba_data_pipeline_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.op = None
        return self._local.stack

    @contextlib.contextmanager
    def op(self, op_id):
        """Attribute the spans of the enclosed calls to ``op_id``."""
        self._stack()
        prev, self._local.op = self._local.op, op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "op": self._local.op}
                )

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_seconds(self, op_ids) -> dict[str, list[float]]:
        """Self time of every span of the given ops, grouped by name."""
        ops = set(op_ids)
        spans = [s for s in self.spans if s["op"] in ops]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for s in spans:
            out[s["name"]].append(s["end"] - s["start"] - child[s["id"]])
        return out

    def durations(self, op_ids) -> dict[str, list[float]]:
        ops = set(op_ids)
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"]].append(s["end"] - s["start"])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def instrument(tracer: Tracer, targets: dict[str, object]):
    """Replace every module-level binding of each target function inside the
    engine package with a traced wrapper named by its key, for the rest of
    the process."""
    # keyed by id: module attributes need not be hashable
    wrappers = {id(fn): (fn, tracer.wrap(name, fn)) for name, fn in targets.items()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, tasks run and tasks failed under one job
    group. Uses the status tracker, which works with the Spark UI off."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is None:
            continue
        if info.numCompletedTasks > 0:
            ran += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks, "failed_tasks": failed}


def cpu_seconds(pid: int | str = "self") -> float:
    """utime + stime of a process, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
