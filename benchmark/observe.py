"""What the benchmark records about the program from outside it: spans around
calls into each layer, the summed RSS of the process tree, and Spark's own
status store (per-stage task metrics)."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

LAYERS = ("text", "indexing", "codec", "querying", "pipeline")


class Tracer:
    """Spans kept in memory: (name, layer, request id, start, end, parent).
    A disabled tracer records nothing and costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str, rid: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "rid": rid, "start": time.perf_counter(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time minus the part of it that child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - _covered(children.get(i, []))
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({**s, "id": i, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# --- resident memory ---------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return parent


def descendants(root: int, parent: dict[int, int] | None = None) -> list[int]:
    parent = _parents() if parent is None else parent
    tree, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [pid for pid, pp in parent.items() if pp == p]
        tree.extend(kids)
        frontier.extend(kids)
    return tree


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and every descendant (driver Python, the JVM it
    launched, and the JVM's Python workers)."""
    parent = _parents()
    total = 0
    for pid in [root, *descendants(root, parent)]:
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            # a child the JVM is spawning (a shell helper or a Python
            # worker) shares the JVM's memory until it execs; counting it
            # would count the JVM twice
            if os.path.basename(exe) == "java" and exe == os.readlink(f"/proc/{parent[pid]}/exe"):
                continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, KeyError):
            continue
    return total


class RssSampler:
    """Background thread sampling the process tree's RSS; keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- Spark status store ------------------------------------------------------

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "diskBytesSpilled",
    "numCompleteTasks",
)


class SparkLedger:
    """Reads per-stage metrics for the jobs of one job group from Spark's
    in-process status store (works with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        """Totals for ``group``'s jobs: jobs, stages, task metrics, and the
        wall time covered by any running stage (ms)."""
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        out = {f: 0 for f in STAGE_FIELDS}
        out.update(jobs=len(job_ids), stages=0, busy_ms=0.0)
        intervals = []
        empty_list = self._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, empty_list, False, no_quantiles)
            except Py4JJavaError:  # stage skipped (never ran) or evicted from the store
                continue
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                if sd.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                for f in STAGE_FIELDS:
                    out[f] += getattr(sd, f)()
                first, done = sd.firstTaskLaunchedTime(), sd.completionTime()
                if first.isDefined() and done.isDefined():
                    intervals.append((first.get().getTime(), done.get().getTime()))
        out["busy_ms"] = _covered(intervals)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out
