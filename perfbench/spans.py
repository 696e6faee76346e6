"""Spans around the benchmark's calls into the package, with Spark stage
metrics per span and process memory sampling.

Spans live in memory and are written out by ``Tracer.dump``. A span tags
the Spark jobs its body runs with ``SparkContext.setJobGroup``; when it
ends, the stage metrics of those jobs (run and CPU time, GC, shuffle
bytes, spill, tasks, failed tasks) are summed from the application status
store, which Spark keeps even with the web UI disabled. Jobs of nested
spans land in the nested span's group, so each span's engine counters are
its self counters. Streaming queries tag their jobs with their own run id,
so a streaming span adds that group explicitly (``Span.groups``).

With tracing off, ``span`` only yields a dict for counters the caller may
fill and records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# (counter name, StageData accessor, scale)
STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("tasks", "numCompleteTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("input_rows", "inputRecords", 1),
    ("input_bytes", "inputBytes", 1),
    ("output_rows", "outputRecords", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("memory_spill_bytes", "memoryBytesSpilled", 1),
)


def wait_listener_bus(sc) -> None:
    """Block until the status store has seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def failed_task_count(sc) -> int:
    """Failed task attempts of the whole application so far."""
    wait_listener_bus(sc)
    execs = sc._jsc.sc().statusStore().executorList(False)
    return sum(execs.apply(i).failedTasks() for i in range(execs.size()))


@dataclass
class Span:
    name: str
    call: str
    run: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    groups: list = field(default_factory=list)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self.run = "setup"

    @contextlib.contextmanager
    def span(self, name: str, call: str = ""):
        """Time the body as a call ``call`` into layer ``name``; yields the
        span's counter dict."""
        if not self.enabled:
            yield {}
            return
        idx = len(self.spans)
        sp = Span(name, call, self.run,
                  self._stack[-1] if self._stack else None, time.perf_counter())
        sp.groups.append(f"bench-span-{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(sp.groups[0], name)
        try:
            yield sp.counters
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.groups[0], outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._collect(sp)

    def _collect(self, sp: Span) -> None:
        wait_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        totals = dict.fromkeys((n for n, _, _ in STAGE_FIELDS), 0)
        totals["spark_jobs"] = 0
        for group in sp.groups:
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                totals["spark_jobs"] += 1
                for sid in info.stageIds:
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:   # never submitted (skipped)
                        continue
                    for name, acc, scale in STAGE_FIELDS:
                        totals[name] += getattr(st, acc)() * scale
        sp.counters.update(totals)

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        children = sum(c.end - c.start for c in self.spans if c.parent == idx)
        return (sp.end - sp.start) - children

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "call": sp.call, "run": sp.run,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(i), "counters": sp.counters,
                }) + "\n")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _processes(jvm: int) -> list[int]:
    """The JVM and the Python workers below it. Other descendants are
    short-lived helpers the JVM spawns, which report the JVM's own pages
    while they start."""
    out, todo = [jvm], [jvm]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                for k in kids:
                    with open(f"/proc/{k}/comm") as f:
                        if f.read().startswith("python"):
                            out.append(k)
                            todo.append(k)
        except OSError:
            pass
    return out


RSS_INTERVAL_S = 0.1


class RssSampler:
    """High-water RSS of the JVM plus its Python workers, sampled every
    ``RSS_INTERVAL_S`` seconds while active."""

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self.peak_kb = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                kb = sum(_rss_kb(p) for p in _processes(self.pid))
                self.peak_kb = max(self.peak_kb, kb)
                time.sleep(RSS_INTERVAL_S)

    def active(self, on: bool) -> None:
        (self._on.set if on else self._on.clear)()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)
