"""Outside-in tracing: spans around calls into the program's layers, Spark
stage metrics read from the status store by job group, and micro-batch
progress events.

Spans are kept in memory and written out once, when the run ends. All
reads of Spark's counters happen after an operation, outside its span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    index: int


class Tracer:
    """Records spans when enabled; ``span`` is a no-op context otherwise."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack = threading.local()
        #: wall time spent reading Spark's counters for the trace
        self.read_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack.__dict__.setdefault("s", [])
        sp = Span(name, time.perf_counter(), 0.0,
                  stack[-1].index if stack else None, self.run_id,
                  len(self.spans))
        self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def reading(self):
        """Time spent on trace-only reads (stage metrics, progress)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.read_s += time.perf_counter() - t0

    def write(self, path: str) -> None:
        """Dump every span with its self time (duration minus the part
        its child spans cover)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": self_time(
                s.start, s.end, kids.get(s.index, []))} for s in self.spans], f)


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """``end - start`` minus the part of that interval that the union of
    the child intervals covers (children may overlap each other)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def overlap(a: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of interval ``a`` covered by the union of ``intervals``."""
    return (a[1] - a[0]) - self_time(a[0], a[1], intervals)


STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_B": ("shuffleWriteBytes", 1),
    "spill_B": ("memoryBytesSpilled", 1),
    "input_B": ("inputBytes", 1),
    "tasks": ("numTasks", 1),
}


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Sum of the completed stages of every job in ``group``, read from
    Spark's status store (classic only; the program itself never calls
    this)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {k: 0.0 for k in STAGE_FIELDS}
    if not stage_ids:
        return out
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in stage_ids:
            continue
        for key, (attr, scale) in STAGE_FIELDS.items():
            out[key] += getattr(st, attr)() * scale
    return out


def progress_events(query) -> list[dict]:
    """The query's retained micro-batch progress events as dicts."""
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def batch_interval(p: dict) -> tuple[float, float]:
    """(start, end) of a micro-batch in epoch seconds."""
    from datetime import datetime, timezone

    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()
    return start, start + p["batchDuration"] / 1000.0


def files_by_batch(checkpoint: str) -> dict[str, int]:
    """file name -> id of the micro-batch that read it. The file source's
    log gives each file's source offset; the offset log gives the source
    offset each micro-batch read up to (the two counters differ: a batch
    that finds no new file does not advance the source's)."""
    src: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                src[os.path.basename(entry["path"])] = entry["batchId"]
    ends = []
    off_dir = os.path.join(checkpoint, "offsets")
    for name in os.listdir(off_dir):
        if name.isdigit():
            with open(os.path.join(off_dir, name)) as f:
                lines = f.read().splitlines()
            if len(lines) >= 3:
                ends.append((json.loads(lines[2])["logOffset"], int(name)))
    ends.sort()
    out = {}
    for name, k in src.items():
        out[name] = next((b for end, b in ends if end >= k), None)
    return {n: b for n, b in out.items() if b is not None}

