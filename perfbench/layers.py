"""Layer-profile collector: measures the engine from outside.

Nothing here patches or wraps engine code.  The collector reads these
sources around the calls the benchmark makes:

- Spark's status store (the same data the web UI shows), read as
  before/after deltas of the global job and stage id counters.  Deltas
  rather than job groups, because streaming queries run their jobs on
  Spark's micro-batch thread, outside any job group the caller sets.
- A ``StreamingQueryListener`` that records every micro-batch's
  progress (trigger and addBatch durations, state rows).
- Spans the benchmark records around its own calls, kept in memory
  and written out as JSON at the end.
- ``/proc`` for the memory of the whole process tree (driver Python,
  JVM, Python workers).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float
    run_id: str
    parent: int | None
    id: int = 0


@dataclass
class Tracer:
    """In-memory span store; ``add()`` returns the id of the new span."""

    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, kind: str, start: float, end: float, run_id: str,
            parent: int | None = None) -> int:
        span = Span(name, kind, start, end, run_id, parent, len(self.spans))
        self.spans.append(span)
        return span.id

    def self_time(self, span_id: int) -> float:
        """Duration of a span minus the part its children cover."""
        s = self.spans[span_id]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span_id)
        return (s.end - s.start) - covered(kids, s.start, s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Stage fields summed into a window's totals: status-store accessor → key.
_STAGE_SUMS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "task_run_ms",
    "executorCpuTime": "task_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteRecords": "shuffle_write_records",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "outputRecords": "output_records",
}


@dataclass
class Window:
    """Jobs and stages that started between two status-store marks."""

    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    sums: dict[str, float] = field(default_factory=lambda: dict.fromkeys(_STAGE_SUMS.values(), 0))

    def merge(self, other: Window) -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.skipped_stages += other.skipped_stages
        self.job_intervals += other.job_intervals
        for k, v in other.sums.items():
            self.sums[k] += v


class StatusStore:
    """Before/after reads of the driver's status store."""

    def __init__(self, spark: SparkSession):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def window(self, since: tuple[int, int], until: tuple[int, int]) -> Window:
        """Totals of the jobs and stages created between two marks."""
        self._bus.waitUntilEmpty()
        w = Window()
        for jid in range(since[0], until[0]):
            job = self._store.job(jid)
            w.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                w.job_intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        for sid in range(since[1], until[1]):
            stage = self._store.lastStageAttempt(sid)
            w.stages += 1
            if stage.status().toString() == "SKIPPED":
                w.skipped_stages += 1
                continue
            for getter, key in _STAGE_SUMS.items():
                w.sums[key] += getattr(stage, getter)()
        return w


@dataclass
class Batch:
    start: float
    trigger_s: float
    add_batch_s: float
    state_rows: int


class BatchListener(StreamingQueryListener):
    """Records every micro-batch's progress.  Events arrive on the
    listener bus after the fact, so batches are attributed to queries
    later, by the build span their trigger started in."""

    def __init__(self) -> None:
        self.batches: list[Batch] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        self.batches.append(Batch(
            dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            d.get("triggerExecution", 0) / 1e3,
            d.get("addBatch", 0) / 1e3,
            sum(op.numRowsTotal for op in p.stateOperators),
        ))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class RssSampler:
    """Peak memory of this process and all its descendants, sampled
    from ``/proc`` on a background thread.  ``peak_bytes`` is the peak
    of the JVM plus the peak of the Python processes (this driver and
    the Python workers), each as proportional set size: pages shared
    between forked workers count once, and the two parts peak at
    different moments (the workers come and go with the Python tasks)."""

    def __init__(self, interval: float = 0.5):
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._peaks: dict[str, int] = {}

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_bytes(self) -> int:
        return sum(self._peaks.values())

    def reset(self) -> None:
        self._peaks = {}

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self._interval):
            for kind, size in tree_pss(root).items():
                self._peaks[kind] = max(self._peaks.get(kind, 0), size)


def tree_pss(root: int) -> dict[str, int]:
    """Proportional set size in bytes of the process tree under
    ``root``, split into ``jvm`` and ``python``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    total: dict[str, int] = {"jvm": 0, "python": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process ended
        total[kind] += pss_kb * 1024
    return total
