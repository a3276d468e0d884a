"""Measurement taken from outside the program: spans, Spark's status store,
process-tree memory and bytes on disk.

Nothing here reaches into the package; spans wrap the benchmark's own calls
into the package's public functions and the ``PipelineObserver`` events.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from benchmath import union_seconds

RSS_INTERVAL_S = 0.25  # seconds between process-tree memory samples


class Tracer:
    """Spans kept in memory and written out once the run ends.

    A span is ``{id, name, parent, start, end}`` in ``perf_counter``
    seconds, plus any attributes given to ``start`` or ``end``.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: dict[int, dict] = {}

    def start(self, name: str, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        span = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        span.update(attrs)
        self.spans.append(span)
        self._open[sid] = span
        return sid

    def end(self, sid: int, **attrs) -> dict:
        span = self._open.pop(sid)
        span["end"] = time.perf_counter()
        span.update(attrs)
        return span

    @contextmanager
    def span(self, name: str, parent: int | None, **attrs):
        sid = self.start(name, parent, **attrs)
        try:
            yield sid
        finally:
            self.end(sid)

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class SparkStats:
    """Per-batch Spark execution counts from the status tracker and store.

    Read after a batch commits, once the listener bus has drained, so the
    reads sit outside the batch's wall time.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.last_job = max(self._job_ids(), default=-1)

    def _job_ids(self) -> list[int]:
        return [int(j) for j in self.sc.statusTracker().getJobIdsForGroup(None)]

    def collect(self, window: tuple[float, float]) -> dict:
        """Counts for jobs started since the previous call; ``window`` is the
        batch's ``(start, end)`` in epoch seconds, for driver-only time."""
        self.bus.waitUntilEmpty()
        new = sorted(j for j in self._job_ids() if j > self.last_job)
        if new:
            self.last_job = new[-1]
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
             "gc_s", "shuffle_bytes", "spill_bytes"), 0.0)
        intervals = []
        stage_ids: set[int] = set()
        for jid in new:
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        lo, hi = window
        in_window = [(max(s, lo), min(e, hi)) for s, e in intervals]
        out["driver_s"] = max(0.0, (hi - lo) - union_seconds(in_window))
        return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, Spark's Python workers), sampled on a thread.

    A level counts only once two samples in a row reach it: a child the JVM
    has forked but not yet exec'd reports the JVM's whole RSS as its own
    for an instant, which would otherwise double the peak.
    """

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._last = 0
        self.peak_detail: dict[str, int] = {}  # process name -> bytes at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *_exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        parents: dict[int, int] = {}
        rss: dict[int, int] = {}
        names: dict[int, str] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue  # the process ended while we looked
            pid = int(entry)
            fields = rest.split()
            names[pid] = head.split("(", 1)[1]
            parents[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * self._page
        children: dict[int, list[int]] = {}
        for pid, parent in parents.items():
            children.setdefault(parent, []).append(pid)
        tree, frontier = [], [os.getpid()]
        while frontier:
            pid = frontier.pop()
            tree.append(pid)
            frontier.extend(children.get(pid, ()))
        total = sum(rss.get(p, 0) for p in tree)
        held, self._last = min(total, self._last), total
        if held > self.peak_bytes:
            self.peak_bytes = held
            detail: dict[str, int] = {}
            for p in tree:
                detail[names.get(p, "?")] = detail.get(names.get(p, "?"), 0) + rss.get(p, 0)
            self.peak_detail = detail


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """``path -> (size, mtime_ns)`` of every file under ``root``."""
    out = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue  # a staging file renamed away mid-walk
            out[path] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(root: str) -> int:
    return sum(size for size, _ in snapshot(root).values())
