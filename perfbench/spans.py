"""Measurement taken from outside the program: spans, Spark job counts,
written bytes and peak memory.

Nothing here imports the engine. The tracer wraps the benchmark's own
calls into each layer, so a later change inside the program cannot move
a span boundary.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JError


class JobCounter:
    """Spark jobs, stages and tasks submitted during a call.

    Spark numbers jobs consecutively per SparkContext, so the jobs of a
    call are the ids that appeared while it ran. That holds for jobs sent
    from the program's own thread pools and streaming threads, which carry
    no job group. A stage counts when at least one of its tasks ran, so a
    stage skipped for a reused shuffle counts for nothing.
    """

    def __init__(self, sc):
        self._sc = sc
        self._st = sc.statusTracker()
        self._next = 0

    def _drain(self) -> None:
        # job events reach the status store through the listener bus;
        # wait for it so a call's last jobs are not read as the next one's
        try:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:
            time.sleep(0.2)

    def _scan(self, job_id: int) -> int:
        while self._st.getJobInfo(job_id) is not None:
            job_id += 1
        return job_id

    def mark(self) -> int:
        """Id of the first job the next call will submit."""
        self._drain()
        self._next = self._scan(self._next)
        return self._next

    def since(self, first: int) -> dict[str, int]:
        """Jobs, stages and tasks submitted from job ``first`` on."""
        self._drain()
        end = self._scan(first)
        stages = tasks = 0
        for job_id in range(first, end):
            for stage_id in self._st.getJobInfo(job_id).stageIds:
                info = self._st.getStageInfo(stage_id)
                if info is not None and info.numCompletedTasks:
                    stages += 1
                    tasks += info.numCompletedTasks
        self._next = max(self._next, end)
        return {"jobs": end - first, "stages": stages, "tasks": tasks}


class Tracer:
    """In-memory spans (name, start, end, parent, run id) with the Spark
    job counts of each. Disabled when built without a session: ``span``
    then records nothing and costs one generator step."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.jobs = JobCounter(spark.sparkContext) if self.enabled else None
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = 0

    @contextmanager
    def span(self, name: str):
        """Time the body as span ``name``; yields a dict for extra counts."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        first = self.jobs.mark()
        sid, self._ids = self._ids, self._ids + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield counts
        finally:
            end = time.perf_counter()
            self._stack.pop()
            counts.update(self.jobs.since(first))
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "run": self.run_id,
                 "start": start, "end": end, "counts": counts}
            )

    def self_times(self) -> dict[int, float]:
        """Span id → its duration minus the time its children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


def file_sizes(root: str) -> dict[str, tuple[int, int]]:
    """Data files under ``root``: path → (inode, size). Checksums and
    markers are left out."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith((".", "_")):
                continue
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out[path] = (st.st_ino, st.st_size)
    return out


def written(before: dict, after: dict) -> tuple[list[str], int]:
    """Files new or rewritten between two snapshots, and their bytes."""
    paths = [p for p, v in after.items() if before.get(p) != v]
    return paths, sum(after[p][1] for p in paths)


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    return (_hwm_kb(os.getpid()) + _hwm_kb(jvm_pid)) / 1024.0
