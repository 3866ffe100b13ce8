"""Outside-in layer probes and the in-memory trace.

Every number here is taken by timing or inspecting calls into a
layer's public surface; nothing inside the engine is patched. A probe
that is off costs one attribute test.

Layers and where their counts come from:

- ``session``: ``session.get_spark`` and the warm-up query.
- ``plans``: the ``plans.registry`` query function call, plus the Spark jobs
  it launches while building (its own job group).
- ``spark_sql``: Catalyst phase times from
  ``queryExecution().tracker().phases()`` of the forced plan.
- ``spark_exec``: the forced action's job group, read back through
  ``statusTracker()`` and the status store (which works with the UI
  off) once the listener bus has delivered every event to it. Its
  time is the wall time during which the group's jobs ran.
- ``functions``: persisted RDDs and their size after the action, and
  the ones still persisted after ``clearCache()``.
"""

from __future__ import annotations

import json
import os
import time
from itertools import count

MB = 1024 * 1024
# What job_group_stats reports, per job group.
EXEC_KEYS = (
    "s", "jobs", "stages", "stages_skipped", "tasks", "task_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


class Tracer:
    """Spans kept in memory and written out once, at the end."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = count(1)
        self._stack: list[tuple[int, str | None]] = []  # (span id, request)

    def span(self, name: str, request: str | None = None):
        """Time a block; when enabled, also record it as a span whose
        parent is the enclosing span. ``request`` names the query or op
        the span serves."""
        return _Span(self, name, request)

    def job_group(self, spark, prefix: str) -> str:
        """Tag the Spark jobs that follow with a fresh group id."""
        gid = f"perfbench-{prefix}-{next(self._ids)}"
        spark.sparkContext.setJobGroup(gid, prefix)
        return gid

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, request) -> None:
        self.tracer, self.name, self.request = tracer, name, request
        self.elapsed = 0.0

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.id = next(t._ids)
            self.parent, inherited = t._stack[-1] if t._stack else (None, None)
            self.request = self.request or inherited  # one id per request
            t._stack.append((self.id, self.request))
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.elapsed = end - self.start
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.spans.append(
                {
                    "id": self.id,
                    "parent": self.parent,
                    "name": self.name,
                    "request": self.request,
                    "start": self.start,
                    "end": end,
                }
            )


def job_group_stats(spark, gid: str) -> dict:
    """Jobs, stages and task totals of one job group, and the seconds
    during which at least one of its jobs ran. A stage id shared by
    several jobs is counted once; a SKIPPED stage (its shuffle output
    reused) counts only as skipped.

    The tracker and the status store are fed asynchronously by the
    listener bus, so it is drained first: after that every event of
    the finished jobs has been applied."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(gid))
    stage_ids: set[int] = set()
    spans = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
        job = store.job(j)
        spans.append(
            (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
        )
    out = dict.fromkeys(EXEC_KEYS, 0)
    out["jobs"] = len(jobs)
    out["s"] = busy_ms(spans) / 1000.0
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if str(sd.status()) == "SKIPPED":
            out["stages_skipped"] += 1
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["task_s"] += sd.executorRunTime() / 1000.0
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
    return out


def busy_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of (start, end) intervals: jobs that run at
    the same time (broadcasts beside the main job) count once."""
    total, reach = 0, 0
    for start, end in sorted(spans):
        total += max(0, end - max(start, reach))
        reach = max(reach, end)
    return total


def catalyst_phases(df) -> dict:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def persisted(spark) -> tuple[int, float]:
    """(persisted RDD count, their cached MB in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    mb = sum(
        (i.memSize() + i.diskSize()) / MB for i in jsc.sc().getRDDStorageInfo()
    )
    return n, mb


# ------------------------------------------------------------ process tree


def process_age_s() -> float:
    """Seconds since this process started: its start time in
    /proc/self/stat (clock ticks since boot) against the boot clock."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _children(pid: int) -> list[int]:
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            kids.append(int(name))
    return kids


def process_tree(pid: int | None = None) -> list[int]:
    root = os.getpid() if pid is None else pid
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU time of this machine so far, in clock ticks:
    time a virtual CPU waited for its host, beside all time."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_s(pids: list[int] | None = None) -> float:
    """CPU seconds (user + system) used so far by ``pids``, default the
    process tree (the Python process and the Spark JVM). Time a
    virtual CPU spends stolen by its host is not counted."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in process_tree() if pids is None else pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / tick


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM): the JVM's and
    the Python process's peaks, an upper bound on the tree's peak."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
