"""The traced run: spans around the calls into each layer, plus Spark counts.

Spans are recorded from the benchmark's own files: `Tracer.patch` swaps a
public function of the program for a wrapper that records a span around
each call, and `Tracer.span` marks a call the benchmark makes itself. Spans
stay in memory and are written out when the run ends. With tracing off,
no function is patched and `span` is a shared no-op.

Spark's own counts come from the status store (`statusStore()`), which is
kept with the UI off. Jobs are attributed to a call by the range of job
ids the scheduler handed out during it, not by job group: the engine sets
and clears its own job group inside `collect_with_timeout`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    #: Spark job ids [first, last) started while the span was open
    jobs: tuple[int, int] | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Span recorder. `enabled=False` makes every method a no-op."""

    def __init__(self, enabled: bool, jobs: "JobCounter | None" = None) -> None:
        self.enabled = enabled
        self.jobs = jobs
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        #: time spent in the tracer's own bookkeeping: the tracing overhead
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def _record(self, name: str):
        t_in = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        first_job = self.jobs.next_id() if self.jobs else None
        span = Span(sid, name, 0.0, 0.0, parent)
        self.spans.append(span)
        self._stack.append(sid)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t_in
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self.jobs:
                span.jobs = (first_job, self.jobs.next_id())
            self.overhead_s += time.perf_counter() - span.end

    def span(self, name: str):
        """Context manager recording one span (no-op when disabled)."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name)

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` with a wrapper recording span `name` per call
        until `restore()`. Patch the name the caller looks up: a module that
        did `from x import f` calls its own `f`, not `x.f`."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self._record(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- queries over the recorded spans ---------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total_ms(self, name: str) -> float:
        return sum(s.ms for s in self.named(name))

    def dump(self, path: str) -> None:
        """Write every span as one JSON object per line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "jobs": s.jobs,
                        }
                    )
                    + "\n"
                )


class JobCounter:
    """Reads Spark's scheduler and status store through the JVM gateway."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self.cores = spark.sparkContext.defaultParallelism

    def next_id(self) -> int:
        """The id the next submitted job will get."""
        return self._sc.dagScheduler().numTotalJobs()

    def settle(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def jobs_stats(self, first: int, last: int) -> dict:
        """Summed counts of jobs [first, last): stages run and skipped,
        single-task stages, tasks, executor run time, shuffle write and
        spill bytes. A stage shared by two jobs is counted once."""
        from py4j.protocol import Py4JJavaError

        store = self._sc.statusStore()
        out = dict.fromkeys(
            (
                "jobs",
                "stages_run",
                "stages_skipped",
                "single_task_stages",
                "tasks",
                "executor_ms",
                "shuffle_write_bytes",
                "spill_bytes",
            ),
            0,
        )
        seen: set[int] = set()
        for job_id in range(first, last):
            try:
                job = store.job(job_id)
            except Py4JJavaError:  # no such job: never submitted
                continue
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # planned, never attempted
                    out["stages_skipped"] += 1
                    continue
                status = st.status().toString()
                if status == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["stages_run"] += 1
                out["tasks"] += st.numTasks()
                out["single_task_stages"] += int(st.numTasks() == 1)
                out["executor_ms"] += st.executorRunTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def gc_ms(self) -> int:
        """Total collection time of the JVM's garbage collectors (in
        local mode the executors share that JVM)."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def jvm_pid(self) -> int:
        return self._jvm.java.lang.ProcessHandle.current().pid()


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst's analysis / optimization / planning ms for a DataFrame whose
    plan has been executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[phase] = float(phases.apply(phase).durationMs()) if phases.contains(phase) else 0.0
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    process `root` (default: this one) and all its descendants: this process,
    the JVM it launched and the JVM's Python workers."""
    root = os.getpid() if root is None else root
    stat: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        # fields[1] is ppid; fields[11:15] are utime, stime, cutime, cstime
        stat[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stat.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    ticks = sum(stat[pid][1] for pid in tree if pid in stat)
    return ticks / os.sysconf("SC_CLK_TCK")

