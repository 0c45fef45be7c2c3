"""Shared machinery of the benchmark: the Spark session's lifetime,
peak memory, and the tracer that records spans and Spark counters.

Every layer is measured from outside: spans wrap calls into the
package's public functions, and Spark counters come from job groups
read back through ``statusTracker()`` and the JVM status store, which
work with the UI disabled.
"""

from __future__ import annotations

import os
import signal
import statistics
import time
from dataclasses import dataclass, field


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# session lifetime and memory


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Kernel high-water mark of resident memory (``VmHWM``) in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its waited-for children."""
    with open(f"/proc/{pid}/stat") as fh:
        # the command name may hold spaces; fields resume after ')'
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(f) for f in fields[11:15])


def _children(pid: int) -> list[int]:
    """Direct children of ``pid``, read from /proc."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        found += kids
        todo += kids
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class SparkProcess:
    """The session's JVM and the Python workers it forks."""

    def __init__(self, spark):
        from pyspark import SparkContext

        self.spark = spark
        self.proc = SparkContext._gateway.proc
        self.jvm_pid = self.proc.pid

    def cpu_s(self) -> float:
        """CPU seconds used so far by this driver process, the JVM and
        the Python workers it forked. Unlike wall time, CPU time hardly
        moves when other tenants load the host."""
        ticks = 0
        for pid in [os.getpid(), self.jvm_pid, *_descendants(self.jvm_pid)]:
            try:
                ticks += _cpu_ticks(pid)
            except OSError:  # the process just exited
                pass
        return ticks / _CLK_TCK

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus the JVM."""
        return vm_hwm_mb() + vm_hwm_mb(self.jvm_pid)

    def stop(self, timeout: float = 30.0) -> None:
        """Stop the session, end the JVM and wait for every process it
        started (Python worker daemons are the JVM's children)."""
        from pyspark import SparkContext

        workers = _descendants(self.jvm_pid)
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            if self.proc.stdin is not None:
                self.proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                self.proc.wait(timeout)
            except Exception:
                self.proc.kill()
                self.proc.wait(timeout)
            deadline = time.monotonic() + timeout
            for pid in workers:
                while _alive(pid) and time.monotonic() < deadline:
                    time.sleep(0.05)
                if _alive(pid):
                    os.kill(pid, signal.SIGKILL)


# ---------------------------------------------------------------------------
# tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class SparkCounts:
    """Spark work done by one job group, summed over its stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Tracer:
    """Spans and per-group Spark counters, kept in memory until exit.

    Disabled, every method is a no-op apart from the clock reads the
    untraced path makes anyway, so the same workload code serves both
    the end-to-end run and the traced run."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, SparkCounts] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    op: int = 0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def group(self, group: str) -> None:
        """Tag the Spark jobs that follow with ``group``."""
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, group)

    def collect(self, group: str) -> SparkCounts:
        """Read the counters of ``group``'s jobs from the status store.
        Call right after the operation: the store keeps only the most
        recent stages."""
        if not self.enabled:
            return SparkCounts()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        c = SparkCounts()
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            c.jobs += 1
            stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage skipped: its output was reused
                continue
            if str(st.status()) == "SKIPPED" or st.numCompleteTasks() == 0:
                continue
            c.stages += 1
            c.tasks += st.numCompleteTasks()
            c.executor_run_ms += st.executorRunTime()
            c.gc_ms += st.jvmGcTime()
            c.shuffle_bytes += st.shuffleWriteBytes()
            c.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self.counts[group] = c
        return c

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "counts": {k: v.__dict__ for k, v in self.counts.items()},
                },
                fh,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.seconds = 0.0

    def __enter__(self):
        t = self.tracer
        self.t0 = time.perf_counter()
        if t.enabled:
            self.parent = t._stack[-1] if t._stack else None
            t.spans.append(Span(self.name, self.t0, 0.0, self.parent, t.op))
            self.index = len(t.spans) - 1
            t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.seconds = t1 - self.t0
        t = self.tracer
        if t.enabled:
            t.spans[self.index].end = t1
            t._stack.pop()
        return False
