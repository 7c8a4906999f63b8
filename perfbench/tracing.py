"""Spans, Spark counters and process readings for the traced run.

In an untraced window the ``Tracer`` only tags each operation with its
own Spark job group (a local property; nothing is read until the window
ends). Counters are read only between ``start_counters`` and
``stop_counters``.

* Spans record a layer name, start, end, parent span and operation id.
  They stay in memory and are written out once when the run ends.
* Spark counters come from the status store and cover only the jobs of
  the current operation, found through the job group the tracer sets.
* Catalyst phase times come from the ``QueryExecution`` phase tracker of
  each executed query, delivered by a query-execution listener.
* Python-worker readings come from ``/proc``: the pyspark worker
  processes below the Spark JVM.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")

#: Stage fields summed per operation: status-store name -> (counter, scale).
_STAGE_FIELDS = {
    "executorRunTime": ("executor.run_s", 1e-3),
    "executorCpuTime": ("executor.cpu_s", 1e-9),
    "jvmGcTime": ("executor.gc_s", 1e-3),
    "inputBytes": ("sources.bytes_read", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "diskBytesSpilled": ("spill.bytes", 1),
    "numFailedTasks": ("spark.failed_tasks", 1),
}

CATALYST_PHASES = ("analysis", "optimization", "planning")


# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; everything after the last ')' is positional
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                kids.setdefault(int(st[2]), []).append(int(entry))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = children_map() if kids is None else kids
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(pid: int) -> float:
    """User + system CPU of one process, plus its reaped children's."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields after comm: state=1 ... utime=12 stime=13 cutime=14 cstime=15
    return sum(int(v) for v in st[12:16]) / _TICK


def tree_cpu_seconds(root: int) -> float:
    """CPU of ``root`` and every live descendant (reaped ones included)."""
    return sum(cpu_seconds(pid) for pid in descendants(root))


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_busy_seconds() -> tuple[float, float]:
    """Busy and stolen CPU time of the whole host since boot (all cores).

    Busy excludes idle, iowait and steal; steal is time a hypervisor gave
    this machine's CPUs to someone else.
    """
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    busy = user + nice + system + irq + softirq
    return busy / _TICK, steal / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def python_workers(jvm_pid: int) -> dict[int, float]:
    """pid -> CPU seconds of every Python process below the JVM.

    The pyspark daemon forks one worker per task slot; a worker that
    exits is reaped by the daemon, so its CPU stays in the daemon's
    reaped-children time and is not lost.
    """
    kids = children_map()
    out = {}
    for pid in descendants(jvm_pid, kids)[1:]:
        st = _stat(pid)
        if st is not None and st[0].startswith("python"):
            out[pid] = cpu_seconds(pid)
    return out


# --------------------------------------------------------------- tracer


@dataclass
class Span:
    id: int
    layer: str
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0


class _CatalystListener:
    """``QueryExecutionListener`` implemented in Python over py4j."""

    def __init__(self) -> None:
        self.pending: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = qe.tracker().phases()
        self.pending.append({
            p: phases.apply(p).durationMs() for p in CATALYST_PHASES if phases.contains(p)
        })

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@dataclass
class Tracer:
    """Records spans and per-operation counters when ``enabled``."""

    enabled: bool
    spark: object = None
    t0: float = field(default_factory=time.perf_counter)
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _listener: _CatalystListener | None = None
    #: pids of every Python worker seen below the JVM while tracing
    workers_seen: set[int] = field(default_factory=set)

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        s = Span(
            id=len(self.spans),
            layer=layer,
            name=name,
            op=op,
            parent=self._stack[-1] if self._stack else None,
            start=time.perf_counter() - self.t0,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter() - self.t0

    @property
    def counting(self) -> bool:
        return self._listener is not None

    def span_dicts(self) -> list[dict]:
        return [vars(s) | {"self_s": self_time(s, self.spans)} for s in self.spans]

    # -- Spark counters ------------------------------------------------

    def start_counters(self) -> None:
        """Read Spark from here on: register the catalyst listener.

        Until this is called (and after ``stop_counters``) operations
        only set their job group and, when enabled, a span.
        """
        from pyspark.java_gateway import ensure_callback_server_started

        self.enabled = True
        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self._listener = _CatalystListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def stop_counters(self) -> None:
        self.enabled = False
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    @contextlib.contextmanager
    def operation(self, layer: str, name: str, op: str, out: dict | None = None):
        """Run one operation under its own Spark job group ``op``.

        The job group is set in every mode (a local property, no reads),
        so failed tasks can be looked up per operation after a timed
        window. When tracing, the operation is also spanned and, if
        ``out`` is given, filled with its Spark counters, catalyst phases
        and Python-worker readings.
        """
        sc = self.spark.sparkContext
        if self._listener is None:
            sc.setJobGroup(op, name)
            try:
                with self.span(layer, name, op):
                    yield
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:  # set-up of a traced run: note the worker pool
                self.workers_seen.update(python_workers(sc._gateway.proc.pid))
            return
        jvm_pid = sc._gateway.proc.pid
        self._drain()
        self._listener.pending.clear()
        before = python_workers(jvm_pid)
        self.workers_seen.update(before)
        sc.setJobGroup(op, name)
        try:
            with self.span(layer, name, op) as s:
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if out is None:
            return
        self._drain()
        out.update(self._spark_counters(op))
        for phases in self._listener.pending:
            for p in CATALYST_PHASES:
                key = f"catalyst.{p}_ms"
                out[key] = out.get(key, 0.0) + phases.get(p, 0)
        self._listener.pending.clear()
        after = python_workers(jvm_pid)
        out["python.workers_started"] = len(set(after) - self.workers_seen)
        self.workers_seen.update(after)
        # A worker that exited is reaped by the daemon, so its CPU moved
        # into the daemon's reaped-children time: subtract all of before.
        out["python.cpu_s"] = max(0.0, sum(after.values()) - sum(before.values()))
        out["wall_s"] = s.end - s.start

    def failed_tasks(self, groups: list[str]) -> int:
        """Failed task attempts of the given job groups (read after a
        window, from the status tracker)."""
        self._drain()
        tracker = self.spark.sparkContext.statusTracker()
        failed = 0
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info is not None else ():
                    stage = tracker.getStageInfo(stage_id)
                    failed += stage.numFailedTasks if stage is not None else 0
        return failed

    def _drain(self) -> None:
        # Status-store and listener updates are asynchronous: wait until
        # every event of the finished operation has been processed.
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _spark_counters(self, op: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        out = {name: 0.0 for name, _ in _STAGE_FIELDS.values()}
        out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0})
        task_status = getattr(store, "stageData$default$3")()
        quantiles = getattr(store, "stageData$default$5")()
        for job_id in tracker.getJobIdsForGroup(op):
            out["spark.jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info is not None else ():
                attempts = store.stageData(stage_id, False, task_status, False, quantiles)
                for i in range(attempts.size()):
                    stage = attempts.apply(i)
                    if str(stage.status()) == "SKIPPED":
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += stage.numTasks()
                    for attr, (name, scale) in _STAGE_FIELDS.items():
                        out[name] += getattr(stage, attr)() * scale
        return out


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of it covered by the span's children."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered
