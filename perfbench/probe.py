"""Measurement plumbing shared by the workloads.

* process facts read from ``/proc``: CPU seconds of this Python process,
  the Spark JVM and the JVM's children, those of the JVM's JIT compiler
  threads, and the JVM's peak RSS (``VmHWM``);
* a closed-loop timer (:func:`timed_ops`) that runs one operation back
  to back until the run's time is spent;
* a span recorder (:class:`Tracer`) kept in memory and dumped at the
  end of the run;
* per-action counts read from Spark's status stores (:class:`StageProbe`)
  without starting a Spark job.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024
# what every layer reports, as <layer>.<measure>
LAYER_MEASURES = ["s", "rows", "tasks", "shuffle_mb", "spill_mb", "task_skew"]


def _children(pid: int) -> list[int]:
    kids = []
    for task in Path(f"/proc/{pid}/task").glob("*/children"):
        kids.extend(int(p) for p in task.read_text().split())
    return kids


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            todo.extend(_children(p))
        except OSError:
            pass
    return out


def _cpu(pid: int, tid: int | None = None) -> float:
    stat = Path(f"/proc/{pid}/stat" if tid is None else f"/proc/{pid}/task/{tid}/stat")
    try:
        fields = stat.read_text().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _TICK  # utime + stime


def jvm_pid(spark) -> int:
    """Pid of the JVM behind a local-mode session."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


_JIT_TIDS: dict[int, list[int]] = {}  # JVM pid -> its compiler threads


def jit_seconds(jvm: int) -> float:
    """CPU seconds so far of the JVM's JIT compiler threads.  They live
    as long as the JVM, because run.py turns off HotSpot's dynamic
    starting and stopping of them, so their sum loses no exited thread."""
    if jvm not in _JIT_TIDS:
        _JIT_TIDS[jvm] = []
        for task in Path(f"/proc/{jvm}/task").iterdir():
            try:
                name = (task / "comm").read_text()
            except OSError:  # a thread that ended meanwhile
                continue
            if name.startswith(("C1 Compiler", "C2 Compiler")):
                _JIT_TIDS[jvm].append(int(task.name))
    return sum(_cpu(jvm, tid) for tid in _JIT_TIDS[jvm])


def cpu_seconds(jvm: int) -> float:
    """CPU seconds so far of this Python process, the JVM and the JVM's
    descendants (Python workers), less the JVM's JIT compiling: that is
    warm-up work which at these input sizes goes on for minutes, most of
    an operation's CPU at first, and which a run cannot wait out."""
    return _cpu(os.getpid()) + sum(_cpu(p) for p in _tree(jvm)) - jit_seconds(jvm)


def peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def storage_mb(spark) -> float:
    """Storage memory the session's cached data holds now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / MB


def noop(df) -> None:
    """Run ``df`` to Spark's noop sink: full execution, no output."""
    df.write.format("noop").mode("overwrite").save()


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class OpTimes:
    """Wall, CPU and JIT-compiling CPU seconds of each timed operation
    of a run."""

    wall: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    jit: list[float] = field(default_factory=list)
    failed: int = 0

    @property
    def attempted(self) -> int:
        return len(self.wall)


def timed_ops(
    op: Callable[[int], bool],
    seconds: float,
    min_ops: int,
    jvm: int,
    after: Callable[[], None] | None = None,
) -> OpTimes:
    """Run ``op(i)`` back to back (a closed loop with one client) until
    ``seconds`` have passed and at least ``min_ops`` ran, calling the
    untimed ``after()`` behind each one.  ``op`` returns False when its
    output check failed; an exception counts as a failure too and is
    re-raised after the loop bookkeeping."""
    times = OpTimes()
    deadline = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < deadline:
        j0, c0, t0 = jit_seconds(jvm), cpu_seconds(jvm), time.perf_counter()
        ok = False
        try:
            ok = op(i)
        finally:
            times.wall.append(time.perf_counter() - t0)
            times.cpu.append(cpu_seconds(jvm) - c0)
            times.jit.append(jit_seconds(jvm) - j0)
            times.failed += not ok
        if after is not None:
            after()
        i += 1
    return times


@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Spans around the benchmark's calls into each layer.  Kept in
    memory; :meth:`dump` returns them for the run record."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op_id: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, op_id, parent, time.perf_counter() - self._t0)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


@dataclass
class ActionStats:
    """What one Spark action did, from the status stores."""

    s: float = 0.0
    rows: int = 0
    tasks: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0


class StageProbe:
    """Labels each action with a job group and reads back its stages
    (status tracker + core status store) and its result row count (SQL
    status store).  Reading never starts a Spark job: every read
    compares the known job count before and after, and
    ``jobs_started_by_reads`` must stay 0."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.gw = self.sc._gateway
        self.jobs_started_by_reads = 0

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _job_count(self) -> int:
        return self._store().jobsList(None).size()

    def execution_ids(self) -> list[int]:
        execs = self._sql().executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    def run(self, group: str, action: Callable[[], object]) -> ActionStats:
        """Run ``action`` under job group ``group``; ``s`` is its wall
        time, ``rows`` what its last SQL execution produced."""
        before = set(self.execution_ids())
        self.sc.setJobGroup(group, group, False)
        t0 = time.perf_counter()
        try:
            action()
        finally:
            elapsed = time.perf_counter() - t0
            self.sc.setJobGroup("perfbench-idle", "idle", False)
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stats = self._read(jobs, [e for e in self.execution_ids() if e not in before])
        stats.s = elapsed
        return stats

    def execution_stats(self, execution_ids: list[int]) -> ActionStats:
        """Counts over some SQL executions; ``s`` is the sum of their
        durations as the SQL status store recorded them."""
        sql = self._sql()
        jobs, seconds = [], 0.0
        for ex in execution_ids:
            data = sql.execution(ex).get()
            it = data.jobs().keys().iterator()
            while it.hasNext():
                jobs.append(it.next())
            seconds += (data.completionTime().get().getTime() - data.submissionTime()) / 1000
        stats = self._read(jobs, execution_ids)
        stats.s = seconds
        return stats

    def _read(self, jobs: list[int], execution_ids: list[int]) -> ActionStats:
        before = self._job_count()
        stats = ActionStats()
        store = self._store()
        heaviest = (-1, 0, 0)
        for job in jobs:
            it = store.job(job).stageIds().iterator()
            while it.hasNext():
                for sd in self._stage_attempts(store, it.next()):
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    stats.tasks += sd.numTasks()
                    stats.shuffle_mb += sd.shuffleWriteBytes() / MB
                    stats.spill_mb += sd.diskBytesSpilled() / MB
                    stats.input_mb += sd.inputBytes() / MB
                    stats.output_mb += sd.outputBytes() / MB
                    heaviest = max(heaviest, (sd.executorRunTime(), sd.stageId(), sd.attemptId()))
        if heaviest[0] >= 0:
            stats.task_skew = self._skew(store, heaviest[1], heaviest[2])
        if execution_ids:
            stats.rows = self._result_rows(execution_ids[-1])
        self.jobs_started_by_reads += self._job_count() - before
        return stats

    def _stage_attempts(self, store, stage_id: int) -> list:
        seq = store.stageData(
            stage_id, False, self.gw.jvm.java.util.ArrayList(), False,
            self.gw.new_array(self.gw.jvm.double, 0),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def _skew(self, store, stage_id: int, attempt: int) -> float:
        """Max over median task run time in the heaviest stage."""
        qs = self.gw.new_array(self.gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(stage_id, attempt, qs)
        if not summary.isDefined():
            return 0.0
        rt = summary.get().executorRunTime()
        return rt.apply(1) / max(rt.apply(0), 1.0)

    def _result_rows(self, execution_id: int) -> int:
        """Rows one SQL execution produced: the first node under the
        root with a row count, walking down through single-child nodes
        that report none (projections, sorts, exchanges, windows)."""
        sql = self._sql()
        values = sql.executionMetrics(execution_id)
        graph = sql.planGraph(execution_id)
        all_nodes = graph.allNodes()
        nodes = {n.id(): n for n in (all_nodes.apply(i) for i in range(all_nodes.size()))}
        children: dict[int, list[int]] = {}
        has_parent = set()
        for i in range(graph.edges().size()):
            e = graph.edges().apply(i)
            children.setdefault(e.toId(), []).append(e.fromId())
            has_parent.add(e.fromId())
        todo = [n for n in nodes if n not in has_parent and n in children]
        while len(todo) == 1:
            node = nodes[todo[0]]
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        return int(v.get().split("\n")[-1].split(" ")[0].replace(",", ""))
            todo = children.get(node.id(), [])
        return 0

