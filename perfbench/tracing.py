"""Spans around calls into the engine, and Spark's own counts for them.

A ``Tracer`` times every span with ``perf_counter``. In traced mode each span
also runs under its own Spark job group; after a timed round,
``Tracer.collect`` waits for Spark's listener bus to drain and reads, for each
span's group, the jobs (``sc.statusTracker()``), the stages
(``statusStore().lastStageAttempt(id)``, ``taskList``) and the SQL metrics of
the Python nodes (``executionMetrics(id)`` of the SQL status store). Spans
stay in memory; ``Tracer.dump`` writes them as JSON.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
PYTHON_BYTES = ("data sent to Python workers",
                "data returned from Python workers")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40}


@dataclass
class GroupStats:
    """Spark's counts for the jobs of one job group."""
    jobs: int = 0
    first_job_s: float = 0.0
    tasks: int = 0
    # tasks of every job but the first, and their durations in ms
    later_tasks: int = 0
    later_task_ms: list[int] = field(default_factory=list)
    map_stage_s: float = 0.0     # stages that write shuffle output
    result_stage_s: float = 0.0  # all other stages that ran
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0         # bytes spilled to disk
    gc_s: float = 0.0
    executor_cpu_s: float = 0.0
    python_bytes: int = 0        # to and from Python workers


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    group: str | None = None
    stats: GroupStats | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def parse_size(text: str) -> int:
    """Bytes from a formatted SQL size metric: ``"8.0 MiB"`` or the
    multi-task form ``"total (min, med, max ...)\\n8.0 MiB (...)"``."""
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)", text.split("\n")[-1])
    if not m:
        raise ValueError(f"not a size metric: {text!r}")
    return round(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)])


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._origin = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, parent.name if parent else None,
                 time.perf_counter() - self._origin)
        sc = self.spark.sparkContext
        if self.traced:
            s.group = f"perfbench-{len(self.spans) + len(self._open)}-{name}"
            sc.setJobGroup(s.group, name, False)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._origin
            self._open.pop()
            if self.traced:
                if parent is not None and parent.group is not None:
                    sc.setJobGroup(parent.group, parent.name, False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def collect(self, spans: list[Span], python_bytes: bool = False) -> None:
        """Fill ``stats`` of the given spans from Spark's status stores;
        ``python_bytes`` also reads the SQL metrics of the Python nodes."""
        if not self.traced:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        for s in spans:
            s.stats = self._group_stats(s.group, python_bytes)

    def _group_stats(self, group: str, python_bytes: bool) -> GroupStats:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        st = GroupStats(jobs=len(job_ids))
        for n, jid in enumerate(job_ids):
            job = store.job(jid)
            if n == 0 and job.completionTime().isDefined():
                st.first_job_s = (job.completionTime().get().getTime()
                                  - job.submissionTime().get().getTime()) / 1e3
            for sid in tracker.getJobInfo(jid).stageIds:
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                seconds = (stage.completionTime().get().getTime()
                           - stage.submissionTime().get().getTime()) / 1e3
                st.tasks += stage.numTasks()
                if stage.shuffleWriteBytes() > 0:
                    st.map_stage_s += seconds
                else:
                    st.result_stage_s += seconds
                st.shuffle_write_bytes += stage.shuffleWriteBytes()
                st.spill_bytes += stage.diskBytesSpilled()
                st.gc_s += stage.jvmGcTime() / 1e3
                st.executor_cpu_s += stage.executorCpuTime() / 1e9
                if n > 0:
                    st.later_tasks += stage.numTasks()
                    tasks = store.taskList(sid, stage.attemptId(),
                                           stage.numTasks())
                    for i in range(tasks.size()):
                        d = tasks.apply(i).duration()
                        if d.isDefined():
                            st.later_task_ms.append(d.get())
        if python_bytes:
            st.python_bytes = self._python_bytes(set(job_ids))
        return st

    def _python_bytes(self, job_ids: set[int]) -> int:
        """Bytes to and from Python workers, summed over the SQL metrics of
        the ``MapInPandas`` / ``FlatMapGroupsInPandas`` nodes of every SQL
        execution that ran one of ``job_ids``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = {}  # accumulator id -> formatted value
            it = sql.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            nodes = sql.planGraph(ex.executionId()).allNodes()
            acc_ids = set()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name() not in PYTHON_NODES:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() in PYTHON_BYTES:
                        acc_ids.add(metric.accumulatorId())
            total += sum(parse_size(values[a]) for a in acc_ids if a in values)
        return total

    def dump(self, path: str) -> None:
        def plain(s: Span) -> dict:
            d = {"name": s.name, "parent": s.parent, "start": s.start,
                 "end": s.end, "group": s.group}
            if s.stats is not None:
                d["stats"] = vars(s.stats)
            return d
        with open(path, "w") as f:
            json.dump([plain(s) for s in self.spans], f, indent=1)


def skew(durations_ms: list[int]) -> float:
    """Slowest task over the median task."""
    if not durations_ms:
        return 0.0
    return max(durations_ms) / max(statistics.median(durations_ms), 1)
