"""Per-call readings from the stores Spark keeps in-process.

Each traced call runs under its own ``setJobGroup`` tag. Right after the
call returns, :class:`Recorder` drains the listener bus and reads, before
the live store can evict them (``spark.ui.retainedJobs``/``Stages``,
``spark.sql.ui.retainedExecutions``):

- the tag's jobs (``statusTracker().getJobIdsForGroup``) and their
  submission/completion times;
- each stage's task metrics (``AppStatusStore.lastStageAttempt``): task
  count, executor run/CPU/GC time, input/output bytes, shuffle write and
  spill;
- each new SQL execution's final plan graph and formatted SQL metrics
  (``SQLAppStatusStore.planGraph``/``executionMetrics``): Exchange and
  BroadcastExchange nodes, and the Python-worker metrics of
  ``MapInPandas``-style nodes.

All of these stores are filled with ``spark.ui.enabled=false``. SQL metrics
are kept only as display strings ("2.5 s", "1542.4 KiB", "5,000"), so
the Python/Arrow readings carry their display precision.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, fields

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PYTHON_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric: '254 ms', '1.1 s', '308.4 KiB',
    '15,000', or the per-task form whose last line starts with the total."""
    total = text.strip().splitlines()[-1].split(" (")[0].replace(",", "")
    number, _, unit = total.partition(" ")
    scale = _SIZE.get(unit) or _TIME.get(unit) or 1.0
    return float(number) * scale


@dataclass
class CallStats:
    """What Spark recorded for one traced call (sums over its jobs)."""

    wall_s: float = 0.0
    jobs: int = 0
    job_s: float = 0.0  # wall time covered by at least one running job
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    exchanges: int = 0
    broadcasts: int = 0
    py_run_s: float = 0.0
    py_start_s: float = 0.0
    bytes_to_py: float = 0.0
    bytes_from_py: float = 0.0

    def __iadd__(self, other: "CallStats") -> "CallStats":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _union_s(intervals: list[tuple[int, int]]) -> float:
    covered, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            covered += hi - lo
            end = hi
        elif hi > end:
            covered += hi - end
            end = hi
    return covered / 1000.0


class Recorder:
    """Tags calls with job groups and reads their stats right after."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.calls = 0
        self.next_execution = 0
        self.sync()

    def sync(self) -> None:
        """Skip SQL executions started outside traced calls."""
        self._jsc.listenerBus().waitUntilEmpty()
        while not self._sql.execution(self.next_execution).isEmpty():
            self.next_execution += 1

    def call(self, tag: str, fn, *args):
        """Run ``fn(*args)`` under a fresh job group; returns (result, stats)."""
        self.calls += 1
        group = f"{tag}#{self.calls}"
        self._sc.setJobGroup(group, tag)
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        finally:
            wall = time.perf_counter() - t0
            self._sc._jsc.clearJobGroup()
        stats = self.read(group)
        stats.wall_s = wall
        return out, stats

    def read(self, group: str) -> CallStats:
        self._jsc.listenerBus().waitUntilEmpty()
        st = CallStats()
        intervals, stage_ids = [], set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            st.jobs += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((
                    job.submissionTime().get().getTime(),
                    job.completionTime().get().getTime(),
                ))
            stage_ids.update(_seq(job.stageIds()))
        st.job_s = _union_s(intervals)
        for sid in stage_ids:
            sd = self._store.lastStageAttempt(sid)
            st.tasks += sd.numCompleteTasks()
            st.task_run_s += sd.executorRunTime() / 1e3
            st.task_cpu_s += sd.executorCpuTime() / 1e9
            st.gc_s += sd.jvmGcTime() / 1e3
            st.input_bytes += sd.inputBytes()
            st.output_bytes += sd.outputBytes()
            st.shuffle_write_bytes += sd.shuffleWriteBytes()
            st.spill_bytes += sd.diskBytesSpilled()
        self._read_sql(st)
        return st

    def _read_sql(self, st: CallStats) -> None:
        """Fold in every SQL execution started since the previous read.

        Execution ids are allocated in order, so the new ones are the ids
        from ``next_execution`` up to the first id the store lacks."""
        eid = self.next_execution
        while True:
            ex = self._sql.execution(eid)
            if ex.isEmpty():
                break
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                st.exchanges += name == "Exchange"
                st.broadcasts += name == "BroadcastExchange"
                if "Python" not in name and "Pandas" not in name and "Arrow" not in name:
                    continue
                for metric in _seq(node.metrics()):
                    attr = _PYTHON_METRICS.get(metric.name())
                    text = values.get(metric.accumulatorId())
                    if attr and text.isDefined():
                        value = parse_sql_metric(text.get())
                        setattr(st, attr, getattr(st, attr) + value)
            eid += 1
        self.next_execution = eid
