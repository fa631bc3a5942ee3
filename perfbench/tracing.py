"""Spans and Spark status-store counters for the traced run.

Spans are recorded only here, in the benchmark, around calls into the
program's public functions; each has a name, start, end, parent and run id,
is kept in memory and written out once at exit.

Counters come from Spark's own status stores over py4j — the SQL store
(``sharedState().statusStore()``: per-plan-node metrics such as Python
worker time and bytes to/from Python) and the app store
(``sc.statusStore()``: per-stage task time, shuffle and spill bytes, task
quantiles, failed tasks). Both answer with ``spark.ui.enabled=false`` and
reading them launches no Spark job.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)\s*$")


def parse_metric_value(text: str) -> float:
    """One SQL-UI metric value ('35,823', '3.0 MiB', '342 ms', '1.2 m') as a
    plain number: bytes for sizes, seconds for timings, the count otherwise."""
    m = _NUM_UNIT.match(text)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    raise ValueError(f"unknown metric unit in {text!r}")


def parse_metric(text: str) -> dict[str, float]:
    """A SQL-UI metric string → {'total', and when present 'min','med','max'}.

    Per-task metrics read 'total (min, med, max (stageId: taskId))\\n8.6 s
    (340 ms, 518 ms, 703 ms (stage 20.0: task 51))'; single values read
    '35,823'."""
    if "\n" not in text:
        return {"total": parse_metric_value(text)}
    line = text.split("\n", 1)[1]
    total, rest = line.split(" (", 1)
    lo, med, hi = rest.split(", ")[:3]
    return {
        "total": parse_metric_value(total),
        "min": parse_metric_value(lo),
        "med": parse_metric_value(med),
        "max": parse_metric_value(hi.split(" (")[0]),
    }


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span a no-op."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id, dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@dataclass
class Mark:
    execution: int
    job: int
    stage: int


def _timed(fn):
    """Adds the wall time of a StatusStores read to ``busy_s``: the store
    reads are the traced run's overhead."""

    def wrapper(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(self, *a, **kw)
        finally:
            self.busy_s += time.perf_counter() - t0

    return wrapper


class StatusStores:
    """Reads counters for the actions run since a ``mark()``.

    The app store lists jobs and stages newest first, and the SQL store
    lists executions oldest first, so reading what is new since a mark
    touches only the new entries over py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self.busy_s = 0.0

    def _new_stages(self, since: int):
        seq = self.app.stageList(None, False, False, self._no_q, None)
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= since:
                break
            yield s

    def _new_jobs(self, since: int):
        seq = self.app.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= since:
                break
            yield j

    def _new_executions(self, since: int) -> list[int]:
        seq = self.sql.executionsList()
        out = []
        for i in range(seq.size() - 1, -1, -1):
            eid = seq.apply(i).executionId()
            if eid <= since:
                break
            out.append(eid)
        return out[::-1]

    @_timed
    def mark(self) -> Mark:
        ex = self.sql.executionsList()
        jobs = self.app.jobsList(None)
        stages = self.app.stageList(None, False, False, self._no_q, None)
        return Mark(
            ex.apply(ex.size() - 1).executionId() if ex.size() else -1,
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    @_timed
    def failed_tasks(self) -> int:
        return sum(s.numFailedTasks() for s in self._new_stages(-1))

    @_timed
    def stage_totals(self, since: Mark) -> dict[str, float]:
        """Task time, shuffle/spill bytes, task counts and the worst task
        skew (max/median task run time of any stage with ≥ 4 tasks)."""
        out = {"tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0, "task_skew": 1.0}
        for s in self._new_stages(since.stage):
            if s.status().toString() == "SKIPPED":
                continue
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
            if s.numTasks() >= 4:
                d = self.app.taskSummary(s.stageId(), s.attemptId(), self._q)
                if d.isDefined():
                    run = d.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        out["task_skew"] = max(out["task_skew"], mx / med)
        out["jobs"] = sum(1 for _ in self._new_jobs(since.job))
        return out

    @_timed
    def plan_nodes(self, since: Mark) -> list[tuple[str, dict[str, dict[str, float]]]]:
        """(node name, {metric name: parsed metric}) for every plan node of
        every SQL execution since the mark (final AQE plans)."""
        nodes = []
        for eid in self._new_executions(since.execution):
            values = self.sql.executionMetrics(eid)
            for n in _seq(self.sql.planGraph(eid).allNodes()):
                ms = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = parse_metric(v.get())
                nodes.append((n.name(), ms))
        return nodes

    @_timed
    def node_count(self, since: Mark) -> int:
        return sum(
            self.sql.planGraph(eid).allNodes().size()
            for eid in self._new_executions(since.execution)
        )


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def node_sum(nodes, node_name: str, metric: str) -> float:
    """Sum of a metric's total over the plan nodes with this name."""
    return sum(ms[metric]["total"] for name, ms in nodes if name == node_name and metric in ms)
