"""Spans and Spark status-store reads for the traced run.

Each phase of each operation runs under its own Spark job group.  After
the operation, ``SparkReader.read_phase`` pulls the jobs of that group
from ``statusTracker``, each job's stages from the core status store and
the SQL executions that ran those jobs from the SQL status store.  Stage
spans are parented to their phase span through the job group.  Spans stay
in memory (``Tracer.spans``) and the caller writes them out once, at the
end of the run.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

#: SQL metrics summed per phase: (metric name in the plan graph, key)
PY_METRICS = {"time to run Python workers": "python_run_s",
              "time to start Python workers": "python_start_s",
              "data sent to Python workers": "python_bytes",
              "data returned from Python workers": "python_bytes"}
#: join operators in the final (adaptive) plan graph, by strategy
JOINS = {"SortMergeJoin": "shuffle_joins",
         "ShuffledHashJoin": "shuffle_joins",
         "BroadcastHashJoin": "broadcast_joins",
         "BroadcastNestedLoopJoin": "broadcast_joins"}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number (seconds for times,
    bytes for sizes).  Values with per-task statistics read
    ``"total (min, med, max ...)\\n7.9 s (1.9 s, ...)"``; the total is
    the first quantity of the second line."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    if unit == "":
        return num
    raise ValueError(f"unknown unit in SQL metric value {text!r}")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store.  Times are epoch seconds, so stage
    timestamps from Spark (epoch milliseconds) share the axis."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name, start, end, parent=None, **attrs) -> Span:
        span = Span(len(self.spans), parent, name, start, end, attrs)
        self.spans.append(span)
        return span


class SparkReader:
    """Reads jobs, stages and SQL metrics for one job group at a time.

    SQL executions are read incrementally (``executionsList(offset,
    n)``), once per operation by ``sync``, so each read costs the
    executions of the operation, not of the whole run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self._sql_seen = int(self.sql.executionsCount())
        #: the SQL executions that started since the previous ``sync``
        self._execs = []

    def sync(self) -> None:
        """Call after an operation, before reading its phases.  Waits
        until Spark's listener bus has delivered every event so far (the
        status stores are filled from it asynchronously, so a read made
        before could miss a short phase's jobs or an execution's final
        plan), then takes the SQL executions started since the previous
        call; each phase read picks its own from them."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        count = int(self.sql.executionsCount())
        self._execs = []
        if count > self._sql_seen:
            execs = self.sql.executionsList(self._sql_seen,
                                            count - self._sql_seen)
            self._execs = [execs.apply(i) for i in range(execs.size())]
            self._sql_seen = count

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _stage(self, sid: int):
        rows = self.store.stageData(sid, False, self._empty, False,
                                    self._quantiles)
        return rows.apply(rows.size() - 1) if rows.size() else None

    def read_phase(self, group: str, tracer: Tracer, parent: Span) -> dict:
        """Counters for one phase; adds a span per stage."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "spill_bytes": 0, "result_bytes": 0,
               "input_rows": 0, "exchanges": 0, "shuffle_joins": 0,
               "broadcast_joins": 0, "python_run_s": 0.0,
               "python_start_s": 0.0, "python_bytes": 0.0, "stage_busy_s": 0.0}
        job_ids = set(int(j) for j in
                      self.sc.statusTracker().getJobIdsForGroup(group))
        intervals = []
        seen_stages = set()
        for jid in sorted(job_ids):
            out["jobs"] += 1
            stage_ids = self.store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._stage(sid)
                # skipped stages (shuffle reuse) never ran: no submission
                if st is None or st.submissionTime().isEmpty():
                    continue
                start = st.submissionTime().get().getTime() / 1e3
                end = (st.completionTime().get().getTime() / 1e3
                       if st.completionTime().isDefined() else start)
                out["stages"] += 1
                out["tasks"] += int(st.numCompleteTasks())
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                out["spill_bytes"] += int(st.memoryBytesSpilled()
                                          + st.diskBytesSpilled())
                out["result_bytes"] += int(st.resultSize())
                out["input_rows"] += int(st.inputRecords())
                clip = (max(start, parent.start), min(end, parent.end))
                if clip[1] > clip[0]:
                    intervals.append(clip)
                tracer.add(f"stage {sid}", start, end, parent.id, stage=sid,
                           job_group=group)
        out["stage_busy_s"] = union_length(intervals)
        self._read_sql(job_ids, out)
        return out

    def _read_sql(self, job_ids: set, out: dict) -> None:
        for ex in self._execs:
            jobs = ex.jobs()
            keys = jobs.keys().toList()
            if not any(int(keys.apply(k)) in job_ids
                       for k in range(keys.size())):
                continue
            eid = ex.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if "Exchange" in node.name():
                    out["exchanges"] += 1
                if node.name() in JOINS:
                    out[JOINS[node.name()]] += 1
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    key = PY_METRICS.get(pm.name())
                    if key is None:
                        continue
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())

    def cached_bytes(self) -> int:
        """Memory plus disk held by cached RDDs right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


def now() -> float:
    return time.time()
