"""Closed-loop operation runner: one client, one operation at a time.

An operation has two timed phases: ``build`` (the public call that
returns a lazy frame) and ``action`` (the materializing call).  Its
output check runs after both, outside the timed region; an exception or
a failed check counts the operation as failed.
"""

from __future__ import annotations

import os
import statistics
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from spans import SparkReader, Tracer, now

SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "result_bytes", "exchanges", "shuffle_joins",
              "broadcast_joins")


@dataclass
class Op:
    """One operation.  ``layer`` names the package layer its build call
    enters.  ``observe`` (optional) turns the action's output into
    layer counters, such as streaming progress or bytes written."""
    name: str
    layer: str
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], None]
    observe: Callable[[Any], dict] | None = None
    #: directory the action writes when the action is a save call; its
    #: time, bytes and files are the ``sources.write_s``,
    #: ``sources.bytes_written`` and ``sources.files_written`` counters
    writes: str | None = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    latencies: list = field(default_factory=list)
    #: untraced timed latencies per operation kind (name before "[")
    by_op: dict = field(default_factory=dict)
    pass_walls: list = field(default_factory=list)
    traced_pass_walls: list = field(default_factory=list)
    warmup_s: float = 0.0
    #: latencies per operation in the warm-up passes
    warmup_by_op: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    rows_out: int = 0

    def add(self, key, value):
        if isinstance(value, list):
            self.counters.setdefault(key, []).extend(value)
        else:
            self.counters[key] = self.counters.get(key, 0) + value


def dir_usage(path: str | None) -> tuple:
    """(bytes, files) under a directory; (0, 0) if it does not exist."""
    if path is None:
        return 0, 0
    sizes = [os.path.getsize(os.path.join(r, f))
             for r, _, fs in os.walk(path) for f in fs]
    return sum(sizes), len(sizes)


def rows_of(out) -> int:
    try:
        return len(out)
    except TypeError:
        return 1


def tree_peak_rss() -> int:
    """Peak resident memory of this process and its live descendants
    (the JVM, the Python worker daemon and its workers): the sum of each
    one's high-water mark (``VmHWM``), which the kernel keeps exactly,
    where sampling would catch a short peak in one run and miss it in
    the next.  Workers that have already exited are not counted."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:  # exited since the listing
            continue
    return total


class Runner:
    """Runs passes over a workload's operations.  With a reader (traced
    run) each phase runs under its own job group and its Spark counters
    and spans are collected after the operation."""

    def __init__(self, reader: SparkReader | None = None):
        self.reader = reader
        self.tracer = Tracer()
        self.result = Result()
        self._seq = 0

    def _phase(self, fn, arg, group):
        if group is not None:
            self.reader.set_group(group)
        try:
            t0 = now()
            out = fn() if arg is None else fn(arg)
            return out, t0, now()
        finally:
            if group is not None:
                self.reader.clear_group()

    def run_op(self, op: Op, pass_span, traced: bool, timed: bool) -> float:
        """Run one operation; returns its latency (build + action)."""
        res = self.result
        self._seq += 1
        groups = ((f"pb-{self._seq}-build", f"pb-{self._seq}-action")
                  if traced else (None, None))
        res.attempted += 1
        before = dir_usage(op.writes) if traced else None
        try:
            lazy, b0, b1 = self._phase(op.build, None, groups[0])
            out, a0, a1 = self._phase(op.action, lazy, groups[1])
        except Exception:  # a failing operation is counted, not fatal
            res.failed += 1
            res.errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            return 0.0
        latency = (b1 - b0) + (a1 - a0)
        if not timed:
            res.warmup_by_op.setdefault(op.name, []).append(latency)
            return latency
        try:
            op.check(out)
        except Exception:  # includes AssertionError from a wrong output
            res.failed += 1
            res.errors.append(f"{op.name}: wrong output: "
                              f"{traceback.format_exc(limit=2)}")
        if traced:
            self._account(op, groups, (b0, b1), (a0, a1), pass_span, out,
                          before)
        else:
            res.latencies.append(latency)
            res.by_op.setdefault(op.name.split("[")[0], []).append(latency)
        return latency

    def _account(self, op, groups, build, action, pass_span, out, before):
        res, tr = self.result, self.tracer
        if op.observe is not None:
            for k, v in op.observe(out).items():
                res.add(k, v)
        res.add(f"{op.layer}.action_s", action[1] - action[0])
        if op.writes is not None:
            after = dir_usage(op.writes)
            res.add("sources.write_s", action[1] - action[0])
            res.add("sources.bytes_written", after[0] - before[0])
            res.add("sources.files_written", after[1] - before[1])
        op_span = tr.add(op.name, build[0], action[1], pass_span.id,
                         layer=op.layer)
        self.reader.sync()
        phase_wall = 0.0
        stage_busy = 0.0
        for phase, group, (t0, t1) in (("build", groups[0], build),
                                       ("action", groups[1], action)):
            span = tr.add(phase, t0, t1, op_span.id, layer=op.layer)
            c = self.reader.read_phase(group, tr, span)
            span.attrs.update(c)
            for k in SPARK_KEYS:
                res.add(f"spark.{k}", c[k])
            if op.layer == "ext":
                for k in ("python_run_s", "python_start_s", "python_bytes"):
                    res.add(f"ext.{k}", c[k])
            if phase == "build":
                res.add(f"{op.layer}.build_s", (t1 - t0) - c["stage_busy_s"])
                res.add(f"{op.layer}.eager_jobs", c["jobs"])
            res.add("spark.input_rows", c["input_rows"])
            phase_wall += t1 - t0
            stage_busy += c["stage_busy_s"]
        res.add("spark.driver_only_s", phase_wall - stage_busy)
        res.rows_out += rows_of(out)
        cached = self.reader.cached_bytes()
        res.counters["ext.cached_bytes_peak"] = max(
            res.counters.get("ext.cached_bytes_peak", 0), cached)

    def run_pass(self, ops, traced: bool, timed: bool) -> float:
        start = now()
        span = self.tracer.add("pass", start, start) if traced else None
        wall = sum(self.run_op(op, span, traced, timed) for op in ops)
        if span is not None:
            span.end = now()
        return wall

    def measure(self, make_ops: Callable[[int], list], passes: int,
                trace: bool, warmups: int = 1,
                seconds: float = float("inf")) -> Result:
        """``warmups`` warm-up passes (unchecked), then up to ``passes``
        timed passes, the last one starting before ``seconds`` have
        passed since the first.  A traced run follows each timed pass
        with a traced one, so the tracing overhead is measured against
        untraced passes of the same run."""
        res = self.result
        t0 = now()
        for n in range(warmups):
            self.run_pass(make_ops(n), traced=False, timed=False)
        res.warmup_s = now() - t0
        n = warmups
        for _ in range(passes):
            if now() - t0 - res.warmup_s >= seconds:
                break
            res.pass_walls.append(
                self.run_pass(make_ops(n), traced=False, timed=True))
            n += 1
            if trace:
                res.traced_pass_walls.append(
                    self.run_pass(make_ops(n), traced=True, timed=True))
                n += 1
        return res


def best_by_op(res: Result) -> dict:
    """Each operation kind's best (lowest) untraced timed latency.

    Interference from other guests of a shared host only adds time, and
    it comes in episodes of tens of seconds that slow every operation
    together: a median over a run's passes follows the share of the run
    spent in such an episode, while the best pass of each operation is
    its own cost on the box."""
    return {k: min(v) for k, v in res.by_op.items()}


def quantile(values, q: float) -> float:
    """The q-quantile (0 < q < 1) by linear interpolation."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values)
