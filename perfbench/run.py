"""The repository benchmark: one seeded workload per run, one client.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload frame_interactive --seed 1 \\
        --seconds 35 --trace 0

The run generates its inputs from ``--seed`` (cached per seed and size
under ``.perfbench_work/``), starts the session once through
``pas.init_db``, runs the workload's warm-up passes over its operations
and then one timed pass per ``pass_s`` seconds of ``--seconds`` (at
least one; ``pass_s`` is the workload's), starting none after
``--seconds`` have passed, so a slowed box runs fewer.  The timings are
each operation's best latency over the timed passes
(``harness.best_by_op``).
``setup_s`` is the cold set-up a user pays in every new process: from
the start of this script until ``init_db`` returns, plus the warm-up
passes, less input generation.  Every timed output is checked.  A
traced run (``--trace 1``) warms up at least once and follows each of
half as many timed passes with a traced one.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``).  The line before it carries the box fingerprint, input
sizes and any errors.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("frame_interactive", "batch_ingest")
MAX_CORES = 4
HEAP = "2g"


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default=None,
                   help="override the workload's input size as JSON")
    return p.parse_args(argv)


def _heap_bytes(text: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    text = text.strip().lower()
    if text[-1] in units:
        return int(float(text[:-1]) * units[text[-1]])
    return int(text)


def _mem_total() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple:
    """(steal, total) CPU ticks of the box so far, from ``/proc/stat``:
    steal is time the hypervisor gave this box's CPUs to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def cpu_probe_s() -> float:
    """Seconds of a fixed pure-Python loop: the box's single-core speed
    at the end of the run, to tell a slow box from a slow program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def default_cores(nproc: int) -> int:
    """local[k] with one core left for the driver Python, the JVM's JIT
    and GC threads: with every core running tasks, run-to-run spread
    was wider on a 4-core box."""
    return max(1, min(MAX_CORES, nproc) - 1)


def box_guard(k: int, heap: str) -> None:
    """Refuse a configuration the box cannot host: local[k] with more
    cores than it has, or a heap above half its memory."""
    nproc = len(os.sched_getaffinity(0))
    if not 1 <= k <= nproc:
        raise SystemExit(f"refusing local[{k}]: this box has {nproc} cores")
    if _heap_bytes(heap) > _mem_total() // 2:
        raise SystemExit(f"refusing heap {heap}: above half of "
                         f"{_mem_total() >> 20} MiB RAM")
    # init_db sizes shuffle partitions from this (its default is 32)
    os.environ["SPARK_GRAFT_CPUS"] = str(k)


def spark_conf() -> dict:
    """Keep every file Spark writes inside the work directory."""
    tmp = os.environ["TMPDIR"]
    return {"spark.driver.memory": HEAP,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"}


def shutdown(pas, spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has ended
    (it owns the Python worker daemon, which it stops on exit)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pas.close_db()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # the JVM ignored a clean stop
            proc.kill()
            proc.wait(timeout=30)


def load_workload(name: str, manifest_for, seed: int, size_override):
    if name == "frame_interactive":
        from frame_interactive import FrameInteractive as cls
    else:
        from batch_ingest import BatchIngest as cls
    size = dict(cls.size, **(size_override or {}))
    manifest = manifest_for(cls.kind, size)
    return cls, manifest


def fingerprint(spark, k: int, load_start, ticks_start) -> dict:
    import pyspark
    steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
    return {"nproc": len(os.sched_getaffinity(0)), "cores": k, "heap": HEAP,
            "mem_total_mb": _mem_total() >> 20,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "steal_share": steal / max(total, 1),
            "cpu_probe_s": cpu_probe_s(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version()}


def metric_units(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics, as
    ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def end_to_end(res, start_s) -> dict:
    """``wall_s`` is one pass of the workload's operations, each at its
    best latency of the run; ``op_p50_s`` and ``op_p90_s`` are the median
    and 90th percentile of those per-operation latencies."""
    from harness import best_by_op, quantile
    best = sorted(best_by_op(res).values())
    return {"setup_s": start_s + res.warmup_s,
            "wall_s": sum(best),
            "op_p50_s": quantile(best, 0.5),
            "op_p90_s": quantile(best, 0.9)}


def per_layer(res, start_s, manifest, peak_rss) -> dict:
    """The per-layer values, per traced pass.  Layer time
    (``<layer>.build_s``) is the self time of the build phases of the
    operations that enter the layer: phase wall time less the part of it
    covered by Spark stages.  Spark counters are summed over the phases
    of a traced pass.  A layer the workload does not enter reads 0."""
    from harness import median
    n = max(len(res.traced_pass_walls), 1)
    c = {k: v if k == "ext.cached_bytes_peak" or isinstance(v, list)
         else v / n for k, v in res.counters.items()}
    c["session.start_s"] = start_s
    c["session.warmup_s"] = res.warmup_s
    c["peak_rss_mb"] = peak_rss / (1 << 20)
    c["ops.samples"] = len(res.latencies)
    c["trace.overhead_s"] = (median(res.traced_pass_walls)
                             - median(res.pass_walls))
    c["spark.rows_read_per_row_out"] = (c.get("spark.input_rows", 0)
                                        / max(res.rows_out / n, 1))
    c["sources.bytes_per_input_byte"] = (c.get("sources.bytes_written", 0)
                                         / manifest["bytes"])
    if c.get("streaming.action_s"):
        c["streaming.docs_per_s"] = (c["streaming.docs"]
                                     / c["streaming.action_s"])
    if c.get("streaming.batch_s"):
        c["streaming.batch_p50_s"] = median(c["streaming.batch_s"])
    return c


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pandas_alchemy_spark")):
        raise SystemExit(f"pandas_alchemy_spark not found under {ROOT}; run "
                         "from the root of a repository checkout")
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    k = default_cores(len(os.sched_getaffinity(0)))
    box_guard(k, HEAP)
    # temporary files of this process, the JVM and the Python workers
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # the package and the workload modules, for this process and for
    # the Python workers Spark starts
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    import gen
    from harness import Runner, tree_peak_rss
    from spans import SparkReader

    size_override = json.loads(args.size) if args.size else None
    t_gen = time.time()
    cls, manifest = load_workload(
        args.workload,
        lambda kind, size: gen.ensure_inputs(os.path.join(WORK, "inputs"),
                                             args.seed, kind, **size),
        args.seed, size_override)
    gen_s = time.time() - t_gen
    import pandas_alchemy_spark as pas
    spark = pas.init_db(master=f"local[{k}]", app_name="perfbench",
                        **spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    # the package import and the JVM launch, less input generation
    start_s = time.time() - T_PROCESS - gen_s
    try:
        scratch = os.path.join(WORK, f"scratch-{os.getpid()}")
        workload = cls(manifest, args.seed, scratch)
        runner = Runner(SparkReader(spark) if args.trace else None)
        # a traced run compares warm passes with warm passes
        warmups = max(cls.warmup_passes, args.trace)
        passes = max(1, round(args.seconds / cls.pass_s))
        if args.trace:  # each timed pass is paired with a traced one
            passes = max(1, passes // 2)
        res = runner.measure(workload.make_ops, passes, bool(args.trace),
                             warmups, args.seconds)
        peak_rss = tree_peak_rss()
        info = {"workload": args.workload, "seed": args.seed,
                "inputs": {"rows": manifest["rows"],
                           "bytes": manifest["bytes"]},
                "input_gen_s": gen_s, "session_start_s": start_s,
                "warmup_s": res.warmup_s,
                "warmup_op_s": res.warmup_by_op,
                "pass_walls_s": res.pass_walls,
                "op_s": res.by_op,
                "box": fingerprint(spark, k, load_start, ticks_start),
                "errors": res.errors[:5]}
        if args.trace:
            kind, values = "per_layer", per_layer(res, start_s, manifest,
                                                  peak_rss)
            spans_path = os.path.join(WORK, f"spans-{args.workload}-"
                                      f"{args.seed}.json")
            with open(spans_path, "w") as fh:
                json.dump([s.__dict__ for s in runner.tracer.spans], fh)
            info["spans"] = os.path.relpath(spans_path, ROOT)
        else:
            kind, values = "end_to_end", end_to_end(res, start_s)
        metrics = {n: {"value": values.get(n, 0), "unit": u}
                   for n, u in metric_units(kind).items()}
    finally:
        shutdown(pas, spark)
        shutil.rmtree(os.path.join(WORK, f"scratch-{os.getpid()}"),
                      ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
