"""The benchmark's own tests.

Run from the root of the repository::

    python3 -m pytest perfbench/test_perfbench.py -q

The workload test starts Spark once per workload (in a subprocess, as
the benchmark runs) at a tiny input size; the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

import gen
import run
from harness import Op, Result, Runner, best_by_op, quantile, tree_peak_rss
from spans import parse_metric, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"frame_interactive": {"scale": 0.2},
        "batch_ingest": {"scale": 0.2, "docs": 200, "vecs": 120}}


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", json.dumps(TINY[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(TINY))
def test_workload_tiny_has_no_failed_operation(workload):
    out = _run(workload, trace=1)
    assert out["correct"] and out["failed"] == 0, out
    assert out["attempted"] > 0
    m = out["metrics"]
    assert set(m) == set(run.metric_units("per_layer"))
    assert m["spark.jobs"]["value"] > 0
    assert m["session.start_s"]["value"] > 0


def test_untraced_run_reports_end_to_end_metrics():
    out = _run("frame_interactive", trace=0)
    assert out["failed"] == 0
    assert set(out["metrics"]) == set(run.metric_units("end_to_end"))
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_wrong_output_counts_as_failed():
    def check(got):
        if got != 2:
            raise AssertionError(f"got {got}")

    ops = [Op("right", "core", lambda: 1, lambda x: x + 1, check),
           Op("wrong", "core", lambda: 1, lambda x: x * 1, check),
           Op("raises", "core", lambda: 1, lambda x: 1 / 0, check)]
    res = Runner().measure(lambda p: ops, passes=1, trace=False)
    # the warm-up pass runs unchecked; one timed pass follows
    assert res.attempted == 6
    assert res.failed == 3  # the warm-up's exception plus two timed
    assert len(res.latencies) == 2
    assert any("wrong output" in e for e in res.errors)


def test_timings_take_each_operation_at_its_best():
    res = Result(by_op={"a": [0.5, 0.3, 0.9], "b": [2.0, 1.0]})
    assert best_by_op(res) == {"a": 0.3, "b": 1.0}
    assert run.end_to_end(res, 1.0)["wall_s"] == pytest.approx(1.3)


def test_peak_rss_counts_this_process():
    assert tree_peak_rss() > 1 << 20


def test_oracle_comparison_rejects_a_wrong_answer():
    import pandas as pd
    from tpch_ops import _close
    ref = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})
    _close(ref.iloc[::-1].copy(), ref, ["k"])  # row order is free
    with pytest.raises(AssertionError):
        _close(ref.assign(v=[10.0, 20.1]), ref, ["k"])


def test_same_seed_gives_identical_inputs(tmp_path):
    a = gen.ensure_inputs(str(tmp_path / "a"), 9, "tpch", scale=0.1)
    b = gen.ensure_inputs(str(tmp_path / "b"), 9, "tpch", scale=0.1)
    c = gen.ensure_inputs(str(tmp_path / "c"), 10, "tpch", scale=0.1)
    assert a["rows"] == b["rows"]
    for t in ("orders", "lineitem", "events"):
        ta = pq.read_table(f"{a['dir']}/{t}.parquet")
        assert ta.equals(pq.read_table(f"{b['dir']}/{t}.parquet"))
        assert not ta.equals(pq.read_table(f"{c['dir']}/{t}.parquet"))
    d1 = gen.ensure_inputs(str(tmp_path / "a"), 9, "docs", docs=50, vecs=30)
    d2 = gen.ensure_inputs(str(tmp_path / "b"), 9, "docs", docs=50, vecs=30)
    for t in ("documents", "embeddings"):
        assert pq.read_table(f"{d1['dir']}/{t}.parquet").equals(
            pq.read_table(f"{d2['dir']}/{t}.parquet"))
    with open(f"{d1['dir']}/planted_docs.json") as fh:
        assert json.load(fh)


def test_inputs_are_cached_per_seed_and_size(tmp_path):
    a = gen.ensure_inputs(str(tmp_path), 3, "docs", docs=40, vecs=20)
    stamp = os.path.getmtime(f"{a['dir']}/documents.parquet")
    again = gen.ensure_inputs(str(tmp_path), 3, "docs", docs=40, vecs=20)
    assert again == a
    assert os.path.getmtime(f"{a['dir']}/documents.parquet") == stamp


@pytest.mark.parametrize("text,value", [
    ("7", 7.0), ("100,000", 100000.0), ("921.0 B", 921.0),
    ("8.5 KiB", 8.5 * 1024), ("51 ms", 0.051), ("7.9 s", 7.9),
    ("1.5 m", 90.0),
    ("total (min, med, max (stageId: taskId))\n7.9 s (1.9 s, 2.0 s, "
     "2.1 s (stage 3.0: task 6))", 7.9)])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_quantile_interpolates():
    assert quantile([1, 2, 3, 4], 0.5) == 2.5
    assert quantile([5], 0.9) == 5


def test_box_guard_refuses_more_cores_than_the_box(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    with pytest.raises(SystemExit):
        run.box_guard(len(os.sched_getaffinity(0)) + 1, "1g")
    with pytest.raises(SystemExit):
        run.box_guard(1, "100000g")
    run.box_guard(run.default_cores(len(os.sched_getaffinity(0))), run.HEAP)
    assert os.environ["SPARK_GRAFT_CPUS"] == str(
        run.default_cores(len(os.sched_getaffinity(0))))
