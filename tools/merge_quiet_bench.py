"""Merge N bench.py JSON lines into a quiet min-of-N artifact: per
query the minimum across runs (the quiet floor), plus run metadata.

Usage: python tools/merge_quiet_bench.py out.json run1.json run2.json ...
"""
from __future__ import annotations

import json
import sys


def main():
    out_path, paths = sys.argv[1], sys.argv[2:]
    runs = []
    for p in paths:
        with open(p) as fh:
            for ln in fh.read().splitlines():
                try:
                    runs.append(json.loads(ln))
                    break
                except json.JSONDecodeError:
                    continue
    if not runs:
        sys.exit("no parseable runs")
    queries = {}
    for name in runs[0]["queries"]:
        vals = [r["queries"].get(name) for r in runs
                if r["queries"].get(name, -1) >= 0]
        queries[name] = min(vals) if vals else -1.0
    # propagate cpu_mark (r11; VERDICT r10 #2: the quiet artifact —
    # the primary round-over-round signal — dropped it, leaving the
    # next box lottery with no normalization label).  Per-run marks
    # verbatim plus a best-of summary in the same shape bench.py
    # emits, so bench_compare reads quiet and single-run artifacts
    # uniformly.
    marks = [r.get("cpu_mark") for r in runs]
    best = None
    got = [m for m in marks if m]
    if got:
        best = {"st_mops": max(m.get("st_mops", 0) for m in got),
                "mt_gflops": max(m.get("mt_gflops", 0) for m in got),
                "ncpu": got[0].get("ncpu")}
    art = {
        "metric": "headline_queries_quiet_min",
        "value": round(sum(v for v in queries.values() if v >= 0), 3),
        "unit": "sec",
        "queries": queries,
        "n_runs": len(runs),
        "per_run_total": [r.get("value") for r in runs],
        "load_at_start": [r.get("load_at_start") for r in runs],
        "cpu_mark": best,
        "cpu_mark_per_run": marks,
        "sf": runs[0].get("sf"),
        "cpus": runs[0].get("cpus"),
        "n_queries": len(queries),
        # r12: per-run samples, not just the min — jitter-band
        # adjudications (e.g. the r11 semdedup watch item) need the
        # spread to be artifact-backed, not quoted from run logs
        "queries_per_run": {
            name: [r["queries"].get(name) for r in runs]
            for name in runs[0]["queries"]},
    }
    with open(out_path, "w") as fh:
        fh.write(json.dumps(art) + "\n")
    print(json.dumps(art))


if __name__ == "__main__":
    main()
