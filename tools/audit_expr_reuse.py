"""Plan audit: flag EXPENSIVE expressions evaluated repeatedly inside
one plan node — Catalyst does not common-subexpression-eliminate
across filter/transform lambdas, and PushDownPredicate INLINES
projected aliases into filter conditions, so a non-cheap expression
mentioned k times runs k times per row.

This audit found two real defects in round 7:
  - language_id carried 8 tokenizer regexes per row (3.6x after the
    single-tokenization fix, tests/test_plans.py pins it);
  - curate_corpus's pushed-down quality gate re-tokenized 8x per row
    AND duplicated the scan+score subtree 8x (2.9x after persisting
    the gate survivors).

Detection: count occurrences of self-contained expensive call shapes
(the shared tokenizer, hashes, JSON codecs) per optimized-plan NODE.
These shapes cannot nest inside themselves, so >=2 mentions with the
same argument prefix is re-computation, not chaining (regexp_replace
alone is excluded — normalize_text nests 5 sequentially by design).

Usage: python tools/audit_expr_reuse.py [sf_dir]   (driver queries)
Exit 1 if any repetition is found.
"""
from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# self-contained expensive shapes: repeated => recomputed
SHAPES = [
    "split(lower(regexp_replace(",   # the shared text tokenizer
    "md5(",
    "sha2(",
    "xxhash64(",
    "from_json(",
    "to_json(",
    "sentences(",
]


def _node_depth(line: str) -> int:
    """Tree depth of a rendered plan line = offset of its content
    past the ':'/' '/'+-' scaffolding."""
    m = re.match(r"^[\s:+|-]*", line)
    return m.end()


def strip_cached_subtrees(plan: str) -> "list[str]":
    """Drop the inner children rendered under InMemoryRelation leaves:
    the cached plan is DISPLAY ONLY (it executes once at cache
    materialization), so counting its expressions per referencing
    node would false-positive every cache reuse as recomputation."""
    lines = plan.split("\n")
    out, skip_deeper_than = [], None
    for line in lines:
        d = _node_depth(line)
        if skip_deeper_than is not None:
            if d > skip_deeper_than:
                continue
            skip_deeper_than = None
        if "InMemoryRelation" in line:
            skip_deeper_than = d
        out.append(line)
    return out


def audit_plan(plan: str):
    """Return [(node_idx, shape, count, same_arg)] for repeated
    expensive shapes.  ``same_arg`` is True when every mention starts
    with the same ~40-char argument prefix (a strong recomputation
    signal; different args can be legitimate, e.g. md5 of two
    different columns in one projection)."""
    out = []
    for i, line in enumerate(strip_cached_subtrees(plan)):
        for shape in SHAPES:
            c = line.count(shape)
            if c >= 2:
                args = [line[m.end():m.end() + 40]
                        for m in re.finditer(re.escape(shape), line)]
                out.append((i, shape, c, len(set(args)) == 1))
    return out


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import pandas_alchemy_spark as pas
    spark = pas.init_db(app_name="audit_expr_reuse",
                        **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    bad = 0
    for name, fn in sorted(E.queries().items()):
        try:
            plan = (fn(spark, sf)._jdf.queryExecution()
                    .optimizedPlan().toString())
        except Exception as ex:                       # pragma: no cover
            print(f"{name}: BUILD ERR {str(ex)[:100]}")
            bad += 1
            continue
        for node, shape, c, same in audit_plan(plan):
            flag = "REPEATED" if same else "multi-arg (check)"
            print(f"{name}: node {node}: {c}x {shape!r} {flag}")
            if same:
                bad += 1
    print(f"{'FAIL' if bad else 'OK'}: {bad} repeated-expression "
          f"finding(s) across {len(E.queries())} queries")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
