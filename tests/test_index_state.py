"""The index state (``base.IndexState``): one value that only
``base.py`` creates and changes.

- A sorted frame keeps its row order through the verbs that keep plan
  order, checked against pandas including row order.
- An ``ast`` scan of the package (no Spark session) fails when any
  module other than ``base.py`` assigns an index-state attribute or
  reads one through ``getattr``/``setattr`` by its string name.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pandas as pd
import pytest

import pandas_alchemy_spark as pas

PDF = pd.DataFrame({"x": [3.0, 1.0, 2.0, 5.0, 4.0],
                    "y": [30, 10, 20, 50, 40]})

ORDER_KEEPING = {
    "mask": lambda d: d[d.x > 1.5],
    "isin_mask": lambda d: d[d.y.isin([10, 30, 50])],
    "assign": lambda d: d.assign(z=1),
    "to_frame": lambda d: d.x.to_frame(),
    "apply_axis1": lambda d: d.apply(lambda r: r.x + r.y, axis=1),
    "sum_axis1": lambda d: d.sum(axis=1),
    "add_list": lambda d: d.x + [1.0, 2.0, 3.0, 4.0, 5.0],
    "mask_head": lambda d: d[d.y > 10].head(2),
    "mask_tail": lambda d: d[d.y > 10].tail(2),
}


@pytest.mark.parametrize("verb", sorted(ORDER_KEEPING))
def test_sorted_frame_keeps_order(spark, verb):
    fn = ORDER_KEEPING[verb]
    want = fn(PDF.sort_values("y", ascending=False))
    got = fn(pas.DataFrame.from_pandas(PDF)
             .sort_values("y", ascending=False)).to_pandas()
    if isinstance(want, pd.Series):
        pd.testing.assert_series_equal(got, want, check_dtype=False,
                                       check_names=False,
                                       check_index_type=False)
    else:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_index_type=False)


# -- single owner ----------------------------------------------------------

PKG = Path(pas.__file__).parent
STATE_ATTRS = {"_state", "_mid_index", "_mid_dense", "_mid_origin",
               "_explicit_order", "_rows_reordered"}


def _state_writes(source: str) -> list[int]:
    """Line numbers that assign an index-state attribute, or name one
    as a string to getattr/setattr/delattr/hasattr."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        elif isinstance(node, ast.Delete):
            targets = node.targets
        for t in targets:
            for sub in ast.walk(t):
                if (isinstance(sub, ast.Attribute)
                        and sub.attr in STATE_ATTRS):
                    hits.append(node.lineno)
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in ("getattr", "setattr", "delattr",
                                     "hasattr")
                and len(node.args) >= 2
                and isinstance(node.args[1], ast.Constant)
                and node.args[1].value in STATE_ATTRS):
            hits.append(node.lineno)
    return hits


def test_state_scan_finds_writes():
    src = ("a._state = s\n"
           "b.c._mid_index = True\n"
           "x, y._rows_reordered = 1, 2\n"
           "getattr(d, '_mid_dense', False)\n"
           "setattr(e, '_explicit_order', True)\n"
           "f._state.mid\n")
    assert _state_writes(src) == [1, 2, 3, 4, 5]


def test_only_base_writes_index_state():
    offenders = {}
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "base.py":
            continue
        hits = _state_writes(path.read_text())
        if hits:
            offenders[str(path.relative_to(PKG))] = hits
    assert offenders == {}
    assert _state_writes((PKG / "base.py").read_text())
