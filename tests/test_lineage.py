"""A Series taken from a frame is one expression over the frame's plan.

Building masks, arithmetic and accessor chains on such a Series must not
ask Spark to analyse a plan per operator: the guard counts the py4j
commands of a mask build on a re-read path.
"""

from __future__ import annotations

import pandas as pd

import pandas_alchemy_spark as pas
from tests.conftest import SF_DIR, jobs_started_by, py4j_commands

LINEITEM = f"{SF_DIR}/lineitem.parquet"


def test_mask_build_on_a_reread_path_sends_one_filter(spark, lineitem_pdf):
    def build():
        li = pas.read_parquet(LINEITEM)
        return li[(li.l_quantity > 5) & (li.l_discount <= 0.05)]

    build()  # the first read scans the path
    (masked, sent), jobs = jobs_started_by(
        spark, "lineage-mask", lambda: py4j_commands(build))
    assert jobs == []
    for analysed in ("parquet", "selectExpr", "select"):
        assert sent[analysed] == 0, sent
    assert sent["filter"] == 1, sent
    assert sum(sent.values()) <= 36, sent
    li = lineitem_pdf
    assert len(masked) == int(((li.l_quantity > 5)
                               & (li.l_discount <= 0.05)).sum())


def test_dt_field_comparison_analyses_no_plan(spark):
    orders = f"{SF_DIR}/orders.parquet"

    def build():
        o = pas.read_parquet(orders)
        return o[o.o_orderdate.dt.year == 1995]

    build()  # the first read scans the path
    masked, sent = py4j_commands(build)
    # the integer field's type is known, so the mask is not projected
    # only to learn that it is not boolean
    assert sent["select"] == 0 and sent["schema"] == 0, sent
    want = pd.read_parquet(orders).o_orderdate.dt.year == 1995
    assert len(masked) == int(want.sum())


def test_series_type_is_known_without_spark(spark):
    df = pas.read_parquet(LINEITEM)
    q = df.l_quantity
    q._dtypes()  # the root's schema, fetched once per plan
    for known, want in ((q, "double"), (q > 5, "boolean"),
                        ((q > 5) & (df.l_discount <= 0.05), "boolean")):
        (dtypes, sent) = py4j_commands(known._dtypes)
        assert dtypes[0].simpleString() == want
        assert sum(sent.values()) == 0, sent
    # anything else is typed by its projection
    assert (q * 2)._dtypes()[0].simpleString() == "double"


def test_copies_share_one_projection(spark):
    df = pas.read_parquet(LINEITEM)
    s = df.l_quantity * 2
    copy = s.rename("twice")
    assert s._lineage is copy._lineage
    assert copy._sdf is s._sdf
    # setting a plan makes it the Series: the lineage is gone
    head = s.head(3)
    assert head._lineage is None
    assert head.to_pandas().tolist() == (
        pd.read_parquet(LINEITEM).l_quantity.head(3) * 2).tolist()
