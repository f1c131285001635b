"""Executor-bound operations over a seeded sf0.05-sized TPC-H replica
(part of ``batch_ingest``): the Q3 join shape and an as-of join.

Each operation is built with the package's public verbs and ends in one
materializing call.  The as-of join's result is large, so it ends in a
small aggregate over it, computed by Spark: the full result is produced
without a driver transfer.  Every answer is checked against DuckDB SQL
over the same parquet files, computed before the timed region.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

import pandas_alchemy_spark as pas
from gen import SEGMENTS, rng_for
from harness import Op
from pandas_alchemy_spark.operators.asof import asof_join

#: events are moved this many years back, onto the orders timeline
EVENT_SHIFT_YEARS = 27


def _close(ours: pd.DataFrame, ref: pd.DataFrame, keys: list) -> None:
    """Equal up to row order and float rounding (``ref`` columns are
    matched to ``ours`` by position)."""
    ref = ref.set_axis(ours.columns, axis=1)
    ours = ours.sort_values(keys).reset_index(drop=True)
    ref = ref.sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(ours, ref, check_dtype=False, rtol=1e-6)


class TpchOps:
    """The TPC-H-side operations of one run; their constants come from
    the seed and their DuckDB answers are computed here."""

    def __init__(self, input_dir: str, seed: int):
        self.path = {t: f"{input_dir}/{t}.parquet" for t in
                     ("lineitem", "orders", "customer", "events")}
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")
        for t, p in self.path.items():
            self.db.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{p}')")
        rng = rng_for(seed, "tpch_ops")
        self.ops = [make(rng) for make in (self._q3, self._asof)]
        self.db.close()

    def _read(self, table):
        return pas.read_parquet(self.path[table])

    def _sql(self, query: str) -> pd.DataFrame:
        return self.db.execute(query).df()

    def _date(self, rng, lo_day: int, hi_day: int) -> pd.Timestamp:
        return pd.Timestamp("1992-01-01") + pd.Timedelta(
            days=int(rng.integers(lo_day, hi_day)))

    def _q3(self, rng):
        seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
        day = self._date(rng, 800, 1600)

        def build():
            c, o, li = (self._read(t) for t in
                        ("customer", "orders", "lineitem"))
            cb = c[c.c_mktsegment == seg][["c_custkey"]]
            oj = o[o.o_orderdate < day][["o_orderkey", "o_custkey",
                                         "o_orderdate"]]
            oj = oj.merge(cb, left_on="o_custkey", right_on="c_custkey")
            lj = li[li.l_shipdate > day][["l_orderkey", "l_extendedprice",
                                          "l_discount"]]
            lj = lj.merge(oj, left_on="l_orderkey", right_on="o_orderkey")
            lj = lj.assign(rev=lj.l_extendedprice * (1 - lj.l_discount))
            out = lj.groupby(["l_orderkey", "o_orderdate"]).agg(
                revenue=("rev", "sum")).reset_index()
            return out.nlargest(10, "revenue")
        ref = self._sql(f"""
            SELECT l_orderkey, o_orderdate,
                   sum(l_extendedprice * (1 - l_discount)) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '{day}'
              AND l_shipdate > TIMESTAMP '{day}'
            GROUP BY 1, 2 ORDER BY revenue DESC LIMIT 10""")
        return Op("q3", "relational", build, lambda f: f.to_pandas(),
                  lambda got: _close(got, ref, ["l_orderkey"]))

    def _asof(self, rng):
        hours = int(rng.integers(0, 24 * 30))

        def build():
            ev = self._read("events").to_spark(index=False).select(
                "event_id", "user_id",
                (F.col("ts") - F.expr(f"INTERVAL {EVENT_SHIFT_YEARS} YEARS")
                 + F.expr(f"INTERVAL {hours} HOURS")).alias("t"))
            od = (self._read("orders").to_spark(index=False)
                  .groupBy(F.col("o_custkey").alias("user_id"),
                           F.col("o_orderdate").alias("t"))
                  .agg(F.max("o_totalprice").alias("tp")))
            return asof_join(ev, od, on="t", by="user_id")

        def action(j):
            return j.agg(F.count(F.lit(1)).alias("n"),
                         F.count("tp").alias("matched"),
                         F.sum("tp").alias("s")).toPandas()
        ref = self._sql(f"""
            WITH ev AS (
              SELECT event_id, user_id,
                     ts - INTERVAL {EVENT_SHIFT_YEARS} YEAR
                        + INTERVAL {hours} HOUR AS t FROM events),
                 od AS (SELECT o_custkey AS user_id, o_orderdate AS t,
                               max(o_totalprice) AS tp
                        FROM orders GROUP BY 1, 2)
            SELECT count(*), count(od.tp), sum(od.tp)
            FROM ev ASOF LEFT JOIN od
              ON ev.user_id = od.user_id AND ev.t >= od.t""")
        return Op("asof_join", "operators", build, action,
                  lambda got: _close(got, ref, ["n"]))
