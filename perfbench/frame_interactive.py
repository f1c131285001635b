"""frame_interactive: pandas-façade actions over the sf0.01-sized tables.

The paper's own use case: a user composes pandas verbs and waits for a
small answer.  Every operation builds a lazy frame from ``read_parquet``
and ends in one materializing call (``len``, ``to_pandas``, ``.iat``).
Constants, keys and positions come from the seed; each answer is checked
against pandas on the same parquet files.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import pandas_alchemy_spark as pas
from gen import PRIORITIES, SEGMENTS, rng_for
from harness import Op

SIZE = {"scale": 1}


def _same_frame(ours: pd.DataFrame, ref: pd.DataFrame) -> None:
    pd.testing.assert_frame_equal(ours.sort_index(), ref.sort_index(),
                                  check_dtype=False, check_names=False,
                                  rtol=1e-9)


def _same_series(ours: pd.Series, ref: pd.Series) -> None:
    pd.testing.assert_series_equal(ours.sort_index(), ref.sort_index(),
                                   check_dtype=False, check_names=False,
                                   check_index_type=False, rtol=1e-9)


def _equal(expected):
    def check(got):
        if got != expected:
            raise AssertionError(f"got {got!r}, expected {expected!r}")
    return check


class FrameInteractive:
    kind = "tpch"
    size = SIZE
    #: the first pass runs cold (about 20 s on a 4-core box, against 5 s
    #: warm); the JVM keeps compiling the many small driver-side plans
    #: for several passes more, so the timed passes that follow take each
    #: operation's best latency rather than a second warm-up pass
    warmup_passes = 1
    #: one timed pass per this many seconds of ``--seconds``
    pass_s = 5.0

    def __init__(self, manifest: dict, seed: int, scratch: str):
        d = manifest["dir"]
        self.seed = seed
        self.path = {t: f"{d}/{t}.parquet" for t in
                     ("lineitem", "orders", "customer")}
        self.pdf = {t: pd.read_parquet(p) for t, p in self.path.items()}

    def make_ops(self, pass_no: int) -> list:
        """One operation of each kind, with constants drawn for this
        pass (the answers are computed with pandas here, outside the
        timed region)."""
        rng = rng_for(self.seed, "frame_interactive", pass_no)
        return [make(rng, pass_no) for make in (
            self._mask_len, self._align_div, self._str_dt, self._groupby_agg,
            self._merge_agg, self._sort_head, self._sort_tail, self._iat)]

    def _read(self, table):
        return pas.read_parquet(self.path[table])

    def _mask_len(self, rng, i):
        q = int(rng.integers(5, 45))
        disc = float(rng.integers(1, 10)) / 100
        li = self.pdf["lineitem"]
        ref = int(((li.l_quantity > q) & (li.l_discount <= disc)).sum())

        def build():
            li = self._read("lineitem")
            return li[(li.l_quantity > q) & (li.l_discount <= disc)]
        return Op(f"mask_len[{i}]", "core", build, len, _equal(ref))

    def _align_div(self, rng, i):
        keys = np.sort(self.pdf["orders"].o_orderkey.to_numpy())
        lo = int(keys[rng.integers(0, keys.size - 400)])
        span = int(keys[1] - keys[0]) * 100
        q = float(rng.integers(5, 45))

        def frames(li):
            k = li.l_orderkey
            a = li[(k >= lo) & (k < lo + 2 * span)].l_extendedprice
            b = li[(k >= lo + span) & (k < lo + 3 * span)].l_quantity - q
            return a / b
        ref = frames(self.pdf["lineitem"])

        def check(got):
            _same_series(got, ref)
        return Op(f"align_div[{i}]", "core",
                  lambda: frames(self._read("lineitem")),
                  lambda s: s.to_pandas(), check)

    def _str_dt(self, rng, i):
        year = int(rng.integers(1992, 1998))
        width = int(rng.integers(1, 5))

        def frames(o):
            x = o[o.o_orderdate.dt.year == year]
            return x.o_orderpriority.str.lower().str.slice(0, width) \
                .value_counts()
        ref = frames(self.pdf["orders"])

        def check(got):
            _same_series(got, ref)
        return Op(f"str_dt[{i}]", "accessors",
                  lambda: frames(self._read("orders")),
                  lambda s: s.to_pandas(), check)

    def _groupby_agg(self, rng, i):
        cutoff = pd.Timestamp("1992-01-01") + pd.Timedelta(
            days=int(rng.integers(600, 2400)))

        def frames(li):
            x = li[li.l_shipdate <= cutoff]
            return x.groupby(["l_returnflag", "l_linestatus"]).agg(
                qty=("l_quantity", "sum"), price=("l_extendedprice", "mean"),
                n=("l_orderkey", "count"))
        ref = frames(self.pdf["lineitem"])

        def check(got):
            _same_frame(got, ref)
        return Op(f"groupby_agg[{i}]", "relational",
                  lambda: frames(self._read("lineitem")),
                  lambda f: f.to_pandas(), check)

    def _merge_agg(self, rng, i):
        seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]

        def frames(o, c):
            cs = c[c.c_mktsegment == seg][["c_custkey", "c_nationkey"]]
            j = o.merge(cs, left_on="o_custkey", right_on="c_custkey")
            return j.groupby("c_nationkey").agg(
                n=("o_orderkey", "count"), tp=("o_totalprice", "sum"))
        ref = frames(self.pdf["orders"], self.pdf["customer"])

        def check(got):
            _same_frame(got, ref)
        return Op(f"merge_agg[{i}]", "relational",
                  lambda: frames(self._read("orders"), self._read("customer")),
                  lambda f: f.to_pandas(), check)

    def _sort_head(self, rng, i, tail=False):
        price = float(rng.integers(50_000, 400_000))
        k = int(rng.integers(5, 50))
        pri = PRIORITIES[int(rng.integers(0, len(PRIORITIES)))]

        def frames(o):
            x = o[(o.o_totalprice > price) & (o.o_orderpriority != pri)]
            x = x[["o_orderkey", "o_totalprice", "o_orderstatus"]]
            x = x.sort_values(["o_totalprice", "o_orderkey"])
            return x.tail(k) if tail else x.head(k)
        ref = frames(self.pdf["orders"])

        def check(got):
            pd.testing.assert_frame_equal(got, ref, check_dtype=False,
                                          check_index_type=False)
        name = "sort_tail" if tail else "sort_head"
        return Op(f"{name}[{i}]", "relational",
                  lambda: frames(self._read("orders")),
                  lambda f: f.to_pandas(), check)

    def _sort_tail(self, rng, i):
        return self._sort_head(rng, i, tail=True)

    def _iat(self, rng, i):
        o = self.pdf["orders"]
        row = int(rng.integers(0, len(o)))
        col = int(rng.integers(0, o.shape[1]))
        ref = o.iat[row, col]
        return Op(f"iat[{i}]", "core", lambda: self._read("orders"),
                  lambda f: f.iat[row, col], _equal(ref))
