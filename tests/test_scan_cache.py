"""``read_parquet`` reuses a path's inferred schema within a session.

Every case compares the engine's scan with a fresh ``spark.read.parquet``
of the same path: the same schema and the same rows, whether the schema
came from the cache or from a new inference.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark.errors import AnalysisException

import pandas_alchemy_spark as pas
from pandas_alchemy_spark import session
from tests.conftest import SF_DIR, jobs_started_by

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _same_as_fresh(spark, path, key="k"):
    """Read ``path`` through the engine, check it against a fresh Spark
    scan and return the engine frame."""
    fresh = spark.read.parquet(path)
    got = pas.read_parquet(path)
    assert got.to_spark(index=False).schema == fresh.schema
    ours = got.to_pandas()
    assert ours.index.tolist() == list(range(len(ours)))
    pd.testing.assert_frame_equal(
        ours.sort_values(key).reset_index(drop=True),
        fresh.toPandas().sort_values(key).reset_index(drop=True))
    return got


def test_second_read_of_unchanged_path_runs_no_job(spark, tmp_path):
    # a build that infers the schema on every call starts a Spark job
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"k": [1, 2, 3], "a": [0.5, 1.5, 2.5]}).to_parquet(path)
    first, jobs = jobs_started_by(spark, "scan-first",
                                  lambda: pas.read_parquet(path))
    assert jobs != []
    again, jobs = jobs_started_by(spark, "scan-again",
                                  lambda: pas.read_parquet(path))
    assert jobs == []
    pd.testing.assert_frame_equal(again.to_pandas(), first.to_pandas())


def test_overwritten_path_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"k": [1, 2], "a": [1.5, 2.5]}).to_parquet(path)
    _same_as_fresh(spark, path)
    pd.DataFrame({"k": [3, 4, 5], "b": ["x", "y", "z"]}).to_parquet(path)
    assert list(_same_as_fresh(spark, path).columns) == ["k", "b"]


def test_file_added_to_directory(spark, tmp_path):
    # one file scans with true file positions; two fall back to the
    # monotonic id — the cached layout must follow the file count
    d = tmp_path / "d"
    d.mkdir()
    pd.DataFrame({"k": [1, 2], "a": [10, 20]}).to_parquet(d / "p0.parquet")
    assert _same_as_fresh(spark, str(d))._mid_dense
    pd.DataFrame({"k": [3, 4, 5], "a": [30, 40, 50]}).to_parquet(
        d / "p1.parquet")
    got = _same_as_fresh(spark, str(d))
    assert not got._mid_dense
    assert len(got) == 5


def test_parquet_conf_change_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pd.DataFrame({"k": [1, 2], "s": [b"ab", b"cd"]}).to_parquet(path)
    assert _same_as_fresh(spark, path)._dtypes()[1].typeName() == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        got = _same_as_fresh(spark, path)
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert got._dtypes()[1].typeName() == "string"
    assert _same_as_fresh(spark, path)._dtypes()[1].typeName() == "binary"


def test_hive_partitioned_directory(spark, tmp_path):
    d = str(tmp_path / "hive")
    pd.DataFrame({"k": range(6), "v": [0.5 * i for i in range(6)],
                  "part": [1, 1, 2, 2, 3, 3]}).to_parquet(
        d, partition_cols=["part"])
    _same_as_fresh(spark, d)
    got = _same_as_fresh(spark, d)
    assert list(got.columns) == ["k", "v", "part"]
    assert got._dtypes()[2].typeName() == "integer"


def test_column_names_that_need_quoting(spark, tmp_path):
    path = str(tmp_path / "q.parquet")
    pd.DataFrame({"k": [1, 2], "a`b": [1, 2], "c.d": [3.0, 4.0],
                  "e f": ["x", "y"]}).to_parquet(path)
    _same_as_fresh(spark, path)
    got = _same_as_fresh(spark, path)
    assert got["c.d"].to_pandas().tolist() == [3.0, 4.0]
    keyed = pas.read_parquet(path, index="a`b", columns=["e f"])
    assert keyed.to_pandas().to_dict() == {"e f": {1: "x", 2: "y"}}


def test_same_path_twice_merges_and_aligns(spark, tmp_path):
    # the second read comes from the cache; both single-file and
    # multi-file (monotonic mid) scans must still pair row for row
    d = tmp_path / "m"
    d.mkdir()
    pdf = pd.DataFrame({"k": range(8), "x": [float(i) for i in range(8)],
                        "y": [2.0, 4.0, 0.0, 1.0, 5.0, 3.0, 6.0, 7.0]})
    pdf.iloc[:5].to_parquet(d / "p0.parquet")
    single = str(d / "p0.parquet")
    pdf.iloc[5:].to_parquet(d / "p1.parquet")
    for path in (single, str(d)):
        want = spark.read.parquet(path).toPandas()  # Spark's row order
        a = pas.read_parquet(path)
        b = pas.read_parquet(path)
        got = a.merge(b, on="k").to_pandas()
        pd.testing.assert_frame_equal(
            got.sort_values("k").reset_index(drop=True),
            want.merge(want, on="k").sort_values("k")
            .reset_index(drop=True))
        pd.testing.assert_series_equal(
            (a.x / b.y).to_pandas(), want.x / want.y,
            check_names=False, check_index_type=False)


def test_frame_errors_keep_their_class(spark):
    df = pas.read_parquet(f"{SF_DIR}/nation.parquet")
    with pytest.raises(KeyError):
        df["nope"]
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        pas.sql("SELECT nope FROM t", t=df)


def test_session_restart(tmp_path):
    # close_db() drops the cache, and init_db(**conf) can turn PySpark's
    # call-site capture back on.  A session of its own: closing the
    # shared test session would stop it under every later test
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"k": [1, 2], "a": [1.0, 2.0]}).to_parquet(path)
    script = textwrap.dedent(f"""
        import pandas as pd
        from pyspark.errors.utils import is_debugging_enabled
        import pandas_alchemy_spark as pas
        from pandas_alchemy_spark import session
        pas.init_db(master="local[1]")
        assert not is_debugging_enabled()
        pas.read_parquet({path!r})
        assert list(session._PARQUET_SCANS) == [{path!r}]
        pas.close_db()
        assert session._PARQUET_SCANS == {{}}
        spark = pas.init_db(master="local[1]", **{{
            "spark.python.sql.dataFrameDebugging.enabled": "true"}})
        assert is_debugging_enabled()
        assert session._PARQUET_SCANS == {{}}
        pd.testing.assert_frame_equal(
            pas.read_parquet({path!r}).to_pandas(),
            spark.read.parquet({path!r}).toPandas())
        assert list(session._PARQUET_SCANS) == [{path!r}]
        pas.close_db()
    """)
    run = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                         capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-3000:]


def test_uri_and_glob_paths_are_not_cached(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"k": [1, 2], "a": [1.0, 2.0]}).to_parquet(path)
    for p in ("file://" + path, str(tmp_path / "*.parquet")):
        _same_as_fresh(spark, p)
        assert os.path.abspath(p) not in session._PARQUET_SCANS
