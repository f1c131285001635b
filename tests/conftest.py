from __future__ import annotations

import collections
import gc

import pandas as pd
import pytest
from py4j.clientserver import ClientServerConnection

import pandas_alchemy_spark as pas

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    session = pas.init_db(master="local[4]", **{
        "spark.sql.shuffle.partitions": "4",
        "spark.default.parallelism": "4",
    })
    yield session
    pas.close_db()


@pytest.fixture(scope="session")
def lineitem_pdf(spark) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/lineitem.parquet")


def jobs_started_by(spark, group: str, fn):
    """Run ``fn()`` in its own Spark job group; return its result and
    the ids of the Spark jobs it started (read once the listener bus
    has delivered every job event)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _send_queued_releases():
    """Send now the JVM-object releases (``m d``) that py4j has queued
    for its finalizer thread.  That thread polls its queue once a
    second, so a backlog queued by earlier work (or by the collection
    in :func:`py4j_commands`) would otherwise be sent, and counted,
    while the measured function runs."""
    from pyspark import SparkContext
    queue = SparkContext._gateway._gateway_client.finalizer_deque
    while True:
        try:
            task = queue.pop()
        except IndexError:
            return
        if not isinstance(task, tuple):  # the thread's shutdown mark
            queue.append(task)
            return
        client, target_id = task
        client.garbage_collect_object(target_id, False)


def py4j_commands(fn):
    """Run ``fn()``; return its result and the py4j commands it sent to
    the JVM, counted by command: a call by its method name (``filter``,
    ``select``, ...), anything else by command and subcommand (``m d``
    releases a JVM object, ``r u`` is a reflection look-up).  Python's
    cyclic garbage collector is held off meanwhile, so that objects of
    earlier work it would free are not counted against ``fn``."""
    counts = collections.Counter()
    send = ClientServerConnection.send_command

    def counted(conn, command):
        lines = command.split("\n")
        counts[lines[2] if lines[0] == "c" else " ".join(lines[:2])] += 1
        return send(conn, command)

    gc.collect()
    gc.disable()
    _send_queued_releases()
    ClientServerConnection.send_command = counted
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
        gc.enable()
    return out, counts


def assert_series_equal_sorted(ours, theirs, **kw):
    """Compare engine output against pandas ignoring row order (the
    engine, like the reference, does not promise an ordering)."""
    left = ours.sort_index()
    right = theirs.sort_index()
    pd.testing.assert_series_equal(left, right, check_dtype=False, **kw)


def assert_frame_equal_sorted(ours, theirs, **kw):
    left = ours.sort_index()
    right = theirs.sort_index()
    pd.testing.assert_frame_equal(left, right, check_dtype=False, **kw)
