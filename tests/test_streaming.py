"""Structured Streaming: windowed counts with watermark, file source ->
memory sink, compared against the batch twin."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pandas as pd
import pytest

from pandas_alchemy_spark.ext import events
from pandas_alchemy_spark.streaming import stream_events
from tests.conftest import SF_DIR


def _write_ts_chunks(pdf, d):
    """Write the ts-sorted ``pdf`` as four parquet chunks that a
    one-file-per-trigger stream replays in event order.  The file
    source orders files by modification time (milliseconds); chunks
    written within one millisecond tie and replay in directory order,
    so each chunk is stamped one second after the one before."""
    n, t0 = len(pdf), time.time() - 4
    for i in range(4):
        path = d / f"part-{i:02d}.parquet"
        pdf.iloc[i * n // 4:(i + 1) * n // 4].to_parquet(
            path, index=False, coerce_timestamps="us",
            allow_truncated_timestamps=True)
        os.utime(path, (t0 + i, t0 + i))


@pytest.fixture(scope="module")
def stream_dir(spark):
    """Events re-written as micro-batch-friendly parquet files with
    microsecond timestamps (streaming schema needs real timestamps)."""
    d = tempfile.mkdtemp(prefix="pas_stream_")
    ev = events.load_events(spark, f"{SF_DIR}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stateful_user_totals_matches_batch(spark, stream_dir):
    """applyInPandasWithState running totals: after draining the whole
    stream, each user's last update equals the batch aggregate."""
    from pandas_alchemy_spark.streaming import stateful

    stream = stream_events.read_event_stream(spark, stream_dir,
                                             max_files_per_trigger=2)
    totals = stateful.stateful_user_totals(stream)
    q = (totals.writeStream.outputMode("update")
         .format("memory").queryName("t_user_totals")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = spark.table("t_user_totals").toPandas()
        # last emitted row per user is the final running total
        final = got.groupby("user_id").last().reset_index()
        want = (spark.read.parquet(stream_dir).toPandas()
                .assign(value=lambda d: d.value.fillna(0.0))
                .groupby("user_id")
                .agg(n_events=("event_id", "count"),
                     total_value=("value", "sum")).reset_index())
        m = final.merge(want, on="user_id", suffixes=("", "_b"))
        assert len(m) == len(want)
        assert (m.n_events == m.n_events_b).all()
        assert (m.total_value - m.total_value_b).abs().max() < 1e-6
    finally:
        q.stop()


def test_session_window_stream_matches_batch(spark, stream_dir):
    """Built-in session_window streaming == batch lag/cumsum
    sessionization (same gap)."""
    from pandas_alchemy_spark.streaming import stateful

    # single micro-batch (file order != time order) + zero-delay
    # watermark: after the batch the watermark jumps to max(ts) and the
    # end-of-stream flush emits every session that closed before it
    stream = stream_events.read_event_stream(spark, stream_dir,
                                             max_files_per_trigger=None)
    sess = stateful.session_windows_stream(stream, gap="30 minutes",
                                           watermark="0 seconds")
    q = (sess.writeStream.outputMode("append")
         .format("memory").queryName("t_sessions")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = spark.table("t_sessions").toPandas()
        pdf = spark.read.parquet(stream_dir).toPandas()
        max_ts = pdf.ts.max()
        batch = events.sessionize(
            spark.read.parquet(stream_dir), gap_minutes=30).toPandas()
        # append mode only emits sessions whose window end
        # (last event + gap) <= watermark (= max_ts here)
        closeable = batch[batch.session_end
                          + pd.Timedelta(minutes=30) <= max_ts]
        g = got.groupby("user_id").agg(n_sessions=("n_events", "count"),
                                       n_events=("n_events", "sum"))
        b = closeable.groupby("user_id").agg(
            n_sessions=("n_events", "count"),
            n_events=("n_events", "sum"))
        m = g.merge(b, left_index=True, right_index=True,
                    suffixes=("", "_b"))
        assert len(m) == len(b) > 0
        assert (m.n_events == m.n_events_b).all()
        assert (m.n_sessions == m.n_sessions_b).all()
    finally:
        q.stop()


def test_stream_matches_batch(spark, stream_dir):
    stream = stream_events.read_event_stream(spark, stream_dir,
                                             max_files_per_trigger=2)
    assert stream.isStreaming
    windowed = stream_events.windowed_counts(stream)
    q = stream_events.run_to_memory_sink(windowed, "t_windowed")
    try:
        got = spark.table("t_windowed").toPandas()
        batch = events.tumbling_window_agg(
            spark.read.parquet(stream_dir)).toPandas()
        want = (batch.groupby(["window_start", "event_type"])
                .agg(n_events=("n_events", "sum"),
                     sum_value=("sum_value", "sum")).reset_index())
        m = got.merge(want, on=["window_start", "event_type"],
                      suffixes=("", "_b"))
        assert len(m) == len(got) == len(want)
        assert (m.n_events == m.n_events_b).all()
    finally:
        q.stop()


def test_dedup_stream_drops_replayed_files(spark, stream_dir):
    """Streaming dedup: replay every file twice; after draining, row
    count equals the batch distinct count of event_id."""
    import glob
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="pas_dedupstream_")
    try:
        for i, f in enumerate(sorted(glob.glob(f"{stream_dir}/*.parquet"))):
            shutil.copy(f, f"{d}/a{i}.parquet")
            shutil.copy(f, f"{d}/b{i}.parquet")
        stream = stream_events.read_event_stream(spark, d,
                                                 max_files_per_trigger=None)
        deduped = stream_events.dedup_stream(stream)
        q = (deduped.writeStream.outputMode("append")
             .format("memory").queryName("t_dedup_stream")
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        got = spark.table("t_dedup_stream").count()
        want = (events.load_events(spark, f"{SF_DIR}/events.parquet")
                .select("event_id").distinct().count())
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_join_matches_batch(spark, stream_dir):
    """Stream-stream range join (view -> click within 10 min per user)
    drained with availableNow equals the batch twin."""
    from pandas_alchemy_spark.streaming import join_streams

    def split(df):
        return (df.filter(df.event_type == "view"),
                df.filter(df.event_type == "click"))

    lv_s, cl_s = split(stream_events.read_event_stream(
        spark, stream_dir, max_files_per_trigger=None))
    joined = join_streams.join_event_streams(lv_s, cl_s)
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName("t_ss_join")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.table("t_ss_join").count()

    ev = events.load_events(spark, f"{SF_DIR}/events.parquet")
    lv_b, cl_b = split(ev)
    import pyspark.sql.functions as F
    want = (lv_b.selectExpr("user_id AS k", "ts AS l_ts", "event_id AS l_id")
            .join(cl_b.selectExpr("user_id AS rk", "ts AS r_ts",
                                  "event_id AS r_id"),
                  (F.col("k") == F.col("rk"))
                  & (F.col("r_ts") >= F.col("l_ts"))
                  & (F.col("r_ts") <= F.col("l_ts")
                     + F.expr("INTERVAL 10 minutes")))
            .count())
    assert got == want and got > 0


def test_text_operators_stream_transparent(spark, tmp_path):
    """The text operators are pure projections, so the SAME functions
    run unchanged on a streaming frame — batch/stream parity by
    construction, no separate streaming implementation to maintain."""
    from pandas_alchemy_spark.ext import text
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # readStream needs a directory source
    src.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    stream = (spark.readStream.schema(src.schema)
              .parquet(str(tmp_path / "docs")))
    q = text.quality_score(text.normalize_text(stream))
    query = (q.select("doc_id", "q_score", "norm_text")
             .writeStream.format("memory").queryName("stream_quality")
             .outputMode("append").start())
    try:
        query.processAllAvailable()
        got = spark.sql(
            "SELECT count(*) AS n, round(avg(q_score), 6) AS q "
            "FROM stream_quality").collect()[0]
        want_df = text.quality_score(text.normalize_text(src))
        from pyspark.sql import functions as SF
        want = want_df.agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.round(SF.avg("q_score"), 6).alias("q")).collect()[0]
        assert (got["n"], got["q"]) == (want["n"], want["q"])
    finally:
        query.stop()


def test_windowed_json_agg_matches_batch(spark, stream_dir):
    """Streaming from_json parse + windowed agg == the same expression
    over a batch read of the identical files."""
    from pyspark.sql import functions as F

    stream = stream_events.read_event_stream(spark, stream_dir,
                                             max_files_per_trigger=None)
    agg = stream_events.windowed_json_agg(stream)
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("t_json_win")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = (spark.table("t_json_win").toPandas()
               .sort_values(["window_start", "event_type"])
               .reset_index(drop=True))
        batch = spark.read.parquet(stream_dir)
        want = (batch.withColumn("__p", F.from_json("props", "k int"))
                .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.col("__p.k")).alias("k_sum"))
                .select(F.col("w.start").alias("window_start"),
                        "event_type", "n_events", "k_sum")
                .toPandas()
                .sort_values(["window_start", "event_type"])
                .reset_index(drop=True))
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    finally:
        q.stop()


def test_stateful_ewm_matches_batch(spark, tmp_path):
    """Streaming per-user EWM: after draining a TIME-ORDERED stream
    (EWM is order-sensitive, unlike the running totals — the fixture
    writes ts-sorted chunks so file replay order IS event order), each
    user's last update equals pandas ewm over their ts-ordered
    events."""
    import pandas as pd

    from pandas_alchemy_spark.ext import events as ev_mod
    from pandas_alchemy_spark.streaming import stateful, stream_events

    pdf = (ev_mod.load_events(spark, f"{SF_DIR}/events.parquet")
           .toPandas().sort_values("ts", kind="mergesort")
           .reset_index(drop=True))
    pdf["value"] = pdf["value"].fillna(0.0)
    # nulls between the busiest user's events, across triggers: they
    # add no weight but decay the weights before them (pandas
    # ignore_na=False, as in the batch scan)
    rows = pdf.index[pdf.user_id == pdf.user_id.value_counts().index[0]]
    pdf.loc[rows[1:-1:2], "value"] = None
    d = tmp_path / "ewm_stream"
    d.mkdir()
    _write_ts_chunks(pdf, d)

    stream = stream_events.read_event_stream(spark, str(d),
                                             max_files_per_trigger=1)
    ewm = stateful.stateful_ewm(stream, alpha=0.25)
    q = (ewm.writeStream.outputMode("update")
         .format("memory").queryName("t_user_ewm")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = spark.table("t_user_ewm").toPandas()
        final = got.groupby("user_id").last().reset_index()
        want = (pdf.groupby("user_id")["value"]
                .apply(lambda s: s.ewm(alpha=0.25, adjust=True)
                       .mean().iloc[-1])
                .rename("ewm_b").reset_index())
        m = final.merge(want, on="user_id")
        assert len(m) == len(want)
        assert ((m.ewm_value - m.ewm_b).abs()
                / m.ewm_b.abs().clip(lower=1e-9)).max() < 1e-9
    finally:
        q.stop()


def test_stateful_gap_fill_matches_batch(spark, tmp_path):
    """Streaming per-user ffill: after draining a ts-ordered stream,
    every row's filled value equals the batch groupby ffill — the
    one-scalar state is the same carry the batch segmented scan
    ships per partition."""
    import pandas as pd

    from pandas_alchemy_spark.ext import events as ev_mod
    from pandas_alchemy_spark.streaming import stateful, stream_events

    pdf = (ev_mod.load_events(spark, f"{SF_DIR}/events.parquet")
           .toPandas().sort_values("ts", kind="mergesort")
           .reset_index(drop=True))
    # punch holes so the fill actually engages across chunk borders
    pdf.loc[pdf.index % 3 == 0, "value"] = None
    d = tmp_path / "fill_stream"
    d.mkdir()
    _write_ts_chunks(pdf, d)

    stream = stream_events.read_event_stream(spark, str(d),
                                             max_files_per_trigger=1)
    filled = stateful.stateful_gap_fill(stream)
    q = (filled.writeStream.outputMode("update")
         .format("memory").queryName("t_gap_fill")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = spark.table("t_gap_fill").toPandas()
        want = pdf.assign(
            value_b=pdf.groupby("user_id")["value"].ffill())
        m = got.merge(want[["event_id", "value_b"]], on="event_id")
        assert len(m) == len(pdf)
        both_nan = m.value_filled.isna() & m.value_b.isna()
        close = (m.value_filled - m.value_b).abs() < 1e-12
        assert (both_nan | close).all()
    finally:
        q.stop()


def test_stateful_rolling_matches_batch(spark, tmp_path):
    """Streaming per-user rolling(3).mean(): after draining a
    ts-ordered stream split across 4 files, every row equals the
    batch grouped rolling — the bounded n-1 tail state is the same
    border the batch scan ships."""
    import pandas as pd

    from pandas_alchemy_spark.ext import events as ev_mod
    from pandas_alchemy_spark.streaming import stateful, stream_events

    pdf = (ev_mod.load_events(spark, f"{SF_DIR}/events.parquet")
           .toPandas().sort_values("ts", kind="mergesort")
           .reset_index(drop=True))
    d = tmp_path / "roll_stream"
    d.mkdir()
    _write_ts_chunks(pdf, d)

    stream = stream_events.read_event_stream(spark, str(d),
                                             max_files_per_trigger=1)
    rolled = stateful.stateful_rolling_mean(stream, window=3)
    q = (rolled.writeStream.outputMode("update")
         .format("memory").queryName("t_roll")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = spark.table("t_roll").toPandas()
        want = pdf.assign(
            rb=pdf.sort_values("ts", kind="mergesort")
            .groupby("user_id")["value"]
            .transform(lambda s: s.rolling(3).mean()))
        m = got.merge(want[["event_id", "rb"]], on="event_id")
        assert len(m) == len(pdf)
        both_nan = m.roll_mean.isna() & m.rb.isna()
        close = (m.roll_mean - m.rb).abs() < 1e-9
        assert (both_nan | close).all()
    finally:
        q.stop()


def test_stateful_rolling_out_of_order_batch(spark, tmp_path):
    """An out-of-ts-order trigger batch must still pair each event
    with ITS rolling value (index alignment swapped rows before)."""
    import pandas as pd

    from pandas_alchemy_spark.streaming import stateful, stream_events

    pdf = pd.DataFrame({
        "event_id": [10, 11],
        "user_id": [1, 1],
        "ts": pd.to_datetime(["2024-01-01 00:02",
                              "2024-01-01 00:01"]),
        "event_type": ["a", "a"], "value": [5.0, 1.0],
        "props": ["{}", "{}"]})
    d = tmp_path / "ooo_stream"
    d.mkdir()
    pdf.to_parquet(d / "part-00.parquet", index=False,
                   coerce_timestamps="us",
                   allow_truncated_timestamps=True)
    stream = stream_events.read_event_stream(spark, str(d))
    rolled = stateful.stateful_rolling_mean(stream, window=1)
    q = (rolled.writeStream.outputMode("update")
         .format("memory").queryName("t_ooo")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(60)
        got = {r["event_id"]: r["roll_mean"]
               for r in spark.table("t_ooo").collect()}
        assert got[10] == 5.0 and got[11] == 1.0
    finally:
        q.stop()
    import pytest
    with pytest.raises(ValueError, match="positive int"):
        stateful.stateful_rolling_mean(stream, window=0)


def test_stateful_checkpoint_restart_recovers(spark, stream_dir,
                                              tmp_path):
    """Kill-and-restart recovery for the custom stateful operator
    (VERDICT r6 item 5): drain half the files with a checkpoint, stop
    the query (the 'kill'), add the rest, restart a NEW query from the
    SAME checkpoint — the recovered state must carry phase-1 counts
    (no re-emit from zero, no file reprocessing) and the combined
    result must equal the batch twin over everything.  The sink is
    foreachBatch -> parquet append (the memory sink refuses checkpoint
    recovery); batch ids are checkpointed too, so phase-2 ids strictly
    continue phase-1's."""
    import os

    from pyspark.sql import functions as F

    from pandas_alchemy_spark.streaming import stateful

    src = sorted(f for f in os.listdir(stream_dir)
                 if f.endswith(".parquet"))
    assert len(src) >= 2
    half = len(src) // 2
    staged = tmp_path / "staged"
    staged.mkdir()
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")
    for f in src[:half]:
        shutil.copy(f"{stream_dir}/{f}", staged / f)

    def write_batch(bdf, bid):
        (bdf.withColumn("batch_id", F.lit(bid))
         .write.mode("append").parquet(outdir))

    def drain():
        stream = stream_events.read_event_stream(spark, str(staged),
                                                 max_files_per_trigger=1)
        q = (stateful.stateful_user_totals(stream)
             .writeStream.outputMode("update")
             .foreachBatch(write_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        return (spark.read.parquet(outdir).toPandas()
                .sort_values("batch_id"))

    all1 = drain()
    phase1 = all1.groupby("user_id").last().reset_index()
    max1 = all1.batch_id.max()
    for f in src[half:]:
        shutil.copy(f"{stream_dir}/{f}", staged / f)
    all2 = drain()
    got2 = all2[all2.batch_id > max1]
    assert len(got2), "restart did not process the new files"
    # no reprocessing: phase-2 batch ids strictly continue phase-1's
    assert got2.batch_id.min() == max1 + 1

    # state survived: a user seen in both phases must RESUME from its
    # phase-1 running count, not restart at the phase-2 event count
    phase2_first = got2.groupby("user_id").first().reset_index()
    batch2 = (spark.read.parquet(*[f"{stream_dir}/{f}"
                                   for f in src[half:]]).toPandas()
              .groupby("user_id").agg(n2=("event_id", "count"))
              .reset_index())
    spanning = phase1.merge(phase2_first, on="user_id",
                            suffixes=("_p1", "_p2")).merge(
                                batch2, on="user_id")
    assert len(spanning) > 0, "fixture has no user in both halves"
    assert (spanning.n_events_p2 >
            spanning.n_events_p1.clip(lower=0)).all()
    assert (spanning.n_events_p2 <=
            spanning.n_events_p1 + spanning.n2).all()

    # combined final answer equals the batch twin over all files
    final = all2.groupby("user_id").last().reset_index()
    want = (spark.read.parquet(stream_dir).toPandas()
            .assign(value=lambda d: d.value.fillna(0.0))
            .groupby("user_id")
            .agg(n_events=("event_id", "count"),
                 total_value=("value", "sum")).reset_index())
    m = final.merge(want, on="user_id", suffixes=("", "_b"))
    assert len(m) == len(want)
    assert (m.n_events == m.n_events_b).all()
    assert (m.total_value - m.total_value_b).abs().max() < 1e-6


def test_read_text_stream_token_totals_match_batch(spark, tmp_path):
    """Streaming raw-text ingest (read_text_stream) + running token
    totals == the same aggregate over a batch read_text of the
    identical shards."""
    from pandas_alchemy_spark.sources import io as pio
    from pandas_alchemy_spark.streaming.stream_events import (
        read_text_stream, streaming_token_totals)
    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("the quick brown fox\njumps over the dog\n")
    (d / "b.txt").write_text("plus une ligne\n")
    stream = read_text_stream(spark, str(d))
    q = (streaming_token_totals(stream)
         .writeStream.format("memory").queryName("txt_totals")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM txt_totals").collect()[0]
        batch = pio.read_text(str(d)).to_spark(index=False)
        want = streaming_token_totals(batch).collect()[0]
        assert got.asDict() == want.asDict()
        assert got["n_lines"] == 3 and got["n_tokens"] == 11
    finally:
        q.stop()


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """streaming_decontaminate (stateless stream-static form) over a
    drained file stream == ext.dedup.decontaminate(mode='mark') over
    the same docs, for every doc including clean ones."""
    import pandas as pd

    from pandas_alchemy_spark.ext import dedup as dd
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_decontaminate)
    d = tmp_path / "docs"
    docs_pdf = pd.DataFrame({
        "doc_id": list(range(8)),
        "text": [
            "alpha beta gamma delta epsilon zeta",
            "the quick brown fox jumps over the lazy dog",
            "alpha beta gamma delta epsilon zeta eta theta",
            "completely unrelated words here again folks",
            "quick brown fox jumps over the lazy dog today",
            "",
            "short",
            "alpha beta gamma delta epsilon zeta iota kappa",
        ]})
    spark.createDataFrame(docs_pdf).coalesce(1).write.parquet(str(d))
    ev = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100, 101],
        "text": ["alpha beta gamma delta epsilon zeta",
                 "quick brown fox jumps over the lazy dog"]}))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(d)))
    out = streaming_decontaminate(stream, ev, n=5)
    q = (out.writeStream.format("memory").queryName("sdecon")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = (spark.sql("SELECT * FROM sdecon").toPandas()
               .sort_values("doc_id").reset_index(drop=True))
    finally:
        q.stop()
    batch = (dd.decontaminate(spark.read.parquet(str(d)), ev, n=5)
             .select("doc_id", "n_contam_ngrams").toPandas()
             .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, batch)
    # contaminated docs really got flagged
    flagged = set(got[got.n_contam_ngrams > 0].doc_id)
    assert {0, 2, 4, 7} <= flagged and 3 not in flagged


def test_streaming_lm_scores_match_batch_external_vocab(spark, tmp_path):
    """streaming_lm_scores over a drained file stream == batch
    unigram_logprob(vocab=) up to float-sum ordering (the streaming
    fold runs in token order, the batch fold over the sorted count
    list)."""
    import pandas as pd

    from pandas_alchemy_spark.ext import text as xt
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_lm_scores)
    d = tmp_path / "docs"
    docs_pdf = pd.DataFrame({
        "doc_id": list(range(6)),
        "text": ["the quick brown fox", "the the the",
                 "zzz unknown words only", "quick fox jumps",
                 "", "the fox"]})
    spark.createDataFrame(docs_pdf).coalesce(1).write.parquet(str(d))
    # reference vocab trained on a separate corpus
    ref = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["the quick brown fox jumps over the lazy dog",
                 "the fox and the dog"]}))
    from pandas_alchemy_spark.ext.dedup import _TOKENS
    vocab = (ref.selectExpr(
        f"explode({_TOKENS.format(col='text')}) AS term")
        .groupBy("term").count()
        .withColumnRenamed("count", "cnt"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(d)))
    out = streaming_lm_scores(stream, vocab)
    q = (out.writeStream.format("memory").queryName("slm")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = (spark.sql("SELECT * FROM slm").toPandas()
               .sort_values("doc_id").reset_index(drop=True))
    finally:
        q.stop()
    batch = (xt.unigram_logprob(spark.read.parquet(str(d)),
                                vocab=vocab)
             .toPandas().sort_values("doc_id")
             .reset_index(drop=True))
    assert list(got.doc_id) == list(batch.doc_id)
    assert (got.n_lm_tokens.values == batch.n_lm_tokens.values).all()
    import numpy as np
    assert np.allclose(got.logprob, batch.logprob, rtol=1e-12)
    # OOV-only and empty docs are absent; 'zzz unknown words only'
    # has NO in-vocab token ('only' not in ref) -> absent
    assert set(got.doc_id) == {0, 1, 3, 5}


def test_streaming_dedup_against_matches_batch(spark, tmp_path):
    """streaming_dedup_against (stateless per-row MinHash + stream-
    static band join + canonical-band dedup) over a drained file
    stream == ext.dedup.cross_dedup_pairs over the same split: same
    pair set, same exact Jaccard values."""
    import pandas as pd

    from pandas_alchemy_spark.ext import dedup as dd
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_dedup_against)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new_sl = docs.filter("doc_id % 5 = 0")
    ref_sl = docs.filter("doc_id % 5 <> 0")
    d = tmp_path / "new_docs"
    new_sl.select("doc_id", "text").coalesce(2).write.parquet(str(d))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = streaming_dedup_against(stream, ref_sl, num_hashes=16,
                                  bands=4, threshold=0.4)
    q = (out.writeStream.format("memory").queryName("sxdup")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM sxdup").toPandas()
    finally:
        q.stop()
    want = dd.cross_dedup_pairs(new_sl, ref_sl, num_hashes=16,
                                bands=4, threshold=0.4).toPandas()
    assert len(want) > 0, "fixture must produce cross pairs"
    gset = {(r.id_new, r.id_ref): round(r.jaccard, 9)
            for r in got.itertuples()}
    wset = {(r.id_new, r.id_ref): round(r.jaccard, 9)
            for r in want.itertuples()}
    assert gset == wset
    # exactly one row per pair (canonical-band rule, no duplicates)
    assert len(got) == len(gset)


def test_streaming_dedup_against_prebuilt_index(spark, tmp_path):
    """ReferenceIndex (r9 build-once-gate-many): gating a stream
    against (a) the raw reference, (b) an in-memory prebuilt index,
    and (c) the same index saved to parquet and loaded back must
    produce the identical pair set + Jaccard values, with the hash
    family coming FROM the index (mismatched args to the gate are
    ignored).  Passing both or neither of reference=/index= raises."""
    from pandas_alchemy_spark.ext import dedup as dd
    from pandas_alchemy_spark.ext.similarity import (
        release_pinned_caches)
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_dedup_against)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new_sl = docs.filter("doc_id % 5 = 0")
    ref_sl = docs.filter("doc_id % 5 <> 0")
    d = tmp_path / "new_docs"
    new_sl.select("doc_id", "text").coalesce(2).write.parquet(str(d))

    def drain(**kw):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(str(d)))
        out = streaming_dedup_against(stream, **kw)
        name = f"sxidx{drain.n}"
        drain.n += 1
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            return {(r.id_new, r.id_ref): round(r.jaccard, 9)
                    for r in spark.sql(f"SELECT * FROM {name}")
                    .toPandas().itertuples()}
        finally:
            q.stop()
    drain.n = 0

    raw = drain(reference=ref_sl, num_hashes=16, bands=4,
                threshold=0.4)
    release_pinned_caches()
    assert len(raw) > 0

    idx = dd.build_reference_index(ref_sl, num_hashes=16, bands=4)
    # deliberately wrong num_hashes/bands args: the index's params
    # must win (a drifted family would zero recall silently)
    via_idx = drain(index=idx, num_hashes=8, bands=2, threshold=0.4)
    assert via_idx == raw

    path = str(tmp_path / "refidx")
    idx.save(path)
    idx.release()
    loaded = dd.load_reference_index(spark, path)
    assert (loaded.num_hashes, loaded.bands,
            loaded.shingle_n) == (16, 4, 3)
    via_loaded = drain(index=loaded, threshold=0.4)
    assert via_loaded == raw
    loaded.release()

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(d)))
    with pytest.raises(ValueError, match="exactly one"):
        streaming_dedup_against(stream)
    with pytest.raises(ValueError, match="exactly one"):
        streaming_dedup_against(stream, reference=ref_sl, index=idx)
    # the signature family is md5-only: fast_hash warns, changes nothing
    with pytest.warns(DeprecationWarning, match="fast_hash"), \
            pytest.raises(ValueError, match="exactly one"):
        streaming_dedup_against(stream, fast_hash=True)


def test_streaming_dedup_against_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart recovery for the stream-static near-dup gate
    (VERDICT r8 item 8): drain half the new-docs files with a
    checkpoint, stop the query (the 'kill'), add the rest, rebuild
    the operator (re-persisting the static side — a restart means a
    fresh driver) and restart from the SAME checkpoint.  The
    combined drained pair set must equal the batch twin over ALL
    files, phase 2 must not reprocess phase-1 files (batch ids
    strictly continue), and the pinned static caches release
    cleanly."""
    import os

    from pyspark.sql import functions as F

    from pandas_alchemy_spark.ext import dedup as dd
    from pandas_alchemy_spark.ext.similarity import (
        release_pinned_caches)
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_dedup_against)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new_sl = docs.filter("doc_id % 5 = 0")
    ref_sl = docs.filter("doc_id % 5 <> 0")
    srcdir = tmp_path / "all_new"
    new_sl.select("doc_id", "text").repartition(4) \
        .write.parquet(str(srcdir))
    files = sorted(f for f in os.listdir(srcdir)
                   if f.endswith(".parquet"))
    assert len(files) >= 2
    half = len(files) // 2
    staged = tmp_path / "staged"
    staged.mkdir()
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "pairs_out")
    for f in files[:half]:
        shutil.copy(srcdir / f, staged / f)

    def write_batch(bdf, bid):
        (bdf.withColumn("batch_id", F.lit(bid))
         .write.mode("append").parquet(outdir))

    def drain():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(str(staged)))
        out = streaming_dedup_against(stream, ref_sl, num_hashes=16,
                                      bands=4, threshold=0.4)
        q = (out.writeStream.outputMode("append")
             .foreachBatch(write_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
        # the restart contract: the stream owner releases the pinned
        # static persists once the query stops
        assert release_pinned_caches() >= 3
        return spark.read.parquet(outdir).toPandas()

    all1 = drain()
    max1 = all1.batch_id.max() if len(all1) else -1
    for f in files[half:]:
        shutil.copy(srcdir / f, staged / f)
    all2 = drain()
    got2 = all2[all2.batch_id > max1]
    # no reprocessing: phase-1 pairs appear exactly once overall, and
    # phase 2 never re-emits a pre-restart batch id (>= not ==: a
    # pair-less trailing phase-1 batch leaves no row to witness its
    # id, so phase 2 may legitimately start further along)
    assert not all2.duplicated(["id_new", "id_ref"]).any()
    if len(got2):
        assert got2.batch_id.min() >= max1 + 1
    # combined == batch twin over everything
    want = dd.cross_dedup_pairs(new_sl, ref_sl, num_hashes=16,
                                bands=4, threshold=0.4).toPandas()
    assert len(want) > 0
    gset = {(r.id_new, r.id_ref): round(r.jaccard, 9)
            for r in all2.itertuples()}
    wset = {(r.id_new, r.id_ref): round(r.jaccard, 9)
            for r in want.itertuples()}
    assert gset == wset


def test_streaming_dedup_against_cap_asymmetry(spark, tmp_path):
    """When the smallest matching band's bucket is capped out, the
    canonical-band rule must fall back to the smallest SURVIVING
    matching band instead of silently dropping the pair (the batch
    twin keeps a pair when any surviving band matches).  Identical
    ref docs put every band bucket over a cap of 1 EXCEPT the probe
    doc's — driving the asymmetry directly is fiddly, so this pins
    the weaker but real contract: stream output == batch output
    under the same aggressive cap."""
    import pandas as pd

    from pandas_alchemy_spark.ext import dedup as dd
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_dedup_against)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref_rows = [(i, base) for i in range(10, 16)]  # 6 identical docs
    ref_rows += [(20, "one completely different reference document")]
    new_rows = [(1, base + " lambda"), (2, "unrelated new text")]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    d = tmp_path / "nd"
    spark.createDataFrame(new_rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(d))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(d)))
    for cap in (2, None):
        out = streaming_dedup_against(stream, ref, num_hashes=16,
                                      bands=4, threshold=0.3,
                                      bucket_cap=cap)
        name = f"sxcap{cap or 0}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            got = spark.sql(f"SELECT * FROM {name}").toPandas()
        finally:
            q.stop()
        new_df = spark.read.parquet(str(d))
        want = dd.cross_dedup_pairs(new_df, ref, num_hashes=16,
                                    bands=4, threshold=0.3,
                                    bucket_cap=cap).toPandas()
        gset = {(r.id_new, r.id_ref) for r in got.itertuples()}
        wset = {(r.id_new, r.id_ref) for r in want.itertuples()}
        assert gset == wset, f"cap={cap}: {gset} != {wset}"
    # uncapped: the near-identical new doc matches every identical ref
    assert {(1, r) for r in range(10, 16)} <= gset


def test_streaming_dedup_against_index_append_between_batches(
        spark, tmp_path):
    """ReferenceIndex.append in the streaming gate (r10, VERDICT r9
    #6): an ingest gate's reference GROWS — drain a first wave
    against index(A), stop, append corpus B to the index (no
    rebuild), restart the stream for the second wave against the
    appended index.  Each wave's pair set must equal the batch twin
    against its wave's reference (A, then A UNION B)."""
    from pandas_alchemy_spark.ext import dedup as dd
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_dedup_against)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref_a = docs.filter("doc_id % 5 = 1").select("doc_id", "text")
    ref_b = docs.filter("doc_id % 5 = 2").select("doc_id", "text")
    wave1 = docs.filter("doc_id % 5 = 0").select("doc_id", "text")
    wave2 = docs.filter("doc_id % 5 = 3").select("doc_id", "text")
    d = tmp_path / "ingest"

    def drain(index, name):
        stream = (spark.readStream
                  .schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(str(d)))
        out = streaming_dedup_against(stream, index=index,
                                      threshold=0.4)
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            return {(r.id_new, r.id_ref): round(r.jaccard, 9)
                    for r in spark.sql(f"SELECT * FROM {name}")
                    .toPandas().itertuples()}
        finally:
            q.stop()

    idx_a = dd.build_reference_index(ref_a, num_hashes=16, bands=4)
    wave1.coalesce(2).write.mode("overwrite").parquet(str(d))
    got1 = drain(idx_a, "sxapp1")

    # the reference grows between replays: append B, no rebuild
    idx_ab = idx_a.append(ref_b)
    idx_a.release()
    import shutil
    shutil.rmtree(str(d))
    wave2.coalesce(2).write.parquet(str(d))
    got2 = drain(idx_ab, "sxapp2")
    idx_ab.release()

    want1 = {(r.id_new, r.id_ref): round(r.jaccard, 9)
             for r in dd.cross_dedup_pairs(
                 wave1, ref_a, num_hashes=16, bands=4,
                 threshold=0.4).collect()}
    want2 = {(r.id_new, r.id_ref): round(r.jaccard, 9)
             for r in dd.cross_dedup_pairs(
                 wave2, ref_a.unionAll(ref_b), num_hashes=16,
                 bands=4, threshold=0.4).collect()}
    assert got1 == want1 and got2 == want2
    # the appended reference actually participates: wave2 pairs hit
    # B-side ids too (planted by fixture density at 0.4)
    b_ids = {r.doc_id for r in ref_b.collect()}
    assert any(ref in b_ids for _, ref in got2)


def test_pin_scope_releases_only_owner(spark, tmp_path):
    """Per-stream pin scopes (ADVICE r9): with two live gates,
    releasing one stream's scope must leave the other stream's
    static persists pinned (else its per-micro-batch reference
    rebuild cliff silently returns); scope=None still drains all."""
    from pandas_alchemy_spark.ext.similarity import (
        _PINNED_CACHE, release_pinned_caches)
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_dedup_against)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref1 = docs.filter("doc_id % 4 = 1").select("doc_id", "text")
    ref2 = docs.filter("doc_id % 4 = 2").select("doc_id", "text")
    d = tmp_path / "pinscope"
    (docs.filter("doc_id % 4 = 0").select("doc_id", "text")
     .coalesce(1).write.parquet(str(d)))
    base = len(_PINNED_CACHE)

    def gate(ref):
        stream = (spark.readStream
                  .schema("doc_id long, text string").parquet(str(d)))
        return streaming_dedup_against(stream, reference=ref,
                                       threshold=0.4)
    g1, g2 = gate(ref1), gate(ref2)
    s1, s2 = g1._pas_pin_scope, g2._pas_pin_scope
    assert s1 is not s2
    assert len(_PINNED_CACHE) == base + 6  # 3 static frames each
    assert release_pinned_caches(s1) == 3
    # the second stream's pins survive
    assert len(_PINNED_CACHE) == base + 3
    assert all(sc is s2 for sc, _ in _PINNED_CACHE[base:])
    # a pin_scope the caller supplies rides through verbatim
    tok = object()
    g3 = gate(ref1.limit(50))
    del g3
    g4_stream = (spark.readStream
                 .schema("doc_id long, text string").parquet(str(d)))
    g4 = streaming_dedup_against(g4_stream, reference=ref2.limit(50),
                                 threshold=0.4, pin_scope=tok)
    assert g4._pas_pin_scope is tok
    assert release_pinned_caches(tok) == 3
    # drain-everything fallback still clears the rest
    assert release_pinned_caches() >= 3
    assert len(_PINNED_CACHE) == 0


def test_streaming_profile_matches_batch_across_restart(spark,
                                                        tmp_path):
    """Incremental corpus profiling (round 10): docs stream in as
    parquet waves, each micro-batch leaves only its profile_sketches
    state rows (hive batch_id=N dirs, overwrite => retry-idempotent),
    and the running report is rendered from state alone.  Drain half,
    STOP (the kill), stage the rest, restart from the same checkpoint
    — the final report must equal the batch twin over ALL docs
    bit-for-bit (HLL union exactness + bucket-wise histogram sums)."""
    import os

    from pandas_alchemy_spark.ext import profile as P

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = tmp_path / "src"
    docs.repartition(6).write.parquet(str(src))
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(files) >= 4
    staged = tmp_path / "staged"
    staged.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = docs.schema

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(staged)))
        q = stream_events.streaming_profile_sink(
            stream, state, ckpt, text_col="text", group_col="lang")
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(f"{src}/{f}", staged / f)
    drain()
    # phase-1 report covers exactly the staged docs
    part = stream_events.streaming_profile_report(spark, state)
    staged_docs = spark.read.parquet(str(staged / "*.parquet"))
    want_part = P.finalize_profile(P.profile_sketches(staged_docs))
    key = lambda r: r["grp"]  # noqa: E731
    assert sorted([r.asDict() for r in part.collect()], key=key) == \
        sorted([r.asDict() for r in want_part.collect()], key=key)
    n_state_dirs_1 = len([d for d in os.listdir(state)
                          if d.startswith("batch_id=")])
    assert n_state_dirs_1 >= 1

    for f in files[half:]:
        shutil.copy(f"{src}/{f}", staged / f)
    drain()  # restart from the same checkpoint: only NEW files run
    got = stream_events.streaming_profile_report(spark, state)
    want = P.finalize_profile(P.profile_sketches(docs))
    assert sorted([r.asDict() for r in got.collect()], key=key) == \
        sorted([r.asDict() for r in want.collect()], key=key)
    # restart appended new batch dirs, did not rewrite phase-1 ones
    n_state_dirs_2 = len([d for d in os.listdir(state)
                          if d.startswith("batch_id=")])
    assert n_state_dirs_2 > n_state_dirs_1


def test_streaming_language_gate_matches_batch(spark, tmp_path):
    """The langid model is row-local, so the streaming gate must equal
    the batch twin row for row — same kept set, same predictions —
    across micro-batch boundaries."""
    from pandas_alchemy_spark.ext import pipeline
    from pandas_alchemy_spark.ext.text import STOPWORDS

    shared = ["data", "spark", "table", "row"]
    rows = []
    for i, (lang, sws) in enumerate(sorted(STOPWORDS.items()) * 60):
        words = ([sws[(i + j) % len(sws)] for j in range(10)]
                 + [shared[(i + j) % len(shared)] for j in range(3)])
        rows.append((i, " ".join(words), lang))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    model = pipeline.train_langid_classifier(docs, max_iter=10,
                                             buckets=1 << 13)
    src = tmp_path / "src"
    docs.repartition(4).write.parquet(str(src))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    gated = stream_events.streaming_language_gate(
        stream, model, keep_langs=["en", "de"], min_prob=0.5,
        stream_partitions=8)
    q = (gated.writeStream.format("memory").queryName("t_lang_gate")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        got = (spark.table("t_lang_gate").toPandas()
               .sort_values("doc_id").reset_index(drop=True))
    finally:
        q.stop()
    want = (stream_events.streaming_language_gate(
        spark.read.parquet(str(src)), model,
        keep_langs=["en", "de"], min_prob=0.5).toPandas()
        .sort_values("doc_id").reset_index(drop=True))
    assert len(got) == len(want) > 0
    assert (got.doc_id == want.doc_id).all()
    assert (got.lang_pred == want.lang_pred).all()
    assert (got.lang_prob - want.lang_prob).abs().max() < 1e-12
    # the gate kept only confident target-language docs
    assert set(got.lang_pred) <= {"en", "de"}
    assert (got.lang_prob >= 0.5).all()


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    """The quality model is row-local and the Pareto draw is
    content-addressed, so the streaming gate must keep the IDENTICAL
    set as the batch twin quality_classifier_filter across
    micro-batch boundaries — both gate modes."""
    from pandas_alchemy_spark.ext import pipeline

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet")
    model = pipeline.train_quality_classifier(
        docs.filter("lang = 'en'"), docs.filter("lang <> 'en'"),
        max_iter=8, max_train_docs=2000)
    src = tmp_path / "src"
    docs.select("doc_id", "text").repartition(4).write.parquet(
        str(src))
    schema = "doc_id long, text string"
    for mode, kw in (("pareto", {"seed": "sq"}),
                     ("hard", {"threshold": 0.6})):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        gated = stream_events.streaming_quality_gate(
            stream, model, stream_partitions=8, **kw)
        name = f"t_q_gate_{mode}"
        q = (gated.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True)
             .start())
        try:
            q.awaitTermination(120)
            got = (spark.table(name).toPandas()
                   .sort_values("doc_id").reset_index(drop=True))
        finally:
            q.stop()
        want = (pipeline.quality_classifier_filter(
            docs.select("doc_id", "text"), model, **kw)
            .select("doc_id", "text", "q_prob").toPandas()
            .sort_values("doc_id").reset_index(drop=True))
        assert len(got) == len(want) > 0, mode
        assert (got.doc_id == want.doc_id).all(), mode
        assert (got.q_prob - want.q_prob).abs().max() < 1e-12, mode
        assert 0 < len(got) < docs.count()  # a real, partial gate


def test_streaming_semantic_dedup_against_batch_twin(spark, tmp_path):
    """streaming_semantic_dedup_against (r13): the embedding gate's
    stream output must VALUE-equal the batch twin
    (ext.similarity.semantic_dedup_against) on the same rows — same
    frozen sidecar geometry, same cell join, same cosine."""
    import numpy as np

    from pandas_alchemy_spark.ext.similarity import (
        build_ivf_index, release_pinned_caches,
        semantic_dedup_against)
    from pandas_alchemy_spark.streaming.stream_events import (
        streaming_semantic_dedup_against)
    rng = np.random.default_rng(77)
    ref_rows = [(i, rng.standard_normal(16).astype(float).tolist())
                for i in range(200)]
    ref = spark.createDataFrame(
        ref_rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivf")
    build_ivf_index(ref, idx, dim=16, nlist=8)
    # new wave: near-copies of some refs + fresh noise
    new_rows = [(1000 + i, [x * 1.000001 for x in ref_rows[i][1]])
                for i in range(0, 40, 2)]
    new_rows += [(2000 + i,
                  rng.standard_normal(16).astype(float).tolist())
                 for i in range(10)]
    # a NaN component leaves the cosine undefined: never a pair
    new_rows.append((3000, [float("nan")] + ref_rows[0][1][1:]))
    nd = tmp_path / "wave"
    spark.createDataFrame(
        new_rows, "vec_id long, embedding array<float>") \
        .coalesce(1).write.parquet(str(nd))
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .parquet(str(nd)))
    out = streaming_semantic_dedup_against(stream, idx,
                                           threshold=0.5, nprobe=2)
    q = (out.writeStream.format("memory").queryName("semgate")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {(r.id_new, r.id_ref, round(r.cosine, 9))
               for r in spark.sql("SELECT * FROM semgate").collect()}
    finally:
        q.stop()
    release_pinned_caches(out._pas_pin_scope)
    want = {(r.id_new, r.id_ref, round(r.cosine, 9))
            for r in semantic_dedup_against(
                spark, idx, spark.read.parquet(str(nd)),
                threshold=0.5, nprobe=2).collect()}
    assert got == want
    assert 3000 not in {a for a, _, _ in got}
    # every planted near-copy is gated against its source
    assert {(1000 + i, i) for i in range(0, 40, 2)} <= {
        (a, b) for a, b, _ in got}
