"""Streaming windowed aggregation == batch windowed aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from importtoneo4j_spark.streaming.windows import turn_rate_stream


def run_to_memory(df, name: str, checkpoint: str):
    """Drive a streaming DataFrame to completion into an in-memory table."""
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q


def test_turn_rate_stream_matches_batch(spark, small_transcripts_path, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("sw") / "ckpt")
    df = turn_rate_stream(spark, small_transcripts_path)
    run_to_memory(df, "turn_rates", ckpt)
    got = {
        (r["win_start"], r["role"]): r["n_turns"]
        for r in spark.sql("SELECT * FROM turn_rates").collect()
    }
    batch = (
        spark.read.parquet(small_transcripts_path)
        .groupBy(F.window("ts", "1 hour").alias("win"), "role")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("s"), "role", "n")
    )
    want = {(r["s"], r["role"]): r["n"] for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_session_window_stream_matches_batch_and_lag(
    spark, small_transcripts_path, tmp_path_factory
):
    """Streaming native session windows == the same expression as batch;
    batch session counts per conversation == lag-based sessionization with
    the STRICT > gap threshold (the native operator's boundary semantics:
    an event exactly gap seconds after the last one still merges)."""
    from importtoneo4j_spark.streaming.windows import session_window_stream

    ckpt = str(tmp_path_factory.mktemp("sws") / "ckpt")
    df = session_window_stream(spark, small_transcripts_path, gap="30 minutes")
    run_to_memory(df, "sess_win", ckpt)
    got = {
        (r["conv_id"], r["sess_start"], r["sess_end"]): r["n_turns"]
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }

    base = spark.read.parquet(small_transcripts_path)
    batch = (
        base.groupBy(F.session_window("ts", "30 minutes").alias("win"), "conv_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("s"), F.col("win.end").alias("e"),
            "conv_id", "n",
        )
    )
    want = {(r["conv_id"], r["s"], r["e"]): r["n"] for r in batch.collect()}
    assert got == want
    assert len(got) > 0

    from pyspark.sql import Window as W

    w = W.partitionBy("conv_id").orderBy(F.col("ts").asc(), F.col("turn_idx").asc())
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ -> LTZ first
    gap = epoch - F.lag(epoch).over(w)
    lag_counts = (
        base.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .groupBy("conv_id")
        .agg(F.sum("new_sess").alias("n_sessions"))
    )
    lag_want = {r["conv_id"]: r["n_sessions"] for r in lag_counts.collect()}
    from collections import Counter

    native_counts = Counter(k[0] for k in got)
    assert dict(native_counts) == lag_want


def test_session_window_exact_gap_boundary_merges(spark):
    """The boundary case the corpus dodges (microsecond timestamps): two
    events EXACTLY gap seconds apart share a session; gap+1 splits. This
    pins the strict-> semantics the w4 oracle and the lag parity above
    rely on (a code-review round-5 finding: the oracle briefly used >=,
    which no generated corpus happened to contradict)."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(seconds=1800)),   # exactly the gap: merges
        (1, t0 + dt.timedelta(seconds=3599)),   # 1799 after prev: merges
        (2, t0),
        (2, t0 + dt.timedelta(seconds=1801)),   # over the gap: splits
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    rows_out = [(r["user_id"], r["n"]) for r in out.collect()]
    assert sorted(rows_out) == [(1, 3), (2, 1), (2, 1)]
