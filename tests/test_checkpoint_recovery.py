"""Checkpoint recovery (SURVEY §2.6 T1): restarting a streaming query
from its checkpoint neither reprocesses committed input nor duplicates
sink output — the upgrade over the reference's at-most-once in-memory
queue (binance-di.py:266, data lost on crash)."""

import pytest
from pyspark.sql import functions as F

from conftest import drain


def _run_until_done(stream_df, out_dir, ckpt):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    batch1.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("id long, v long").parquet(src)
    _run_until_done(stream.withColumn("tag", F.lit("x")), out, ckpt)
    assert spark.read.parquet(out).count() == 100

    # restart with the SAME checkpoint: already-committed file must not
    # be reprocessed even though it is still in the source directory
    _run_until_done(stream.withColumn("tag", F.lit("x")), out, ckpt)
    assert spark.read.parquet(out).count() == 100

    # new input arrives; restart picks up ONLY the delta
    spark.range(100, 150).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("append").parquet(src)
    _run_until_done(stream.withColumn("tag", F.lit("x")), out, ckpt)

    result = spark.read.parquet(out)
    assert result.count() == 150
    # no duplicate ids — exactly-once to the file sink via the manifest
    assert result.select("id").distinct().count() == 150
    assert result.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(150))


def test_stateful_checkpoint_resumes_watermark(spark, tmp_path):
    """Watermark/state survive a restart: sessions that were still open
    when the first run ended must close (and emit exactly once) when a
    later run's data advances the watermark."""
    from binance_data_ingestor_spark.streaming.stateful import sessionize_stream

    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")

    def write_events(rows):
        spark.createDataFrame(rows, "user_id long, ts_s string, value double").select(
            "user_id", F.to_timestamp("ts_s").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once(_name):
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src)
        # memory sink cannot recover from a checkpoint; the file sink is
        # the fault-tolerant path this test is about
        q = (
            sessionize_stream(stream, watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 120)
        df = spark.read.schema(
            "user_id long, n_events long, sess_value double,"
            " sess_start long, sess_end long"
        ).parquet(out)
        return df.collect()

    write_events([(1, "2026-01-01 00:00:00", 1.0), (1, "2026-01-01 00:10:00", 2.0)])
    first = run_once("ckpt_sessions_1")
    assert first == []  # watermark hasn't passed the session's close yet

    # second run: far-future event closes user 1's session from state
    write_events([(2, "2026-01-02 00:00:00", 5.0)])
    second = run_once("ckpt_sessions_2")
    closed = [r for r in second if r["user_id"] == 1]
    assert len(closed) == 1
    assert closed[0]["n_events"] == 2 and abs(closed[0]["sess_value"] - 3.0) < 1e-9


def test_drain_stops_an_overrunning_query(spark, tmp_path):
    # an unbounded rate stream never terminates: drain must stop it (so a
    # restart cannot collide with a live writer) and fail the test
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    with pytest.raises(pytest.fail.Exception, match="still running"):
        drain(q, 0.5)
    assert not q.isActive
