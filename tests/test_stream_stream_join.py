"""Stream-stream join with watermarks (SURVEY §2.5 J1 streaming form):
two unbounded streams joined on a key + event-time range condition.
The watermarks bound both join-state buffers — without them the state
would grow forever, which is the thing that matters at 100 TB."""

from pyspark.sql import functions as F

from conftest import drain


def test_stream_stream_range_join(spark, tmp_path):
    clicks_src = str(tmp_path / "clicks")
    purch_src = str(tmp_path / "purchases")

    spark.createDataFrame(
        [
            (1, 10, "2026-01-01 10:00:00"),
            (2, 10, "2026-01-01 10:20:00"),
            (3, 20, "2026-01-01 10:05:00"),
        ],
        "click_id long, user_id long, ts_s string",
    ).select("click_id", "user_id", F.to_timestamp("ts_s").alias("click_ts")).write.parquet(
        clicks_src
    )
    spark.createDataFrame(
        [
            (10, "2026-01-01 09:55:00", 5.0),   # within 10 min of click 1
            (10, "2026-01-01 10:18:00", 7.0),   # within 10 min of click 2
            (20, "2026-01-01 09:00:00", 9.0),   # too old for click 3
        ],
        "user_id long, ts_s string, value double",
    ).select("user_id", F.to_timestamp("ts_s").alias("purch_ts"), "value").write.parquet(
        purch_src
    )

    clicks = (
        spark.readStream.schema("click_id long, user_id long, click_ts timestamp")
        .parquet(clicks_src)
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        spark.readStream.schema("user_id long, purch_ts timestamp, value double")
        .parquet(purch_src)
        .withWatermark("purch_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (clicks["user_id"] == purchases["user_id"])
        & (purchases["purch_ts"] <= clicks["click_ts"])
        & (purchases["purch_ts"] > clicks["click_ts"] - F.expr("INTERVAL 10 minutes")),
    ).select("click_id", clicks["user_id"], "value")

    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    rows = {(r["click_id"], r["value"]) for r in spark.table("ssj_out").collect()}
    assert rows == {(1, 5.0), (2, 7.0)}
