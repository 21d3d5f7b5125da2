"""Stream-static join (SURVEY §2.5 J1 family, streaming form #2):
an unbounded stream enriched against a batch dimension table. Unlike
stream-stream joins this needs no watermark and holds no join state —
the static side is (re)read per micro-batch, which is exactly how a
slowly-changing dimension should reach a 100 TB stream: broadcast per
trigger, never buffered."""

from pyspark.sql import functions as F

from conftest import drain


def test_stream_enriched_by_static_dim(spark, tmp_path):
    stream_src = str(tmp_path / "events")
    dim_src = str(tmp_path / "tiers")

    spark.createDataFrame(
        [
            (1, 10, 5.0),
            (2, 20, 7.0),
            (3, 10, 1.0),
            (4, 99, 2.0),  # user not in dim -> dropped by inner join
        ],
        "event_id long, user_id long, value double",
    ).write.parquet(stream_src)
    spark.createDataFrame(
        [(10, "gold"), (20, "basic")], "user_id long, tier string"
    ).write.parquet(dim_src)

    stream = spark.readStream.schema(
        "event_id long, user_id long, value double"
    ).parquet(stream_src)
    dim = spark.read.parquet(dim_src)

    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "tier", "value"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("ssj_static_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    rows = {
        (r["event_id"], r["tier"], r["value"])
        for r in spark.table("ssj_static_out").collect()
    }
    assert rows == {(1, "gold", 5.0), (2, "basic", 7.0), (3, "gold", 1.0)}


def test_stream_static_left_keeps_unmatched(spark, tmp_path):
    stream_src = str(tmp_path / "ev2")
    dim_src = str(tmp_path / "tiers2")
    spark.createDataFrame(
        [(1, 10), (2, 99)], "event_id long, user_id long"
    ).write.parquet(stream_src)
    spark.createDataFrame([(10, "gold")], "user_id long, tier string").write.parquet(
        dim_src
    )
    stream = spark.readStream.schema("event_id long, user_id long").parquet(stream_src)
    dim = spark.read.parquet(dim_src)
    q = (
        stream.join(F.broadcast(dim), "user_id", "left")
        .select("event_id", "tier")
        .writeStream.format("memory")
        .queryName("ssj_static_left")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    rows = {(r["event_id"], r["tier"]) for r in spark.table("ssj_static_left").collect()}
    assert rows == {(1, "gold"), (2, None)}


def test_streaming_point_in_interval_join(spark, tmp_path):
    """Binned range join on a STREAM: points arrive unbounded, interval
    dimension is static. The bin rewrite turns the inequality condition
    into an equi-join on (key, bin) + a refine filter — a stateless
    stream-static join Spark executes per trigger, where the naive
    BETWEEN join would be a per-micro-batch nested loop."""
    from binance_data_ingestor_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    base = 1_700_000_000
    pts_src = str(tmp_path / "pts")
    iv_src = str(tmp_path / "ivs")
    spark.createDataFrame(
        [
            (1, "a", float(base + 30)),        # inside iv 10
            (2, "a", float(base + 7200)),      # inside iv 11 (2 bins later)
            (3, "a", float(base + 99_999)),    # no interval
            (4, "b", float(base + 30)),        # right time, wrong key
        ],
        "pid long, k string, sec double",
    ).select(
        "pid", "k", F.expr("timestamp_seconds(sec)").alias("pt")
    ).write.parquet(pts_src)
    spark.createDataFrame(
        [
            (10, "a", float(base), float(base + 100)),
            (11, "a", float(base + 3600), float(base + 8000)),  # spans bins
        ],
        "iid long, k string, lo_s double, hi_s double",
    ).select(
        "iid",
        "k",
        F.expr("timestamp_seconds(lo_s)").alias("lo"),
        F.expr("timestamp_seconds(hi_s)").alias("hi"),
    ).write.parquet(iv_src)

    stream = spark.readStream.schema("pid long, k string, pt timestamp").parquet(
        pts_src
    )
    intervals = spark.read.parquet(iv_src)
    joined = point_in_interval_join(
        stream, intervals, point_ts="pt", lo="lo", hi="hi",
        bin_seconds=3600, keys=["k"],
    ).select("pid", "iid")
    q = (
        joined.writeStream.format("memory")
        .queryName("stream_pii_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_pii"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    rows = {(r.pid, r.iid) for r in spark.table("stream_pii_out").collect()}
    assert rows == {(1, 10), (2, 11)}
