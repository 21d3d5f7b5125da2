"""Custom stateful streaming: applyInPandasWithState sessions + dedup.

The sessionizer replays the sf0.001 events table as a file stream
(availableNow) with a far-future sentinel row that pushes the global
watermark past every real session, and the emitted sessions must match
the batch window-function sessionization (q24 semantics) exactly.
"""

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from binance_data_ingestor_spark.queries.util import load
from binance_data_ingestor_spark.streaming.stateful import (
    dedup_stream,
    rolling_window_stream,
    sessionize_stream,
)

from conftest import drain

SF_DIR = "/root/testdata/sf0.001"


def batch_sessions(ev):
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    w = W.partitionBy("user_id").orderBy("ts")
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    flagged = ev.select(
        "user_id",
        "ts",
        "value",
        F.when(sec - F.lag(sec).over(w) > 1800, 1)
        .otherwise(F.when(F.lag(sec).over(w).isNull(), 1).otherwise(0))
        .alias("new_sess"),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_sess").over(wcum))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sess_value"),
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
        )
    )


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    """events + one sentinel row far in the future (watermark driver)."""
    path = str(tmp_path_factory.mktemp("events_replay"))
    ev = load(spark, SF_DIR, "events").select("user_id", "ts", "value")
    sentinel = spark.createDataFrame(
        [(int(-1), float(0.0))], "user_id long, value double"
    ).select(
        "user_id",
        (F.to_timestamp(F.lit("2031-01-01 00:00:00"))).alias("ts"),
        "value",
    )
    ev.unionByName(sentinel.select("user_id", "ts", "value")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_sessionize_stream_matches_batch(spark, replay_dir, tmp_path):
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(replay_dir)
    )
    out = sessionize_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 300)

    got = (
        spark.table("sessions_out")
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            "n_events",
            "sess_value",
            F.timestamp_micros(F.col("sess_start")).alias("sess_start"),
            F.timestamp_micros(F.col("sess_end")).alias("sess_end"),
        )
    )
    expected = batch_sessions(load(spark, SF_DIR, "events")).drop("session_id")

    g = {
        (r["user_id"], r["sess_start"]): (r["n_events"], r["sess_value"], r["sess_end"])
        for r in got.collect()
    }
    e = {
        (r["user_id"], r["sess_start"]): (r["n_events"], r["sess_value"], r["sess_end"])
        for r in expected.collect()
    }
    assert len(g) == len(e) > 0
    for k, (n, v, end) in e.items():
        gn, gv, gend = g[k]
        assert gn == n and gend == end
        assert abs(gv - v) < 1e-9


def test_dedup_stream(spark, tmp_path):
    path = str(tmp_path / "dups")
    rows = [
        (1, "2026-01-01 00:00:00", "a"),
        (1, "2026-01-01 00:05:00", "a"),  # dup of key 'a' within watermark
        (2, "2026-01-01 00:01:00", "b"),
        (3, "2026-01-01 00:02:00", "a"),  # same key col value, same dedup key
    ]
    (
        spark.createDataFrame(rows, "id long, ts_s string, k string")
        .select("id", F.to_timestamp("ts_s").alias("ts"), "k")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
    stream = spark.readStream.schema("id long, ts timestamp, k string").parquet(path)
    out = dedup_stream(stream, ["k"], watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 120)
    res = spark.table("dedup_out").collect()
    assert sorted(r["k"] for r in res) == ["a", "b"]


@pytest.fixture(scope="module")
def replay_dir_full(spark, tmp_path_factory):
    """Full event rows + far-future sentinel (for the transition op)."""
    path = str(tmp_path_factory.mktemp("events_replay_full"))
    ev = load(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    sentinel = spark.createDataFrame(
        [(-1, -1, "view")], "user_id long, event_id long, event_type string"
    ).select(
        "user_id",
        F.to_timestamp(F.lit("2031-01-01 00:00:00")).alias("ts"),
        "event_id",
        "event_type",
    )
    ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_transition_stream_matches_batch_lag(spark, replay_dir_full, tmp_path):
    from binance_data_ingestor_spark.streaming.stateful import (
        transition_counts_stream,
    )

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_id long, event_type string"
    ).parquet(replay_dir_full)
    out = transition_counts_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("transitions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_trans"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 300)

    streamed = {
        ((r.user_id, r.prev_type, r.event_type)): r.n
        for r in spark.table("transitions_out")
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id", "prev_type", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    ev = load(spark, SF_DIR, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    batch = {
        ((r.user_id, r.prev_type, r.event_type)): r.n
        for r in ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            "event_type",
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("user_id", "prev_type", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert streamed == batch


def test_rolling_window_stream_matches_batch_multibatch(spark, tmp_path):
    """Streaming trailing-24h sum/count/max ≡ the batch RANGE window,
    under a 2-file replay split mid-range so most frames straddle the
    batch boundary (the context-retention path: rows already emitted
    must stay in state while future events still need them)."""
    ev = load(spark, SF_DIR, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    lo, hi = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = lo + (hi - lo) / 2
    path = str(tmp_path / "in")
    ev.filter(F.col("ts") < F.lit(mid)).coalesce(1).write.parquet(path)
    ev.filter(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    sent = spark.createDataFrame([("__wm__",)], "event_type string").select(
        "event_type",
        F.to_timestamp(F.lit("2031-01-01")).alias("ts"),
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(0.0).alias("value"),
    )
    sent.coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(
            "event_type string, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    out = rolling_window_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("rolling_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 300)
    got = {
        r["event_id"]: (
            round(r["rolling_sum"], 2),
            r["rolling_n"],
            round(r["rolling_max"], 2),
        )
        for r in spark.table("rolling_out")
        .filter(F.col("key") != "__wm__")
        .collect()
    }
    w = (
        W.partitionBy("event_type")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-86_400, 0)
    )
    expected = {
        r["event_id"]: (r["s"], r["n"], r["m"])
        for r in ev.select(
            "event_id",
            F.round(F.sum("value").over(w), 2).alias("s"),
            F.count("*").over(w).alias("n"),
            F.round(F.max("value").over(w), 2).alias("m"),
        ).collect()
    }
    assert len(got) == len(expected) > 0
    assert got == expected


# -- the certificates' shared replay harness and gate (queries/util) ---------


@pytest.mark.parametrize(
    "streamed, batch, diverged",
    [
        # same distinct rows, different multiplicities: a set compare
        # would pass, the multiset gate must not
        ([(1, "a"), (1, "a"), (2, "b")], [(1, "a"), (2, "b"), (2, "b")], 2),
        # NULLs group NULL-safely, duplicates included
        ([(1, None), (None, "x"), (None, "x")], [(None, "x"), (1, None), (None, "x")], 0),
        # batch columns are matched by name, not position
        ([(1, "a"), (2, "b")], "swap", 0),
    ],
    ids=["counts_differ", "nulls", "column_order"],
)
def test_stream_gate_is_multiset_equality(spark, streamed, batch, diverged):
    from binance_data_ingestor_spark.queries.util import (
        assert_stream_matches_batch,
    )

    s = spark.createDataFrame(streamed, "k long, v string")
    b = (
        s.select("v", "k")
        if batch == "swap"
        else spark.createDataFrame(batch, "k long, v string")
    )
    if diverged:
        with pytest.raises(AssertionError, match=f"qtest: .* {diverged} distinct rows"):
            assert_stream_matches_batch("qtest", s, b)
    else:
        assert_stream_matches_batch("qtest", s, b)


def test_final_snapshot_keeps_highest_n_processed_per_key(spark):
    from binance_data_ingestor_spark.queries.util import final_snapshot

    snaps = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 30), ("b", 4, 5), ("b", 5, 2)],
        "key string, item long, n_processed long",
    )
    got = sorted(tuple(r) for r in final_snapshot(snaps, "key").collect())
    assert got == [("a", 2, 30), ("a", 3, 30), ("b", 4, 5)]


def test_replay_stream_restores_conf_and_scratch_when_build_raises(
    spark, tmp_path, monkeypatch
):
    import os

    from binance_data_ingestor_spark.queries.util import replay_stream

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "5")
    spark.conf.set(keys[1], "false")
    seen = {}

    def build(stream):
        seen["conf"] = {k: spark.conf.get(k) for k in keys}
        seen["scratch"] = [
            d for d in os.listdir(tmp_path) if d.startswith("harness_t_")
        ]
        raise ValueError("build failed")

    try:
        with pytest.raises(ValueError, match="build failed"):
            replay_stream(
                spark,
                str(tmp_path),
                "harness_t",
                lambda w: spark.range(3).write.parquet(f"{w}/in"),
                {"in": "id long"},
                build,
            )
        # the replay ran under the pinned settings with its own scratch
        assert seen["conf"] == {keys[0]: "8", keys[1]: "true"}
        assert len(seen["scratch"]) == 1
        # ... and both were undone although build raised
        assert {k: spark.conf.get(k) for k in keys} == {
            keys[0]: "5",
            keys[1]: "false",
        }
        assert not os.path.exists(tmp_path / seen["scratch"][0])
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_snapshot_driver_drops_timed_out_key_without_emitting(spark, tmp_path):
    """Key ``a`` goes idle past the TTL once ``b``'s file pushes the
    watermark a year ahead: ``_snapshot_stream`` must free its state
    and emit nothing, so ``a``'s next data starts a fresh count (2, not
    3 + 2), and neither expiry (``a`` in batch 2, ``b`` in batch 3)
    adds a snapshot row."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from binance_data_ingestor_spark.queries.util import (
        replay_stream,
        stagger_replay_mtimes,
    )
    from binance_data_ingestor_spark.streaming.stateful import flag_counter_stream

    def _write(work: str) -> None:
        os.makedirs(f"{work}/in")
        batches = [("a", 3, 2030), ("b", 1, 2031), ("a", 2, 2031)]
        for i, (seg, n, year) in enumerate(batches):
            ts = dt.datetime(year, 1, 1, tzinfo=dt.timezone.utc)
            pq.write_table(
                pa.table(
                    {
                        "seg": [seg] * n,
                        "y": [1] * n,
                        "ts": pa.array([ts] * n, pa.timestamp("us", tz="UTC")),
                    }
                ),
                f"{work}/in/part-{i:05d}.parquet",
            )
        stagger_replay_mtimes(f"{work}/in")

    out = replay_stream(
        spark,
        str(tmp_path),
        "snapshot_ttl",
        _write,
        {"in": "seg string, y long, ts timestamp"},
        lambda stream: flag_counter_stream(stream, ["seg"], flag_col="y"),
        files_per_trigger=1,
    )
    got = sorted((r.seg, r.n, r.n_processed) for r in out.collect())
    assert got == [("a", 2, 2), ("a", 3, 3), ("b", 1, 1)]
