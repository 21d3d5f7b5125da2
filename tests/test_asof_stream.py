"""Streaming as-of enrichment ≡ batch asof_join on identical data.

The J1 story's streaming twin (SURVEY §2.5): the reference's mid-price
consumer is conceptually a live trades⟕book as-of join; these tests
replay a fixture through ``asof_enrich_stream`` and assert multiset
equality with ``operators/asof.asof_join(direction="backward")`` —
including the equal-timestamp tie rule, the tolerance NULL-out, and
out-of-order multi-batch delivery.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from binance_data_ingestor_spark.operators.asof import asof_join
from binance_data_ingestor_spark.queries.util import load
from binance_data_ingestor_spark.streaming.asof_enrich import asof_enrich_stream

from conftest import drain

SF_DIR = "/root/testdata/sf0.001"

_L_SCHEMA = "user_id long, ts timestamp, value double"
_R_SCHEMA = "user_id long, ts timestamp, ref double"


def _fixture(spark):
    """Facts = click/view events, state = purchase events (same users,
    interleaved timestamps — plenty of tie/stale structure)."""
    ev = load(spark, SF_DIR, "events")
    left = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("ref")
    )
    return left, right


def _sentinel(spark):
    return spark.createDataFrame(
        [(-1,)], "user_id long"
    ).select(
        "user_id",
        F.to_timestamp(F.lit("2031-01-01 00:00:00")).alias("ts"),
        F.lit(0.0).alias("value"),
    )


def _run_stream(spark, tmp_path, l_dir, r_dir, tolerance=None, max_files="1000"):
    l_stream = (
        spark.readStream.schema(_L_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(l_dir)
    )
    r_stream = (
        spark.readStream.schema(_R_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(r_dir)
    )
    out = asof_enrich_stream(
        l_stream,
        r_stream,
        on="ts",
        by="user_id",
        value_cols=["ref"],
        tolerance=tolerance,
    )
    name = f"asof_out_{tmp_path.name}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 300)
    return spark.table(name).filter(F.col("user_id") >= 0)


def _multiset(df):
    return sorted(
        (r["user_id"], r["ts"], r["value"], r["asof_ref"])
        for r in df.collect()
    )


@pytest.mark.parametrize("tolerance", [None, 7200.0])
def test_asof_stream_matches_batch(spark, tmp_path, tolerance):
    left, right = _fixture(spark)
    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")
    left.unionByName(_sentinel(spark)).coalesce(1).write.parquet(l_dir)
    right.coalesce(1).write.parquet(r_dir)

    got = _run_stream(spark, tmp_path, l_dir, r_dir, tolerance=tolerance)
    expected = asof_join(
        left,
        right,
        on="ts",
        by="user_id",
        value_cols=["ref"],
        tolerance=tolerance,
        direction="backward",
    )
    g, e = _multiset(got), _multiset(expected)
    assert len(e) > 0
    assert g == e
    if tolerance is not None:
        # the fixture must actually exercise BOTH branches
        refs = [x[3] for x in e]
        assert any(v is None for v in refs) and any(v is not None for v in refs)


def test_asof_stream_ties_and_groups(spark, tmp_path):
    """Hand fixture pinning the tie rule (state at the same instant is
    visible) and group isolation — compared against the batch operator
    AND literal expectations."""
    base = "2024-01-01 00:0{m}:00"
    left = spark.createDataFrame(
        [
            (1, base.format(m=0), 10.0),  # before any state -> NULL
            (1, base.format(m=2), 11.0),  # state@2 is a tie -> 5.0
            (1, base.format(m=5), 12.0),  # latest <=5 is state@4 -> 7.0
            (2, base.format(m=3), 13.0),  # other group's state only
        ],
        "user_id long, ts string, value double",
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "value")
    right = spark.createDataFrame(
        [
            (1, base.format(m=2), 5.0),
            (1, base.format(m=4), 7.0),
            (2, base.format(m=1), 9.0),
        ],
        "user_id long, ts string, ref double",
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "ref")

    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")
    left.unionByName(_sentinel(spark)).coalesce(1).write.parquet(l_dir)
    right.coalesce(1).write.parquet(r_dir)

    got = _run_stream(spark, tmp_path, l_dir, r_dir)
    by_val = {r["value"]: r["asof_ref"] for r in got.collect()}
    assert by_val == {10.0: None, 11.0: 5.0, 12.0: 7.0, 13.0: 9.0}
    assert _multiset(got) == _multiset(
        asof_join(left, right, on="ts", by="user_id", value_cols=["ref"])
    )


def test_asof_stream_multibatch_out_of_order(spark, tmp_path):
    """Files delivered one per trigger, time-split so the RIGHT stream
    lags the left by 20 minutes (inside the 30-minute watermark): state
    rows for the (T−20m, T) window arrive AFTER the fact rows they must
    enrich — the cross-stream reordering the keyed buffer exists for —
    and the result must still equal batch."""
    left, right = _fixture(spark)
    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")

    lo, hi = left.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    mid = lo + (hi - lo) / 2
    r_cut = mid - __import__("datetime").timedelta(minutes=20)

    left.filter(F.col("ts") < F.lit(mid)).coalesce(1).write.parquet(l_dir)
    left.filter(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(l_dir)
    _sentinel(spark).coalesce(1).write.mode("append").parquet(l_dir)
    right.filter(F.col("ts") < F.lit(r_cut)).coalesce(1).write.parquet(r_dir)
    right.filter(F.col("ts") >= F.lit(r_cut)).coalesce(1).write.mode(
        "append"
    ).parquet(r_dir)

    got = _run_stream(spark, tmp_path, l_dir, r_dir, max_files="1")
    expected = asof_join(
        left, right, on="ts", by="user_id", value_cols=["ref"]
    )
    assert _multiset(got) == _multiset(expected)


def test_asof_stream_typed_value_and_payload_cols(spark, tmp_path):
    """Integer and string value/payload columns ride through keyed
    state intact — the '_kind' coercion paths ('i' for nullable ints
    that pandas floats, 'o' for strings) that the double-only fixture
    never touches."""
    left = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00", 100, "a"),
            (1, "2024-01-01 00:20:00", 200, "b"),
            (2, "2024-01-01 00:10:00", 300, "c"),
        ],
        "user_id long, ts string, qty long, tag string",
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "qty", "tag")
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:04:00", 7, "s1"),
            (1, "2024-01-01 00:15:00", 8, "s2"),
        ],
        "user_id long, ts string, depth long, book string",
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "depth", "book")

    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")
    sent = spark.createDataFrame(
        [(-1,)], "user_id long"
    ).select(
        "user_id",
        F.to_timestamp(F.lit("2031-01-01 00:00:00")).alias("ts"),
        F.lit(0).cast("long").alias("qty"),
        F.lit("x").alias("tag"),
    )
    left.unionByName(sent).coalesce(1).write.parquet(l_dir)
    right.coalesce(1).write.parquet(r_dir)

    l_stream = spark.readStream.schema(
        "user_id long, ts timestamp, qty long, tag string"
    ).parquet(l_dir)
    r_stream = spark.readStream.schema(
        "user_id long, ts timestamp, depth long, book string"
    ).parquet(r_dir)
    out = asof_enrich_stream(
        l_stream, r_stream, on="ts", by="user_id",
        value_cols=["depth", "book"],
    )
    name = f"asof_typed_{tmp_path.name}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    drain(q, 300)
    rows = {
        (r["user_id"], r["qty"]): (r["tag"], r["asof_depth"], r["asof_book"])
        for r in spark.table(name).filter(F.col("user_id") >= 0).collect()
    }
    assert rows == {
        (1, 100): ("a", 7, "s1"),     # latest <= 00:05 is s1
        (1, 200): ("b", 8, "s2"),     # latest <= 00:20 is s2
        (2, 300): ("c", None, None),  # no state for user 2
    }
    # dtype integrity: longs stay longs through state
    schema = dict(spark.table(name).dtypes)
    assert schema["qty"] == "bigint" and schema["asof_depth"] == "bigint"


@pytest.mark.parametrize("seed", [7, 101])
def test_asof_stream_randomized_matches_batch(spark, tmp_path, seed):
    """Randomized replay: arbitrary interleaved fact/state rows across
    a handful of keys (including same-timestamp ties within and across
    sides) must match the batch operator as a multiset."""
    import random

    rng = random.Random(seed)
    base_s = 1_700_000_000
    lrows, rrows = [], []
    for _ in range(300):
        uid = rng.randrange(6)
        t = base_s + rng.randrange(0, 3600) * 60  # minute grid => ties
        if rng.random() < 0.5:
            lrows.append((uid, t, round(rng.uniform(0, 100), 2)))
        else:
            rrows.append((uid, t, round(rng.uniform(0, 100), 2)))
    # dedupe right rows on (uid, t): multiple state rows at the SAME
    # instant are ambiguous in BOTH engines (batch window order is
    # nondeterministic among them) — the operator documents this
    seen = set()
    rrows = [
        r for r in rrows if (r[0], r[1]) not in seen
        and not seen.add((r[0], r[1]))
    ]
    left = spark.createDataFrame(
        lrows, "user_id long, es long, value double"
    ).select("user_id", F.timestamp_seconds("es").alias("ts"), "value")
    right = spark.createDataFrame(
        rrows, "user_id long, es long, ref double"
    ).select("user_id", F.timestamp_seconds("es").alias("ts"), "ref")

    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")
    left.unionByName(_sentinel(spark)).coalesce(1).write.parquet(l_dir)
    right.coalesce(1).write.parquet(r_dir)
    got = _run_stream(spark, tmp_path, l_dir, r_dir, tolerance=1800.0)
    expected = asof_join(
        left, right, on="ts", by="user_id", value_cols=["ref"],
        tolerance=1800.0, direction="backward",
    )
    assert _multiset(got) == _multiset(expected)


def test_asof_stream_checkpoint_restart(spark, tmp_path):
    """Crash/restart durability: run 1 processes the early files and
    terminates (availableNow); run 2 shares the CHECKPOINT, resumes
    from the stored offsets + state store, and processes the late
    files. The combined emissions must equal the batch as-of exactly
    once — rows finalized in run 1 must not re-emit, and state rows
    carried across the restart must still enrich run-2 facts."""
    left, right = _fixture(spark)
    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")
    ckpt = str(tmp_path / "ckpt")

    lo, hi = left.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    mid = lo + (hi - lo) / 2

    # phase-1 files only
    left.filter(F.col("ts") < F.lit(mid)).coalesce(1).write.parquet(l_dir)
    right.filter(F.col("ts") < F.lit(mid)).coalesce(1).write.parquet(r_dir)

    out_dir = str(tmp_path / "out")

    def run():
        # file sink, not memory: the memory sink refuses checkpoint
        # recovery; the parquet sink resumes exactly-once via its
        # commit manifest — the same guarantee the engine's file sinks
        # document (SURVEY §2.6 T1)
        l_stream = spark.readStream.schema(_L_SCHEMA).parquet(l_dir)
        r_stream = spark.readStream.schema(_R_SCHEMA).parquet(r_dir)
        out = asof_enrich_stream(
            l_stream, r_stream, on="ts", by="user_id",
            value_cols=["ref"],
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        drain(q, 300)
        return [
            (r["user_id"], r["ts"], r["value"], r["asof_ref"])
            for r in spark.read.parquet(out_dir)
            .filter(F.col("user_id") >= 0)
            .collect()
        ]

    rows1 = run()

    # "crash" happened here; late files (+ sentinel) land, new query
    # resumes from the same checkpoint
    left.filter(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(l_dir)
    _sentinel(spark).coalesce(1).write.mode("append").parquet(l_dir)
    right.filter(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(r_dir)
    rows_all = run()

    expected = _multiset(
        asof_join(left, right, on="ts", by="user_id", value_cols=["ref"])
    )
    assert sorted(rows_all) == expected        # exactly once, state carried
    assert 0 < len(rows1) < len(rows_all)      # both phases emitted
