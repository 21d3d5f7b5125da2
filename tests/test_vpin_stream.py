"""Streaming VPIN volume clock: exact bucket-row equality vs a direct
Python fold on replay, whatever the file/batch boundaries.

The contract (streaming/stateful.vpin_stream): trades enter the
per-symbol volume clock in watermark-released (ts, event_id) order,
each assigned by its EXCLUSIVE cumulative volume at a FIXED bucket
volume; a bucket row emits exactly once when the clock crosses into
the next bucket, and a punctuation row (event_id < 0) flushes the
final partial bucket once every real trade has been released. The
q251 registry query certifies this against the fixed-volume batch
computation at sf scale; these tests pin the fold's semantics on
hand-checkable inputs.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from conftest import drain


def _python_fold(rows, v):
    """rows = (symbol, ts_ms, event_id, qc, bq), real trades only."""
    out = {}
    per = {}
    for sym, ts, eid, qc, bq in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        per.setdefault(sym, []).append((qc, bq))
    for sym, tr in per.items():
        cum, ob, n, buy, vol = 0, -1, 0, 0, 0
        for qc, bq in tr:
            b = cum // v
            if ob >= 0 and b != ob:
                out[(sym, ob)] = (n, buy, vol - buy)
                n = buy = vol = 0
            ob = b
            cum += qc
            n += 1
            buy += bq
            vol += qc
        if ob >= 0:
            out[(sym, ob)] = (n, buy, vol - buy)
    return out


def _replay(spark, rows, v, max_files, n_files=3):
    from binance_data_ingestor_spark.streaming.stateful import vpin_stream

    base = spark.createDataFrame(
        rows, "symbol string, ms long, event_id long, qc long, bq long"
    ).select(
        "symbol",
        F.timestamp_millis("ms").alias("ts"),
        "event_id",
        "qc",
        "bq",
    )
    sent = (
        base.select("symbol")
        .distinct()
        .select("symbol", F.lit("2031-01-01").alias("d"))
        .unionByName(
            base.sparkSession.sql(
                "SELECT '__WM_PUSH__' AS symbol, '2032-01-01' AS d"
            )
        )
        .select(
            "symbol",
            F.to_timestamp(F.col("d")).alias("ts"),
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(0).cast("long").alias("qc"),
            F.lit(0).cast("long").alias("bq"),
        )
    )
    work = tempfile.mkdtemp(prefix="vpin_stream_t_")
    try:
        # event-time-ordered files with staggered mtimes (the q251
        # harness convention): a batch never delivers rows older than
        # a prior batch's watermark, so nothing is late-dropped and
        # exact equality with the full fold is well-defined
        from binance_data_ingestor_spark.queries.util import (
            stagger_replay_mtimes,
        )

        base.unionByName(sent).repartitionByRange(
            n_files, "ts"
        ).write.mode("overwrite").parquet(f"{work}/in")
        stagger_replay_mtimes(f"{work}/in")
        stream = (
            spark.readStream.schema(
                "symbol string, ts timestamp, event_id long, qc long, bq long"
            )
            .option("maxFilesPerTrigger", str(max_files))
            .parquet(f"{work}/in")
        )
        q = (
            vpin_stream(stream, v, watermark="10 minutes")
            .writeStream.format("memory")
            .queryName("vpin_t")
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 300)
        got = {
            (r.symbol, r.bucket): (r.n_trades, r.buy_vol, r.sell_vol)
            for r in spark.table("vpin_t").collect()
            if r.symbol != "__WM_PUSH__"
        }
    finally:
        spark.catalog.dropTempView("vpin_t")
        shutil.rmtree(work, ignore_errors=True)
    return got


def test_vpin_stream_matches_python_fold(spark):
    """Two symbols, buy/sell mix, a bucket-boundary-exact trade, and a
    multi-bucket jump — identical to the Python fold at every file
    split (1 batch, and 3 batches with mid-stream watermark holds)."""
    t0 = 1_700_000_000_000
    rows = [
        # symbol A: qc pattern crosses bucket 0→1 exactly at 100
        ("A", t0 + 1_000, 1, 40, 40),
        ("A", t0 + 2_000, 2, 60, 0),     # cum_excl 40 → bucket 0
        ("A", t0 + 3_000, 3, 10, 10),    # cum_excl 100 → bucket 1 (exact)
        ("A", t0 + 4_000, 4, 250, 0),    # cum_excl 110 → bucket 1
        ("A", t0 + 5_000, 5, 5, 5),      # cum_excl 360 → bucket 3 (jump)
        # symbol B: single bucket only (flushed by punctuation)
        ("B", t0 + 1_500, 6, 30, 30),
        ("B", t0 + 2_500, 7, 20, 0),
    ]
    expected = _python_fold(rows, 100)
    # hand-check the tricky rows before trusting the fold
    assert expected[("A", 0)] == (2, 40, 60)
    assert expected[("A", 1)] == (2, 10, 250)
    assert expected[("A", 3)] == (1, 5, 0)
    assert expected[("B", 0)] == (2, 30, 20)
    for max_files in (100, 1):
        got = _replay(spark, rows, 100, max_files)
        assert got == expected, f"max_files={max_files}"


def test_vpin_stream_out_of_order_delivery(spark):
    """Rows shuffled across replay files must still enter the clock in
    (ts, event_id) order — the watermark buffer's whole job."""
    import random

    t0 = 1_700_000_000_000
    rng = random.Random(8)
    rows = [
        ("A", t0 + i * 1_000, i, 10 + (i % 7), (10 + (i % 7)) * (i % 2))
        for i in range(60)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    expected = _python_fold(rows, 80)
    got = _replay(spark, shuffled, 80, 1, n_files=5)
    assert got == expected
    assert len({b for _, b in got}) > 3  # the clock actually advanced
