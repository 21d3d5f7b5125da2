"""Streaming grouped Misra-Gries heavy hitters: batch-twin equality.

The streaming operator (streaming/stateful.heavy_hitters_stream) must,
on a bounded replay of the q88 token stream, yield a final per-key
summary whose candidate set — exactly recounted, as the batch operator
does — equals q88's exact heavy hitters, and whose (count_lb, max_err)
certificate brackets every true count.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from conftest import SF_SMOKE, drain

MIN_SHARE = 0.01


def _token_stream_replay(spark, grp_expr):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    static = docs.select(
        grp_expr.alias("grp"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    base = static.select(
        "grp",
        "token",
        F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
    )
    # watermark driver: a far-future row in a PRIVATE group, so the
    # groups under test receive no synthetic tokens
    sentinel = spark.sql(
        "SELECT '__wm__' grp, 'x' token, to_timestamp('2031-01-01') ts"
    )
    work = tempfile.mkdtemp(prefix="hh_stream_")
    base.unionByName(sentinel).coalesce(4).write.parquet(f"{work}/in")
    stream = (
        spark.readStream.schema("grp string, token string, ts timestamp")
        .option("maxFilesPerTrigger", "1000")
        .parquet(f"{work}/in")
    )
    return static, stream, work


def _run_replay(spark, stream, work, name, capacity):
    from binance_data_ingestor_spark.streaming.stateful import (
        heavy_hitters_stream,
    )

    out = heavy_hitters_stream(stream, ["grp"], "token", capacity=capacity)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name).filter(F.col("grp") != "__wm__").collect()


def test_heavy_hitters_stream_equals_q88_on_replay(spark):
    from binance_data_ingestor_spark.queries.profiling_ops import (
        HH_MIN_SHARE,
        q88_heavy_hitters,
    )

    capacity = max(int(2.0 / HH_MIN_SHARE), 16)
    static, stream, work = _token_stream_replay(spark, F.lit("all"))
    rows = _run_replay(spark, stream, work, "hh_twin_q88", capacity)
    assert rows, "stream emitted no summary"

    # final snapshot = highest n_processed (monotone emission contract)
    nmax = max(r.n_processed for r in rows)
    final = [r for r in rows if r.n_processed == nmax]

    true_counts = {
        r.token: r.cnt
        for r in static.groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    tot = sum(true_counts.values())
    assert nmax == tot  # every token was ingested exactly once

    # MG certificate: lb <= true <= lb + max_err, max_err <= n/(cap+1)
    for r in final:
        t = true_counts.get(r.item, 0)
        assert r.count_lb <= t <= r.count_lb + r.max_err
        assert r.max_err <= tot // (capacity + 1)

    # candidate recount (what the batch operator's second pass does)
    # then threshold == q88's exact answer
    cand = {r.item for r in final}
    got = sorted(
        (k, true_counts[k])
        for k in cand
        if true_counts[k] >= tot * HH_MIN_SHARE
    )
    expected = sorted(
        (r.token, r.cnt) for r in q88_heavy_hitters(spark, SF_SMOKE).collect()
    )
    assert got == expected


def test_heavy_hitters_stream_per_key_independence(spark):
    capacity = 64
    static, stream, work = _token_stream_replay(
        spark, (F.col("doc_id") % 2).cast("string")
    )
    rows = _run_replay(spark, stream, work, "hh_two_groups", capacity)
    groups = {r.grp for r in rows}
    assert groups == {"0", "1"}
    for g in sorted(groups):
        grows = [r for r in rows if r.grp == g]
        nmax = max(r.n_processed for r in grows)
        final = [r for r in grows if r.n_processed == nmax]
        true_counts = {
            r.token: r.cnt
            for r in static.filter(F.col("grp") == g)
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        tot = sum(true_counts.values())
        assert nmax == tot
        for r in final:
            t = true_counts.get(r.item, 0)
            assert r.count_lb <= t <= r.count_lb + r.max_err
            assert r.max_err <= tot // (capacity + 1)


def test_heavy_hitters_stream_multibatch_state_merge(spark):
    """Replay with maxFilesPerTrigger=1 so the MG state is built across
    SEVERAL micro-batches (cross-batch counter merge + intermediate
    snapshot emissions), and check (a) snapshots are monotone in
    n_processed, (b) the FINAL snapshot carries the full-stream
    certificate and its candidates recount to the exact heavy hitters —
    i.e. batch-boundary placement does not change the answer."""
    from binance_data_ingestor_spark.operators.frequent import heavy_hitters
    from binance_data_ingestor_spark.streaming.stateful import (
        heavy_hitters_stream,
    )

    capacity = 64
    min_share = 1.0 / (capacity // 2)
    static, _, work = _token_stream_replay(spark, F.lit("all"))
    stream = (
        spark.readStream.schema("grp string, token string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{work}/in")
    )
    out = heavy_hitters_stream(stream, ["grp"], "token", capacity=capacity)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("hh_multibatch")
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt_mb")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = (
        spark.table("hh_multibatch").filter(F.col("grp") == "all").collect()
    )
    assert rows
    true_counts = {
        r.token: r.cnt
        for r in static.groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    tot = sum(true_counts.values())
    snap_totals = sorted({r.n_processed for r in rows})
    assert snap_totals[-1] == tot  # final snapshot saw every token
    final = [r for r in rows if r.n_processed == tot]
    for r in final:
        t = true_counts.get(r.item, 0)
        assert r.count_lb <= t <= r.count_lb + r.max_err
        assert r.max_err <= tot // (capacity + 1)
    cand = {r.item for r in final}
    got = sorted(
        (k, true_counts[k])
        for k in cand
        if true_counts[k] >= tot * min_share
    )
    expected = sorted(
        (r.token, r.cnt)
        for r in heavy_hitters(
            static.select("token"), "token", min_share
        ).collect()
    )
    assert got == expected


def test_mg_ingest_certificate_randomized():
    import random

    from binance_data_ingestor_spark.operators.frequent import mg_ingest

    rng = random.Random(7)
    # zipf-ish stream over a vocab larger than capacity
    stream = [f"t{int(rng.paretovariate(1.2))}" for _ in range(5000)]
    counters: dict = {}
    n, dec = mg_ingest(counters, stream, 32)
    assert n == len(stream)
    assert len(counters) <= 32
    assert dec <= n // 33
    from collections import Counter

    true = Counter(stream)
    for item, c in true.items():
        lb = counters.get(item, 0)
        assert lb <= c <= lb + dec
        if c > n // 33:  # guaranteed survivor
            assert item in counters
