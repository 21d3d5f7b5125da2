"""Streaming KMV sketch: EXACT batch-twin equality on replay.

The k-minimum set of a multiset is order-independent, so the final
streaming snapshot (streaming/stateful.kmv_stream) must equal the batch
kmv_sketch EXACTLY — hash AND item, per key — whatever the batch/file
boundaries. That is a stronger contract than the MG/HLL twins (which
certify via recount or error bands); these tests pin it across
multi-batch replays, per-key independence, and duplicate delivery.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from conftest import SF_SMOKE, drain

K = 64


def _labeled_rows(spark):
    """(lab, h, item) rows: three overlapping order-key sets, the q199
    shape at smoke scale."""
    from binance_data_ingestor_spark.operators.kmv import u60

    return (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select(
            F.col("o_orderkey").cast("string").alias("item"),
            (F.col("o_totalprice") > 120000.0).alias("in_a"),
            (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).alias("in_b"),
        )
        .withColumn("h", u60("item"))
        .select(
            F.explode(
                F.array_compact(
                    F.array(
                        F.when(F.col("in_a"), F.lit("a")),
                        F.when(F.col("in_b"), F.lit("b")),
                        F.lit("u"),
                    )
                )
            ).alias("lab"),
            "h",
            "item",
        )
    )


def _replay(spark, df, name, max_files, k=K):
    """Write df (+ watermark sentinel) as replay input, run kmv_stream
    with maxFilesPerTrigger=max_files, return the final (highest
    n_processed) snapshot rows per label as {lab: set[(h, item)]} plus
    {lab: n_processed}."""
    from binance_data_ingestor_spark.streaming.stateful import kmv_stream

    base = df.withColumn(
        "ts", F.to_timestamp(F.lit("2030-01-01 00:00:00"))
    )
    sentinel = spark.sql(
        "SELECT '__wm__' lab, CAST(0 AS BIGINT) h, 'x' item,"
        " to_timestamp('2031-01-01') ts"
    )
    work = tempfile.mkdtemp(prefix="kmv_stream_")
    base.unionByName(sentinel).repartition(6).write.parquet(f"{work}/in")
    stream = (
        spark.readStream.schema("lab string, h long, item string, ts timestamp")
        .option("maxFilesPerTrigger", str(max_files))
        .parquet(f"{work}/in")
    )
    out = kmv_stream(stream, ["lab"], "item", hash_col="h", k=k)
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
    rows = spark.table(name).filter(F.col("lab") != "__wm__").collect()
    assert rows, "stream emitted no snapshot"
    nmax: dict = {}
    for r in rows:
        nmax[r.lab] = max(nmax.get(r.lab, -1), r.n_processed)
    final = {
        lab: {(r.h, r.item) for r in rows if r.lab == lab and r.n_processed == n}
        for lab, n in nmax.items()
    }
    return final, nmax


def _batch_sketch(df, lab, k=K):
    rows = (
        df.filter(F.col("lab") == lab)
        .orderBy("h", "item")
        .limit(k)
        .collect()
    )
    return {(r.h, r.item) for r in rows}


def test_kmv_stream_equals_batch_exactly_multibatch(spark):
    """maxFilesPerTrigger=1 ⇒ the state is merged across ~7
    micro-batches; the final snapshot must STILL equal the batch
    k-minimum set exactly, for every label."""
    df = _labeled_rows(spark)
    final, nmax = _replay(spark, df, "kmv_mb", max_files=1)
    counts = {
        r.lab: r.cnt
        for r in df.groupBy("lab").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(final) == {"a", "b", "u"}
    for lab in final:
        assert nmax[lab] == counts[lab]  # every row ingested exactly once
        assert final[lab] == _batch_sketch(df, lab)
        assert len(final[lab]) == min(K, counts[lab])


def test_kmv_stream_single_batch_same_answer(spark):
    """Batch-boundary invariance: one big trigger gives the identical
    final sketch as the multi-batch replay (both equal the batch
    k-minimum, so transitively each other)."""
    df = _labeled_rows(spark)
    final, _ = _replay(spark, df, "kmv_one", max_files=1000)
    for lab in final:
        assert final[lab] == _batch_sketch(df, lab)


def test_kmv_kernel_fold_equals_batch_kminimum_property():
    """Property (hypothesis): folding ANY (hash, item) multiset through
    the KMV step in ANY batch split yields exactly the batch k-minimum
    of the distinct pairs, in both the carried state and the emitted
    snapshot, and n_processed counts every delivered row — the
    invariant the q199 certificate rests on."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from binance_data_ingestor_spark.streaming.stateful import _kmv_step

    pair = st.tuples(
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=0, max_value=20).map(str),
    )

    @given(
        pairs=st.lists(pair, min_size=1, max_size=120),
        k=st.integers(min_value=1, max_value=16),
        data=st.data(),
    )
    @settings(max_examples=200, deadline=None)
    def prop(pairs, k, data):
        step = _kmv_step("h", "item", k)
        n_batches = data.draw(st.integers(min_value=1, max_value=5))
        batches = [pairs[i::n_batches] for i in range(n_batches)]
        state = snap = None
        for b in batches:
            pdf = pd.DataFrame({"h": [p[0] for p in b], "item": [p[1] for p in b]})
            snap, state = step(state, iter([pdf]))
        want = sorted(set(pairs))[:k]
        hs, its, n = state
        assert list(zip(hs, its)) == want
        assert n == len(pairs)
        # the snapshot emitted with the last batch is the final sketch
        # (the carried pairs keep it non-empty)
        assert list(zip(snap["h"], snap["item"])) == want
        assert snap["n_processed"] == [len(pairs)] * len(want)

    prop()


def test_kmv_stream_dedupes_repeated_items(spark):
    """Every row delivered twice (copies in different files): a repeated
    (h, item) occupies ONE slot — the final sketch still equals the
    distinct batch sketch, while n_processed counts both deliveries."""
    df = _labeled_rows(spark).filter(F.col("lab") == "u")
    doubled = df.unionByName(df)
    final, nmax = _replay(spark, doubled, "kmv_dup", max_files=2)
    n_rows = df.count()
    assert nmax["u"] == 2 * n_rows
    assert final["u"] == _batch_sketch(df, "u")
    assert len(final["u"]) == min(K, n_rows)
