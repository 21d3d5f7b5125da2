"""Streaming XOR snapshot digest: EXACT batch-twin equality on replay.

bit_xor is a commutative monoid, so the final streaming snapshot
(streaming/stateful.xor_digest_stream) must equal the batch bit_xor
EXACTLY — digest AND count, per key — whatever the batch/file
boundaries (the q211 contract). These tests pin multi-batch boundary
invariance, per-key independence, and the self-inverse hazard (an even
number of IDENTICAL rows cancels — which is why q209/q211 hash row
IDENTITY, not bare content).
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile

from pyspark.sql import functions as F

from conftest import SF_SMOKE, drain


def _rows(spark):
    from binance_data_ingestor_spark.operators.kmv import u60_sql

    key = "concat(CAST(doc_id AS STRING), ':', coalesce(text, ''))"
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "source", F.expr(u60_sql("spark", key)).alias("h")
    )


def _replay(spark, df, name, max_files):
    from binance_data_ingestor_spark.streaming.stateful import (
        xor_digest_stream,
    )

    base = df.withColumn("ts", F.to_timestamp(F.lit("2030-01-01 00:00:00")))
    sentinel = spark.sql(
        "SELECT '__wm__' source, CAST(0 AS BIGINT) h,"
        " to_timestamp('2031-01-01') ts"
    )
    work = tempfile.mkdtemp(prefix="xds_")
    base.unionByName(sentinel).repartition(6).write.parquet(f"{work}/in")
    stream = (
        spark.readStream.schema("source string, h long, ts timestamp")
        .option("maxFilesPerTrigger", str(max_files))
        .parquet(f"{work}/in")
    )
    out = xor_digest_stream(stream, ["source"], hash_col="h")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 300)
        snap = spark.table(name).filter(F.col("source") != "__wm__").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        with contextlib.suppress(Exception):
            spark.catalog.dropTempView(name)
        shutil.rmtree(work, ignore_errors=True)
    fin = {}
    for r in snap:
        if r.n_processed >= fin.get(r.source, (-1, 0))[0]:
            fin[r.source] = (r.n_processed, r.digest)
    return {s: d for s, (_, d) in fin.items()}, {
        s: n for s, (n, _) in fin.items()
    }


def _batch_digest(spark, df):
    return {
        r["source"]: (r["digest"], r["n"])
        for r in df.groupBy("source")
        .agg(F.expr("bit_xor(h)").alias("digest"), F.count("*").alias("n"))
        .collect()
    }


def test_stream_digest_equals_batch_one_trigger(spark):
    df = _rows(spark)
    want = _batch_digest(spark, df)
    got_d, got_n = _replay(spark, df, "xds_one", max_files=1000)
    assert got_d == {s: d for s, (d, _) in want.items()}
    assert got_n == {s: n for s, (_, n) in want.items()}


def test_stream_digest_batch_boundary_invariance(spark):
    # one file per trigger must produce the same FINAL digest as one
    # big trigger — the monoid-fold boundary-invariance certificate
    df = _rows(spark)
    d_many, n_many = _replay(spark, df, "xds_many", max_files=1)
    d_one, n_one = _replay(spark, df, "xds_one2", max_files=1000)
    assert d_many == d_one and n_many == n_one


def test_identical_rows_cancel_is_why_identity_keys_the_fold(spark):
    # two IDENTICAL hashes XOR to zero contribution — the self-inverse
    # property q209 defuses by hashing (doc_id, text) row identity
    df = spark.createDataFrame(
        [("s", 7), ("s", 7), ("s", 9)], "source string, h long"
    )
    got_d, got_n = _replay(spark, df, "xds_cancel", max_files=1000)
    assert got_d == {"s": 9}  # the pair of 7s cancelled
    assert got_n == {"s": 3}  # ...but both deliveries were counted
