"""Streaming dedup-on-ingest (streaming/dedup_ingest.py): equivalence
with the batch incremental path, per-epoch idempotence, and store
growth across restarts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from binance_data_ingestor_spark.queries.util import load
from binance_data_ingestor_spark.streaming.dedup_ingest import (
    batch_signatures,
    run_dedup_ingest,
    signature_match_pairs,
)

SF = "/root/testdata/sf0.001"


def _write_batch(spark, docs, path: str, mtime: float) -> None:
    # one physical parquet FILE per batch so maxFilesPerTrigger=1 maps
    # one input file -> one epoch; mtimes force the pickup order
    docs.coalesce(1).write.mode("overwrite").parquet(path + ".tmp")
    part = [f for f in os.listdir(path + ".tmp") if f.endswith(".parquet")][0]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.rename(os.path.join(path + ".tmp", part), path)
    os.utime(path, (mtime, mtime))


@pytest.fixture()
def ingest_dirs(tmp_path):
    return {
        "input": str(tmp_path / "in"),
        "store": str(tmp_path / "store"),
        "dupes": str(tmp_path / "dupes"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def test_streaming_matches_batch_incremental(spark, ingest_dirs):
    docs = load(spark, SF, "documents")
    splits = [
        docs.filter(F.col("doc_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    os.makedirs(ingest_dirs["input"], exist_ok=True)
    base = 1_700_000_000
    for i, part in enumerate(splits):
        _write_batch(
            spark, part, os.path.join(ingest_dirs["input"], f"b{i}.parquet"), base + i
        )

    run_dedup_ingest(
        spark,
        ingest_dirs["input"],
        ingest_dirs["store"],
        ingest_dirs["dupes"],
        ingest_dirs["ckpt"],
    )

    # store: one epoch per input file, signatures identical to batch-mode
    epochs = sorted(os.listdir(ingest_dirs["store"]))
    assert epochs == ["epoch=0", "epoch=1", "epoch=2"]
    store = spark.read.parquet(ingest_dirs["store"])
    assert store.count() == sum(s.count() for s in splits)

    # dupes: epoch k must equal the batch-mode probe of split k against
    # the union of splits < k (same signatures, same banding)
    for k in (1, 2):
        got_df = spark.read.parquet(os.path.join(ingest_dirs["dupes"], f"epoch={k}"))
        got = {(r.id_a, r.id_b, r.est_jaccard) for r in got_df.collect()}
        older = splits[0] if k == 1 else splits[0].unionByName(splits[1])
        want_df = signature_match_pairs(
            batch_signatures(splits[k]), batch_signatures(older)
        )
        want = {(r.id_a, r.id_b, r.est_jaccard) for r in want_df.collect()}
        assert got == want
        # increment probes the corpus, never itself
        batch_ids = {r.doc_id for r in splits[k].select("doc_id").collect()}
        assert all(a in batch_ids and b not in batch_ids for a, b, _ in got)

    # epoch 0 has no corpus to probe -> no dupes partition
    assert not os.path.isdir(os.path.join(ingest_dirs["dupes"], "epoch=0"))


def test_crash_redelivery_converges(spark, ingest_dirs):
    """The exactly-once argument, exercised directly on the foreachBatch
    body: (a) a fully-processed epoch redelivered after a crash-before-
    checkpoint is a no-op; (b) a crash BETWEEN the dupes write and the
    store write (store partition missing) recomputes the dupes output
    byte-identically and then completes the store write."""
    import shutil

    from binance_data_ingestor_spark.streaming.dedup_ingest import make_processor

    docs = load(spark, SF, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0).localCheckpoint(eager=True)
    second = docs.filter(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)
    store, dupes = ingest_dirs["store"], ingest_dirs["dupes"]
    process = make_processor(store, dupes)

    process(first, 0)
    process(second, 1)
    dupes1 = spark.read.parquet(os.path.join(dupes, "epoch=1"))
    want = {tuple(r) for r in dupes1.collect()}
    sig1 = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(store, "epoch=1")).collect()
    }

    # (a) full redelivery of a committed epoch: no-op
    process(second, 1)
    assert {
        tuple(r)
        for r in spark.read.parquet(os.path.join(dupes, "epoch=1")).collect()
    } == want

    # (b) crash between dupes write and store write: store partition
    # gone, dupes present — redelivery must converge to the same state
    shutil.rmtree(os.path.join(store, "epoch=1"))
    process(second, 1)
    assert {
        tuple(r)
        for r in spark.read.parquet(os.path.join(dupes, "epoch=1")).collect()
    } == want
    assert {
        tuple(r)
        for r in spark.read.parquet(os.path.join(store, "epoch=1")).collect()
    } == sig1

    # (c) crash DURING the store write: directory present but
    # uncommitted (no _SUCCESS, partial/_temporary files). A dir-exists
    # probe would skip forever with a corrupt store; the _SUCCESS probe
    # must clean up and redo the epoch.
    ep1 = os.path.join(store, "epoch=1")
    os.remove(os.path.join(ep1, "_SUCCESS"))
    for f in os.listdir(ep1):
        if f.endswith(".parquet"):
            os.remove(os.path.join(ep1, f))
            break
    os.makedirs(os.path.join(ep1, "_temporary"), exist_ok=True)
    process(second, 1)
    assert {
        tuple(r)
        for r in spark.read.parquet(os.path.join(store, "epoch=1")).collect()
    } == sig1

    # (d) the ADVICE crash window: FIRST delivery dies during the store
    # write BEFORE the dupes output exists (simulated: partial
    # uncommitted store dir, dupes partition absent). Redelivery must
    # produce the dupes output, not skip it permanently.
    shutil.rmtree(os.path.join(dupes, "epoch=1"))
    os.remove(os.path.join(ep1, "_SUCCESS"))
    process(second, 1)
    assert {
        tuple(r)
        for r in spark.read.parquet(os.path.join(dupes, "epoch=1")).collect()
    } == want
    assert {
        tuple(r)
        for r in spark.read.parquet(os.path.join(store, "epoch=1")).collect()
    } == sig1


def test_restart_processes_only_new_files(spark, ingest_dirs):
    docs = load(spark, SF, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0).localCheckpoint(eager=True)
    second = docs.filter(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)
    os.makedirs(ingest_dirs["input"], exist_ok=True)
    _write_batch(
        spark, first, os.path.join(ingest_dirs["input"], "a.parquet"), 1_700_000_000
    )
    run_dedup_ingest(
        spark,
        ingest_dirs["input"],
        ingest_dirs["store"],
        ingest_dirs["dupes"],
        ingest_dirs["ckpt"],
    )
    assert sorted(os.listdir(ingest_dirs["store"])) == ["epoch=0"]
    sig0 = spark.read.parquet(os.path.join(ingest_dirs["store"], "epoch=0"))
    fingerprint = {tuple(r) for r in sig0.collect()}

    # second run with the SAME checkpoint: only the new file becomes an
    # epoch; epoch 0's store partition is untouched (idempotence)
    _write_batch(
        spark, second, os.path.join(ingest_dirs["input"], "b.parquet"), 1_700_000_001
    )
    run_dedup_ingest(
        spark,
        ingest_dirs["input"],
        ingest_dirs["store"],
        ingest_dirs["dupes"],
        ingest_dirs["ckpt"],
    )
    assert sorted(os.listdir(ingest_dirs["store"])) == ["epoch=0", "epoch=1"]
    sig0_after = spark.read.parquet(os.path.join(ingest_dirs["store"], "epoch=0"))
    assert {tuple(r) for r in sig0_after.collect()} == fingerprint
    # the new epoch's probe ran against epoch 0
    dupes = spark.read.parquet(os.path.join(ingest_dirs["dupes"], "epoch=1"))
    want = signature_match_pairs(batch_signatures(second), batch_signatures(first))
    assert {tuple(r) for r in dupes.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_overrunning_ingest_stops_and_raises(spark, ingest_dirs, monkeypatch):
    """A run that outlives the timeout must not return as if it had
    drained: the caller would read a partial store and remove the
    directory of a query still writing it. It stops the query and
    raises instead."""
    from binance_data_ingestor_spark.streaming import dedup_ingest

    docs = load(spark, SF, "documents")
    _write_batch(
        spark, docs, os.path.join(ingest_dirs["input"], "a.parquet"), 1_700_000_000
    )
    monkeypatch.setattr(dedup_ingest, "TIMEOUT_SEC", 0.001)
    with pytest.raises(RuntimeError, match="timed out"):
        run_dedup_ingest(
            spark,
            ingest_dirs["input"],
            ingest_dirs["store"],
            ingest_dirs["dupes"],
            ingest_dirs["ckpt"],
        )
    assert spark.streams.active == []
