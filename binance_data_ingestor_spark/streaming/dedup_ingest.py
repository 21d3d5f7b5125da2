"""Streaming dedup-on-ingest: the streaming twin of q153's incremental
near-dup detection.

New document files land in a directory; each micro-batch computes
MinHash signatures for its documents, probes them against the
MAINTAINED corpus signature store through the same LSH band buckets as
the batch path (``operators/dedup.band_struct_array`` — both bucket
identically by construction), emits candidate near-dup pairs with the
minhash-estimated Jaccard, and appends its signatures to the store.

Scale properties:
- The batch only ever joins against the SIGNATURE store (K small
  columns per corpus doc), never corpus text — the increment×corpus
  bucket join is the q153 shape; the corpus never self-joins.
- Similarity on the streaming path is the minhash ESTIMATE (matching
  hash fraction — exact integer count over a constant, deterministic);
  the exact posting-list refine stays a batch job over the emitted
  candidates, keeping per-trigger state signature-sized.
- Exactly-once without a transaction log: the per-epoch store
  partition is written LAST, so a redelivered epoch either (a) finds
  its store partition COMMITTED (``_SUCCESS`` marker — a bare
  directory is a crash mid-write and is cleaned up and redone) and
  skips — the dupes output was already written — or (b) recomputes
  the dupes output (deterministic, overwrite-by-epoch) and then
  writes the store partition. Either way both outputs converge to
  exactly one copy per epoch.

Mirrors the delivery-contract approach of the reference's file sinks
(/root/reference/binance-di.py:155-207 rotate-and-append) re-expressed
as idempotent epoch partitions.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    _exploded_shingles,
    band_struct_array,
    minhash_signature,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

SHINGLE_N = 3  # tokens per shingle
NUM_HASHES = 8  # MinHash signature length K
BANDS = 4  # LSH bands of K / BANDS hashes each
MAX_FILES_PER_TRIGGER = 1  # one input file per epoch
TIMEOUT_SEC = 300


def batch_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_{K-1}) MinHash signatures — one row per
    document with >= SHINGLE_N tokens (shorter docs have no shingles,
    hence no signature; they can never band-collide)."""
    ex = _exploded_shingles(docs, "text", "doc_id", SHINGLE_N)
    return ex.filter(F.col("shingle").isNotNull()).groupBy("doc_id").agg(
        *minhash_signature(NUM_HASHES)
    )


def _committed(epoch_dir: str) -> bool:
    """A store partition counts as written only once its ``_SUCCESS``
    marker exists — the Hadoop committer writes it after all task
    commits, so a directory without it is a crash mid-write, not state.
    (os.path keeps the store driver-local by design of the fixture
    replay; a remote store would swap these probes for the Hadoop
    FileSystem API.)"""
    return os.path.isfile(os.path.join(epoch_dir, "_SUCCESS"))


def _store_epochs(store_dir: str) -> list[str]:
    if not os.path.isdir(store_dir):
        return []
    return sorted(
        d
        for d in os.listdir(store_dir)
        if d.startswith("epoch=") and _committed(os.path.join(store_dir, d))
    )


def signature_match_pairs(new_sig: DataFrame, old_sig: DataFrame) -> DataFrame:
    """Band-colliding (new, old) pairs with the minhash Jaccard
    estimate: est = (# matching hash positions) / K — an exact integer
    count over a constant, so the value is engine- and
    partitioning-independent."""
    bkey = band_struct_array(NUM_HASHES, BANDS)

    def buckets(sig: DataFrame, out: str) -> DataFrame:
        return sig.select(
            F.col("doc_id").alias(out), F.explode(bkey).alias("bk")
        ).select(out, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    cand = (
        buckets(new_sig, "id_a")
        .join(buckets(old_sig, "id_b"), ["band", "key"])
        .select("id_a", "id_b")
        .distinct()
    )
    a = new_sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{k}").alias(f"a_{k}") for k in range(NUM_HASHES)],
    )
    b = old_sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{k}").alias(f"b_{k}") for k in range(NUM_HASHES)],
    )
    matches = sum(
        (F.col(f"a_{k}") == F.col(f"b_{k}")).cast("int") for k in range(NUM_HASHES)
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (matches.cast("double") / F.lit(float(NUM_HASHES))).alias("est_jaccard"),
        )
    )


def make_processor(store_dir: str, dupes_dir: str):
    """The per-epoch foreachBatch body, exposed so tests can exercise
    the redelivery contract directly (a crashed epoch is redelivered by
    the checkpoint with the SAME epoch_id and must converge)."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_store = os.path.join(store_dir, f"epoch={epoch_id}")
        if _committed(epoch_store):
            # redelivered epoch: the store partition COMMITTED
            # (_SUCCESS present), and it is written last, so the dupes
            # output is already on disk too
            return
        if os.path.isdir(epoch_store):
            # crash DURING the store write: directory exists but never
            # committed (partial files, no _SUCCESS). Remove it so the
            # corpus read below can't see partial state, then redo the
            # whole epoch — both writes are overwrite-by-epoch, so the
            # redo converges to exactly one copy.
            shutil.rmtree(epoch_store)
        # feeds the probe AND the store write
        sig = batch_signatures(batch_df).localCheckpoint(eager=True)
        if _store_epochs(store_dir):
            old = batch_df.sparkSession.read.parquet(store_dir).drop("epoch")
            pairs = signature_match_pairs(sig, old)
            pairs.write.mode("overwrite").parquet(
                os.path.join(dupes_dir, f"epoch={epoch_id}")
            )
        sig.write.mode("overwrite").parquet(epoch_store)

    return process


def run_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    dupes_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain all pending input files (availableNow) through the
    dedup-on-ingest pipeline; one store partition + one dupes
    partition per epoch. A run still going after ``TIMEOUT_SEC`` is
    stopped and raises ``RuntimeError``: the caller must never read
    (or remove) the store of a query that is still writing it."""
    process = make_processor(store_dir, dupes_dir)
    q = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(TIMEOUT_SEC):
        q.stop()
        raise RuntimeError(
            f"dedup ingest of {input_dir} timed out after {TIMEOUT_SEC} s"
        )
