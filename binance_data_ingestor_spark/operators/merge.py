"""CDC / snapshot-maintenance operators: latest-state dedup, SCD2
history, and upsert (MERGE-style) application of a change batch.

Reference parity note: the reference keeps only the *latest* market
state implicitly (each Redis stream key is a totally-ordered log and
consumers read the tail, `/root/reference/tests/test_redis-data.py:56-60`).
A batch engine over the same data needs the explicit equivalents:

- ``latest_snapshot``  — collapse an event log to one current row per
  key ("read the tail" as a relational operator);
- ``scd2_intervals``   — the full history as validity intervals;
- ``upsert``           — apply a newer change batch onto a base
  snapshot (Delta/Iceberg ``MERGE INTO`` semantics, expressed with
  stock DataFrame ops so it runs on plain parquet).

Scale design (100 TB):

- ``latest_snapshot`` uses ``groupBy(key).agg(max_by(payload, ord))``,
  NOT a row_number window: the aggregate gets a map-side partial
  (each input partition reduces to ≤ one row per key before the
  shuffle), so shuffle volume is O(distinct keys), while a window
  sort-shuffles the entire log. Same single shuffle key, far less data.
- ``upsert`` shuffles both sides once on the key (sort-merge join under
  AQE; broadcast if the change batch is small — typical for CDC).
- ``scd2_intervals`` is inherently a per-key ordered scan: one shuffle
  on the key, linear window pass, no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

_PAY = "__merge_payload"


def _key_list(key: list[str] | str) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def latest_snapshot(
    df: DataFrame,
    *,
    key: list[str] | str,
    order_by: list[str] | str,
) -> DataFrame:
    """One row per `key`: the row with the greatest `order_by` tuple.

    `order_by` columns must totally order rows within a key (include a
    unique id as the last element to break timestamp ties
    deterministically). Output schema == input schema.
    """
    key = _key_list(key)
    order_by = _key_list(order_by)
    payload = [c for c in df.columns if c not in key]
    agg = (
        df.groupBy(*key)
        .agg(
            F.max_by(
                F.struct(*[F.col(c).alias(c) for c in payload]),
                F.struct(*[F.col(c).alias(c) for c in order_by]),
            ).alias(_PAY)
        )
    )
    return agg.select(*key, *[F.col(f"{_PAY}.{c}").alias(c) for c in payload])


def scd2_intervals(
    df: DataFrame,
    *,
    key: list[str] | str,
    ts: str,
    tie_break: list[str] | str = (),
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: each event row gains
    ``valid_from`` (its own `ts`), ``valid_to`` (the next event's `ts`
    in the same key, null for the current row) and ``is_current``.
    """
    key = _key_list(key)
    tie = _key_list(tie_break) if tie_break else []
    w = W.partitionBy(*key).orderBy(ts, *tie)
    nxt = F.lead(ts).over(w)
    return (
        df.withColumn("valid_from", F.col(ts))
        .withColumn("valid_to", nxt)
        .withColumn("is_current", nxt.isNull())
    )


def upsert(
    base: DataFrame,
    changes: DataFrame,
    *,
    key: list[str] | str,
    order_by: list[str] | str,
) -> DataFrame:
    """MERGE-style apply: rows in `changes` replace same-key rows in
    `base`; unmatched change keys are inserts; unmatched base keys
    survive. `changes` may itself hold several versions per key — the
    latest (by `order_by`) wins, and a base row also newer than the
    change (by `order_by`) is kept, making the operator idempotent and
    safe under replayed/out-of-order change batches.

    Implementation: collapse `changes` to latest-per-key, then a single
    union + latest_snapshot over both sides — one shuffle total on the
    key, no join needed, and map-side partials shrink the log before it
    moves.
    """
    cols = base.columns
    if set(cols) != set(changes.columns):
        raise ValueError("base and changes must share a schema")
    return latest_snapshot(
        base.select(*cols).unionByName(changes.select(*cols)),
        key=key,
        order_by=order_by,
    )
