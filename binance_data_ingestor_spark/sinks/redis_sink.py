"""Redis Streams sink (SURVEY §2.1 S3, §2.6 T1).

Reference parity: ``XADD binance:{stream_key}:{lower(symbol)}`` with a
flat string field map per record (binance-di.py:143-145); nested
bids/asks are JSON-stringified at this boundary only (binance-di.py:45-46).

Exactly-once upgrade over the reference (SURVEY §7 hard part #1):
instead of auto-generated stream IDs, records carry an explicit,
deterministic XADD ID ``{event_ms}-{seq}`` derived from the payload
(event_time + a stable sequence discriminator).  Replayed micro-batches
re-XADD the same IDs; with a consumer treating IDs as idempotency keys
(or XADD NOMKSTREAM + dedup), redelivery is harmless.

The ``redis`` package is not installed in this environment — the
client boundary is injectable (``client_factory``) and the default
factory raises a clear error, so everything above the network call is
testable with a fake client.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .files import flatten_for_row_sink

PIPELINE_SIZE = 500  # XADDs per round trip


def _default_client_factory(host: str, port: int):
    try:
        import redis  # type: ignore
    except ImportError as e:  # pragma: no cover - env without redis
        raise RuntimeError(
            "redis package not available; pass client_factory= to redis_writer"
        ) from e
    return redis.Redis(host=host, port=port, decode_responses=True)


def redis_key():
    """binance:{stream_key}:{lower(symbol)} — canonical hyphenated
    'order-book' (producer wins over the tests' 'orderbook' skew;
    SURVEY §7 hard part #5)."""
    return F.concat(
        F.lit("binance:"), F.col("stream"), F.lit(":"), F.lower(F.col("symbol"))
    )


def prepare_for_redis(df: DataFrame) -> DataFrame:
    """Flatten payload to strings + attach redis key and idempotent ID.

    The sequence discriminator is a per-(key, event_ms) row_number in
    the micro-batch — deterministic for a given batch content.
    """
    from pyspark.sql import Window as W

    flat = flatten_for_row_sink(df)
    key = redis_key()
    w = W.partitionBy("stream", "symbol", "event_time").orderBy(*[
        c for c in flat.columns if c not in ("stream", "symbol")
    ])
    return flat.withColumn("__redis_key", key).withColumn(
        "__redis_id",
        F.concat_ws("-", F.col("event_time").cast("string"),
                    (F.row_number().over(w) - 1).cast("string")),
    )


def redis_writer(
    host: str = "localhost",
    port: int = 31111,
    *,
    client_factory: Callable | None = None,
):
    """Returns a foreachBatch(batch_df, epoch_id) callable.

    Scale note: the client is created PER PARTITION on the executor
    (foreachPartition), commands are pipelined — one round trip per
    `PIPELINE_SIZE` records, not per record (the reference XADDs one
    record per call; its consumers poll count=1 per round trip)."""
    factory = client_factory or _default_client_factory

    def _write(batch_df: DataFrame, _epoch_id: int) -> None:
        prepared = prepare_for_redis(batch_df)
        payload_cols = [
            c for c in prepared.columns if not c.startswith("__redis_")
        ]

        def _per_partition(rows):
            client = factory(host, port)
            pipe = client.pipeline(transaction=False)
            n = 0
            for row in rows:
                d = row.asDict()
                key = d.pop("__redis_key")
                rid = d.pop("__redis_id")
                fields = {
                    k: ("" if v is None else str(v)) for k, v in d.items()
                    if k in payload_cols
                }
                pipe.xadd(key, fields, id=rid)
                n += 1
                if n % PIPELINE_SIZE == 0:
                    # raise_on_error=False: duplicate/smaller IDs from a
                    # replayed batch are rejected by Redis individually —
                    # exactly the idempotent-redelivery behavior we want.
                    pipe.execute(raise_on_error=False)
            pipe.execute(raise_on_error=False)

        prepared.foreachPartition(_per_partition)

    return _write
