"""Streaming jobs: the multiplexed ingestion dataflow.

The ingestion job is the reference's whole main program re-expressed
(SURVEY §3.1): multiplexed source → per-stream normalize → envelope →
union → fan-out to sinks, plus the ``--samples`` bounded-run semantics
(L1) and the graceful flush-on-stop contract (T6, which Spark's
micro-batch commit gives us atomically).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import Config
from ..operators.projections import (
    NORMALIZERS,
    multiplex,
    parse_raw,
    with_envelope_json,
)
from ..sinks import console as console_sink
from ..sinks.files import write_batch
from ..sinks.redis_sink import redis_writer
from ..sources.binance_ws import register as register_ws


def build_source(spark: SparkSession, cfg: Config) -> DataFrame:
    """Multiplexed raw-frame stream: (value, stream, symbol)."""
    register_ws(spark)
    reader = (
        spark.readStream.format("binance_ws")
        .option("symbols", ",".join(cfg.symbols))
        .option("streams", ",".join(cfg.streams))
        .option("interval", cfg.interval)
        .option("testnet", str(cfg.testnet).lower())
    )
    if cfg.replay_dir:
        reader = reader.option("replay_dir", cfg.replay_dir)
    return reader.load()


def normalize_multiplexed(raw: DataFrame, streams: list[str]) -> DataFrame:
    """Fan the tagged raw stream through per-type normalizers and re-union
    as wire envelopes. Catalyst pushes the `stream` filters into each
    branch, so every branch scans only its own frames."""
    branches = []
    for stream_key in streams:
        branch = raw.filter(F.col("stream") == stream_key)
        parsed = parse_raw(branch, stream_key)
        norm = NORMALIZERS[stream_key](parsed, keep=["symbol"])
        branches.append(with_envelope_json(norm, stream_key))
    return multiplex(*branches)


class SampleLimiter:
    """--samples N: per-(stream, symbol) cap with self-stop (SURVEY §2.3
    L1).  The reference's producers self-terminate at N messages
    (binance-di.py:111-115); here the consumer truncates each micro-batch
    against running driver-side counts and stops the query once every
    (stream, symbol) pair reached its cap."""

    def __init__(self, limit: int | None, expected_pairs: int) -> None:
        self.limit = limit
        self.expected_pairs = expected_pairs
        self.counts: dict[tuple[str, str], int] = {}
        self.done = threading.Event()

    def take(self, df: DataFrame) -> DataFrame:
        if self.limit is None:
            return df
        from pyspark.sql import Window as W

        w = W.partitionBy("stream", "symbol").orderBy(F.monotonically_increasing_id())
        numbered = df.withColumn("__rn", F.row_number().over(w))
        allowed = []
        for (stream, symbol), n in self.batch_counts(numbered).items():
            seen = self.counts.get((stream, symbol), 0)
            take_n = max(0, min(n, self.limit - seen))
            self.counts[(stream, symbol)] = seen + take_n
            if take_n:
                allowed.append(
                    (F.col("stream") == stream)
                    & (F.col("symbol") == symbol)
                    & (F.col("__rn") <= take_n)
                )
        if not allowed:
            return numbered.filter(F.lit(False)).drop("__rn")
        cond = allowed[0]
        for c in allowed[1:]:
            cond = cond | c
        return numbered.filter(cond).drop("__rn")

    def check_done(self) -> None:
        """Signal completion — called AFTER the batch's sinks commit, so
        the stop thread never cancels in-flight sink writes."""
        if (
            self.limit is not None
            and len(self.counts) >= self.expected_pairs
            and all(v >= self.limit for v in self.counts.values())
        ):
            self.done.set()

    @staticmethod
    def batch_counts(df: DataFrame) -> dict[tuple[str, str], int]:
        return {
            (r["stream"], r["symbol"]): r["n"]
            for r in df.groupBy("stream", "symbol").agg(F.count("*").alias("n")).collect()
        }


def run_ingest(
    spark: SparkSession,
    cfg: Config,
    *,
    checkpoint_dir: str,
    console_out=None,
    redis_client_factory=None,
):
    """Start the ingestion query (single foreachBatch consumer = the
    reference's multi-format tee, S11). Returns (query, limiter).

    The query runs on the default trigger until stopped: with
    ``cfg.samples`` set the limiter stops it once every (stream, symbol)
    pair has its cap. A replay is drained with
    ``query.processAllAvailable()``, which returns once every frame of
    ``cfg.replay_dir`` is committed, across as many micro-batches of
    ``maxFramesPerBatch`` frames as that takes; then ``query.stop()``."""
    wire = normalize_multiplexed(build_source(spark, cfg), cfg.streams)
    limiter = SampleLimiter(cfg.samples, len(cfg.streams) * len(cfg.symbols))
    redis_fn = (
        redis_writer(cfg.redis_host, cfg.redis_port, client_factory=redis_client_factory)
        if cfg.redis_enabled
        else None
    )

    def _consume(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = limiter.take(batch_df)
        if cfg.console_enabled:
            if cfg.silent:
                console_sink.print_machine(batch_df, out=console_out)
            else:
                console_sink.print_human(batch_df, out=console_out)
        for fmt in cfg.outputs:
            write_batch(batch_df, cfg.output_dir, fmt)
        if redis_fn is not None:
            redis_fn(batch_df, epoch_id)
        limiter.check_done()

    query = (
        wire.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", f"{checkpoint_dir}/ingest")
        .queryName("binance_ingest")
        .start()
    )

    if cfg.samples is not None:
        def _stop_when_done() -> None:
            limiter.done.wait()
            query.stop()

        threading.Thread(target=_stop_when_done, daemon=True).start()
    return query, limiter
