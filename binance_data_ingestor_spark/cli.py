"""CLI with the reference's flag surface (SURVEY §2.8, §3.1 stage 1-2).

``python -m binance_data_ingestor_spark.cli --symbol BTCUSDT,ETHUSDT
--load ticker,trades --output parquet --output-dir data``

Engine extension: ``--replay-dir`` replays captured fixture frames
through the same pipeline instead of the live WebSocket (the live path
needs the `websockets` package and network access). A replay exits
once every frame in the directory is committed to every sink, or
sooner with ``--samples`` once every (stream, symbol) pair has its cap;
a live run stops on Ctrl-C.
"""

from __future__ import annotations

import argparse
import logging
import sys
import tempfile

from .config import Config, ConfigError, DEFAULT_STREAMS


def parse_arguments(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="PySpark-native Binance data engine")
    p.add_argument("--symbol", required=True, help="comma-separated symbols")
    p.add_argument("--load", default=",".join(DEFAULT_STREAMS),
                   help="comma-separated stream types (ticker,trades,order-book,klines)")
    p.add_argument("--interval", default="1m", help="kline interval")
    p.add_argument("--testnet", action="store_true")
    p.add_argument("--output", default="", help="comma-separated formats (json,csv,parquet,orc)")
    p.add_argument("--output-dir", default="data")
    p.add_argument("--samples", type=int, default=None)
    p.add_argument("--log", default="binance-di.log")
    p.add_argument("--silent", action="store_true")
    g = p.add_mutually_exclusive_group()
    g.add_argument("--print", dest="print_console", action="store_true")
    g.add_argument("--print-only", dest="print_only", action="store_true")
    p.add_argument("--no-redis", action="store_true",
                   help="disable the Redis sink (engine flag; reference disables it implicitly when unreachable)")
    p.add_argument("--replay-dir", default=None, help="fixture replay instead of live WS")
    return p.parse_args(argv)


def config_from_args(args: argparse.Namespace) -> Config:
    return Config(
        symbols=[s for s in args.symbol.split(",") if s],
        streams=[s for s in args.load.split(",") if s],
        interval=args.interval,
        testnet=args.testnet,
        outputs=[o for o in args.output.split(",") if o],
        output_dir=args.output_dir,
        samples=args.samples,
        log=args.log,
        silent=args.silent,
        print_console=args.print_console,
        print_only=args.print_only,
        redis_enabled=not args.no_redis and not args.print_only,
        replay_dir=args.replay_dir,
    )


def main(argv: list[str] | None = None) -> int:
    args = parse_arguments(argv)
    level = logging.CRITICAL if args.silent else logging.INFO
    logging.basicConfig(level=level, filename=None if args.silent else args.log)
    try:
        cfg = config_from_args(args)
    except ConfigError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    from .session import get_spark
    from .streaming.jobs import run_ingest

    spark = get_spark("binance-ingest-cli")
    checkpoint = tempfile.mkdtemp(prefix="binance-ckpt-")
    query, _ = run_ingest(spark, cfg, checkpoint_dir=checkpoint)
    try:
        if cfg.replay_dir is not None:
            # returns once every replayed frame is committed, or once
            # the --samples limiter has stopped the query
            query.processAllAvailable()
            query.stop()
        else:
            query.awaitTermination()
    except KeyboardInterrupt:
        # reference shutdown contract (T6): stop → last micro-batch commits
        query.stop()
        query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
