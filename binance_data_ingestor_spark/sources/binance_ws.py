"""Binance WebSocket streaming data source (SURVEY §2.1 S1, §2.6 T2).

A Spark 4 Python data source (``pyspark.sql.datasource``) registered as
``spark.readStream.format("binance_ws")``.  It multiplexes N streams ×
M symbols — the reference's producer fan-out (binance-di.py:96-120,
266-291) — into one streaming DataFrame with columns
``(value, stream, symbol)``, where `value` is the raw JSON text frame.

Offset design (SURVEY §7 hard part #3): the upstream WebSocket is
non-replayable, so the reader buffers frames and the offset is a
monotone per-(stream,symbol) sequence counter.  Between ``read`` calls
frames accumulate in the buffer; after ``commit`` the prefix is
dropped.  A crash between fetch and checkpoint loses the gap — the same
inherent WS property the reference has (its 5 s reconnect loop drops
frames too); durability starts at the first sink checkpoint.

Transport: the live path needs the ``websockets`` package (the
reference's dependency), which is NOT installed in this environment —
it is import-gated and raises cleanly at connect time.  The
``replay_dir`` option substitutes captured fixture files for the
network (deterministic tests, same code path through Spark).
"""

from __future__ import annotations

import json
import os
import threading
from collections import deque
from itertools import islice

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

PROD_URL = "wss://stream.binance.com:9443/ws"
TESTNET_URL = "wss://testnet.binance.vision/ws"

# stream_key → Binance URL suffix (reference binance-di.py:279-286)
STREAM_SUFFIX = {
    "ticker": "@ticker",
    "order-book": "@depth",
    "trades": "@aggTrade",
    "klines": "@kline_{interval}",
}


def stream_url(base_url: str, symbol: str, stream_key: str, interval: str = "1m") -> str:
    suffix = STREAM_SUFFIX[stream_key].format(interval=interval)
    return f"{base_url}/{symbol.lower()}{suffix}"


class _FrameBuffer:
    """Thread-safe frame buffer with absolute sequence numbering."""

    def __init__(self) -> None:
        self._frames: deque[tuple[int, str, str, str]] = deque()
        self._next_seq = 0
        self._lock = threading.Lock()

    # the reader (and thus the buffer) is pickled by Spark when shipping
    # readBetweenOffsets to executors — locks don't pickle, so rebuild one
    def __getstate__(self):
        with self._lock:
            return {"frames": list(self._frames), "next_seq": self._next_seq}

    def __setstate__(self, state):
        self._frames = deque(state["frames"])
        self._next_seq = state["next_seq"]
        self._lock = threading.Lock()

    def put(self, value: str, stream: str, symbol: str) -> None:
        with self._lock:
            self._frames.append((self._next_seq, value, stream, symbol))
            self._next_seq += 1

    def range(self, start: int, end: int | None = None):
        # sequence numbers are contiguous from the first kept frame, so
        # a frame's position in the deque is its seq minus the first seq
        with self._lock:
            if not self._frames:
                return []
            first = self._frames[0][0]
            stop = None if end is None else max(end - first, 0)
            return list(islice(self._frames, max(start - first, 0), stop))

    def drop_before(self, seq: int) -> None:
        with self._lock:
            while self._frames and self._frames[0][0] < seq:
                self._frames.popleft()

    @property
    def next_seq(self) -> int:
        with self._lock:
            return self._next_seq


class BinanceWSStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.symbols = [s.strip().upper() for s in options.get("symbols", "BTCUSDT").split(",")]
        self.streams = [s.strip() for s in options.get("streams", "ticker,trades,order-book").split(",")]
        self.interval = options.get("interval", "1m")
        self.base_url = TESTNET_URL if options.get("testnet", "false") == "true" else PROD_URL
        self.replay_dir = options.get("replay_dir")
        self.max_frames_per_batch = int(options.get("maxFramesPerBatch", "10000"))
        self.buffer = _FrameBuffer()
        self._started = False

    # -- transport ---------------------------------------------------------

    def _start_replay(self) -> None:
        """Load captured fixture frames (tests / offline development)."""
        for stream_key in self.streams:
            d = os.path.join(self.replay_dir, stream_key)
            if not os.path.isdir(d):
                continue
            for fname in sorted(os.listdir(d)):
                with open(os.path.join(d, fname)) as fh:
                    for line in fh:
                        line = line.strip()
                        if not line:
                            continue
                        sym = json.loads(line).get("s", self.symbols[0])
                        if sym in self.symbols:
                            self.buffer.put(line, stream_key, sym)

    def _start_live(self) -> None:
        try:
            import websockets  # type: ignore # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "live Binance WebSocket transport requires the 'websockets' "
                "package (not installed in this environment); use the "
                "replay_dir option to serve captured frames instead"
            ) from e
        import asyncio

        async def _consume(symbol: str, stream_key: str) -> None:
            import websockets

            url = stream_url(self.base_url, symbol, stream_key, self.interval)
            while True:
                try:
                    async with websockets.connect(url) as ws:
                        async for message in ws:
                            self.buffer.put(message, stream_key, symbol)
                except Exception:
                    await asyncio.sleep(5)  # reference reconnect backoff

        async def _main() -> None:
            await asyncio.gather(
                *[_consume(sym, sk) for sym in self.symbols for sk in self.streams]
            )

        t = threading.Thread(target=lambda: asyncio.run(_main()), daemon=True)
        t.start()

    def _ensure_started(self) -> None:
        if self._started:
            return
        self._started = True
        if self.replay_dir:
            self._start_replay()
        else:
            self._start_live()

    # -- SimpleDataSourceStreamReader contract -----------------------------

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        self._ensure_started()
        lo = start["seq"]
        hi = min(self.buffer.next_seq, lo + self.max_frames_per_batch)
        rows = [(v, s, sym) for _, v, s, sym in self.buffer.range(lo, hi)]
        return iter(rows), {"seq": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [(v, s, sym) for _, v, s, sym in self.buffer.range(start["seq"], end["seq"])]
        )

    def commit(self, end: dict) -> None:
        self.buffer.drop_before(end["seq"])


class BinanceWebSocketDataSource(DataSource):
    """``spark.readStream.format("binance_ws").options(symbols=...,
    streams=..., interval=..., testnet=..., replay_dir=...)``"""

    @classmethod
    def name(cls) -> str:
        return "binance_ws"

    def schema(self) -> str:
        return "value string, stream string, symbol string"

    def simpleStreamReader(self, schema) -> BinanceWSStreamReader:
        return BinanceWSStreamReader(dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(BinanceWebSocketDataSource)
