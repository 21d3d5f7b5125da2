"""End-to-end ingestion: WS source (replay) → normalize → multiplex →
sinks, incl. --samples bounded-run semantics."""

from __future__ import annotations

import glob
import io
import json
import os
import pickle
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from binance_data_ingestor_spark import cli, session
from binance_data_ingestor_spark.config import Config
from binance_data_ingestor_spark.sources.binance_ws import (
    BinanceWSStreamReader,
    _FrameBuffer,
    stream_url,
)
from binance_data_ingestor_spark.sources.fixtures import write_fixture_dir
from binance_data_ingestor_spark.streaming.jobs import (
    normalize_multiplexed,
    run_ingest,
)

from conftest import drain


def test_stream_url_parity():
    # reference: f"{base_url}/{symbol.lower()}{stream_type}" (binance-di.py:97)
    assert (
        stream_url("wss://stream.binance.com:9443/ws", "BTCUSDT", "trades")
        == "wss://stream.binance.com:9443/ws/btcusdt@aggTrade"
    )
    assert stream_url("x", "ETHUSDT", "klines", "5m") == "x/ethusdt@kline_5m"


def test_ws_reader_replay_offsets(tmp_path):
    root = str(tmp_path / "fx")
    write_fixture_dir(root, "trades", 10, files=2)
    r = BinanceWSStreamReader(
        {"symbols": "BTCUSDT,ETHUSDT,SOLUSDT", "streams": "trades",
         "replay_dir": root, "maxFramesPerBatch": "4"}
    )
    assert r.initialOffset() == {"seq": 0}
    it, off = r.read({"seq": 0})
    rows = list(it)
    assert len(rows) == 4 and off == {"seq": 4}
    # re-read between offsets (driver retry path) is stable pre-commit
    again = list(r.readBetweenOffsets({"seq": 0}, {"seq": 4}))
    assert [a[0] for a in again] == [a[0] for a in rows]
    it2, off2 = r.read(off)
    assert len(list(it2)) == 4 and off2 == {"seq": 8}
    r.commit(off2)
    assert len(r.buffer.range(0)) == 2  # committed prefix dropped


def _buffer(n: int) -> _FrameBuffer:
    buf = _FrameBuffer()
    for i in range(n):
        buf.put(f"v{i}", "trades", "BTCUSDT")
    return buf


def _seqs(frames) -> list[int]:
    return [f[0] for f in frames]


def test_frame_buffer_range_open_end():
    buf = _buffer(5)
    assert _seqs(buf.range(2)) == [2, 3, 4]
    assert _seqs(buf.range(0, None)) == [0, 1, 2, 3, 4]
    assert buf.range(5) == [] and buf.range(9) == []
    assert _buffer(0).range(0) == []


def test_frame_buffer_range_across_drop_before():
    buf = _buffer(10)
    buf.drop_before(4)
    assert _seqs(buf.range(4, 7)) == [4, 5, 6]
    assert _seqs(buf.range(6, 20)) == [6, 7, 8, 9]
    assert buf.range(7, 7) == [] and buf.range(8, 6) == []
    buf.put("v10", "ticker", "ETHUSDT")
    assert buf.range(10) == [(10, "v10", "ticker", "ETHUSDT")]
    buf.drop_before(11)
    assert buf.range(0) == [] and buf.next_seq == 11


def test_frame_buffer_range_start_below_first_kept():
    buf = _buffer(8)
    buf.drop_before(5)
    assert _seqs(buf.range(0)) == [5, 6, 7]
    assert _seqs(buf.range(2, 7)) == [5, 6]
    assert buf.range(0, 3) == [] and buf.range(0, 5) == []
    # reference: the filter over every buffered frame that range replaces
    kept = list(buf._frames)
    for start in range(11):
        for end in [None, *range(11)]:
            assert buf.range(start, end) == [
                f for f in kept if f[0] >= start and (end is None or f[0] < end)
            ], (start, end)


def test_frame_buffer_pickle_round_trip():
    buf = _buffer(6)
    buf.drop_before(2)
    copy = pickle.loads(pickle.dumps(buf))
    assert copy.range(0) == buf.range(0)
    assert _seqs(copy.range(3, 5)) == [3, 4]
    assert copy.next_seq == 6
    copy.put("v6", "trades", "BTCUSDT")  # the rebuilt lock works
    assert _seqs(copy.range(5)) == [5, 6] and buf.next_seq == 6


def test_live_mode_requires_websockets(tmp_path):
    r = BinanceWSStreamReader({"symbols": "BTCUSDT", "streams": "trades"})
    with pytest.raises(NotImplementedError, match="websockets"):
        r.read({"seq": 0})


def test_ingest_end_to_end_with_samples(spark, tmp_path):
    root = str(tmp_path / "fx")
    n_msgs = 12
    for sk in ("ticker", "trades"):
        write_fixture_dir(root, sk, n_msgs, files=1)
    cfg = Config(
        symbols=["BTCUSDT", "ETHUSDT", "SOLUSDT"],
        streams=["ticker", "trades"],
        outputs=["json", "parquet"],
        output_dir=str(tmp_path / "out"),
        samples=2,
        silent=True,
        print_console=True,
        redis_enabled=False,
        replay_dir=root,
    )
    buf = io.StringIO()
    query, limiter = run_ingest(
        spark, cfg, checkpoint_dir=str(tmp_path / "ckpt"), console_out=buf,
    )
    drain(query, 120)
    # --samples 2 → exactly 2 per (stream, symbol): 2 streams × 3 symbols × 2
    assert all(v == 2 for v in limiter.counts.values())
    assert len(limiter.counts) == 6
    lines = [json.loads(line) for line in buf.getvalue().strip().splitlines()]
    assert len(lines) == 12
    assert {(d["stream"], d["symbol"]) for d in lines} == {
        (s, sym) for s in ("ticker", "trades")
        for sym in ("BTCUSDT", "ETHUSDT", "SOLUSDT")
    }
    back = spark.read.parquet(f"{cfg.output_dir}/parquet")
    assert back.count() == 12
    assert glob.glob(f"{cfg.output_dir}/json/stream=*/symbol=*/*")


def test_cli_replay_writes_every_frame_once(spark, tmp_path, monkeypatch):
    # 12,000 frames: more than one micro-batch (maxFramesPerBatch 10,000),
    # so a replay that stops after its first batch loses 2,000 of them
    root = str(tmp_path / "fx")
    offered = Counter()
    for sk in ("ticker", "trades"):
        write_fixture_dir(root, sk, 6_000, files=1)
        with open(os.path.join(root, sk, "part-0000.jsonl")) as fh:
            offered.update(
                (sk, m["s"], m["E"]) for m in map(json.loads, fh)
            )
    assert len(offered) == 12_000 and set(offered.values()) == {1}
    # the CLI's session and checkpoint: the test session and tmp_path
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = tmp_path / "out"
    assert cli.main([
        "--symbol", "BTCUSDT,ETHUSDT,SOLUSDT", "--load", "ticker,trades",
        "--output", "parquet", "--output-dir", str(out), "--no-redis",
        "--replay-dir", root, "--log", str(tmp_path / "ingest.log"),
    ]) == 0
    assert not spark.streams.active
    written = Counter(
        (r["stream"], r["symbol"], json.loads(r["data_json"])["event_time"])
        for r in spark.read.parquet(f"{out}/parquet").collect()
    )
    assert written == offered


def test_normalize_multiplexed_branch_filters(spark, tmp_path):
    root = str(tmp_path / "fx")
    for sk in ("ticker", "order-book"):
        write_fixture_dir(root, sk, 6, files=1)
    # batch-mode replay through the same transform (batch/stream unification)
    rows = []
    for sk in ("ticker", "order-book"):
        for f in glob.glob(f"{root}/{sk}/*"):
            with open(f) as fh:
                rows += [(line.strip(), sk, json.loads(line)["s"]) for line in fh]
    raw = spark.createDataFrame(rows, "value string, stream string, symbol string")
    wire = normalize_multiplexed(raw, ["ticker", "order-book"])
    counts = {r.stream: r["count"] for r in wire.groupBy("stream").count().collect()}
    assert counts == {"ticker": 6, "order-book": 6}
    ob = json.loads(
        wire.filter(F.col("stream") == "order-book").first().data_json
    )
    assert "lastUpdateId" in ob and isinstance(ob.get("bids", []), list)
