"""Normalizer parity on raw fixture frames (FIXTURES.md; reference
binance-di.py:35-67 semantics including the '.get() → null' tolerance
and the Python-repr boolean quirk)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from binance_data_ingestor_spark.operators.projections import (
    multiplex,
    normalize_klines,
    normalize_order_book,
    normalize_ticker,
    normalize_trades,
    parse_raw,
    with_envelope_json,
)
from binance_data_ingestor_spark.sources.fixtures import gen_raw_messages


def _df(spark, msgs):
    return spark.createDataFrame([(m,) for m in msgs], "value string")


def test_ticker_normalize_fields(spark):
    raw = {"e": "24hrTicker", "E": 1678886400000, "s": "BTCUSDT",
           "p": "150.50000000", "P": "0.127", "c": "118050.00000000",
           "h": "119000.00000000", "l": "117500.00000000",
           "v": "12345.67000000", "q": "1459876543.21"}
    out = normalize_ticker(parse_raw(_df(spark, [json.dumps(raw)]), "ticker")).collect()[0]
    assert out.price_change == "150.50000000"
    assert out.price_change_percent == "0.127"  # P resolved case-sensitively
    assert out.last_price == "118050.00000000"
    assert out.event_time == 1678886400000


def test_ticker_missing_fields_are_null(spark):
    out = normalize_ticker(
        parse_raw(_df(spark, ['{"e":"24hrTicker","E":5}']), "ticker")
    ).collect()[0]
    assert out.last_price is None and out.event_time == 5


def test_order_book_typed_levels_and_empty_default(spark):
    msgs = [
        json.dumps({"e": "depthUpdate", "E": 1, "s": "BTCUSDT", "u": 42,
                    "b": [["100.10", "0.5"], ["100.00", "1.2"]],
                    "a": [["100.20", "0.8"]]}),
        json.dumps({"e": "depthUpdate", "E": 2, "s": "BTCUSDT", "u": 43}),
    ]
    rows = (
        normalize_order_book(parse_raw(_df(spark, msgs), "order-book"))
        .orderBy("lastUpdateId").collect()
    )
    assert rows[0].lastUpdateId == 42
    assert float(rows[0].bids[0].price) == 100.10
    assert float(rows[0].bids[1].qty) == 1.2
    assert rows[1].bids == [] and rows[1].asks == []  # null → [] default


def test_trades_python_bool_repr(spark):
    msgs = [
        json.dumps({"E": 1, "p": "1", "q": "2", "T": 1, "m": True}),
        json.dumps({"E": 2, "p": "1", "q": "2", "T": 2, "m": False}),
        json.dumps({"E": 3, "p": "1", "q": "2", "T": 3}),
    ]
    rows = (
        normalize_trades(parse_raw(_df(spark, msgs), "trades"))
        .orderBy("event_time").collect()
    )
    assert [r.is_buyer_maker for r in rows] == ["True", "False", "None"]


def test_kline_nested_flatten(spark):
    raw = {"e": "kline", "E": 100, "s": "ETHUSDT",
           "k": {"t": 60000, "T": 119999, "s": "ETHUSDT", "i": "1m",
                 "o": "1.0", "c": "2.0", "h": "3.0", "l": "0.5",
                 "v": "10", "n": 7, "x": True, "q": "20"}}
    out = normalize_klines(parse_raw(_df(spark, [json.dumps(raw)]), "klines")).collect()[0]
    assert out.kline_start_time == 60000 and out.kline_close_time == 119999
    assert out.open_price == "1.0" and out.is_kline_closed == "True"
    assert out.number_of_trades == 7 and out.interval == "1m"


def test_envelope_and_multiplex_roundtrip(spark):
    t = normalize_ticker(
        parse_raw(_df(spark, gen_raw_messages("ticker", 6)), "ticker")
    ).withColumn("symbol", F.lit("btcusdt"))
    tr = normalize_trades(
        parse_raw(_df(spark, gen_raw_messages("trades", 6)), "trades")
    ).withColumn("symbol", F.lit("ethusdt"))
    wire = multiplex(with_envelope_json(t, "ticker"), with_envelope_json(tr, "trades"))
    assert wire.columns == ["stream", "symbol", "data_json"]
    got = wire.groupBy("stream", "symbol").count().collect()
    assert {(r.stream, r.symbol): r["count"] for r in got} == {
        ("ticker", "BTCUSDT"): 6,  # envelope upper-cases the symbol (P6)
        ("trades", "ETHUSDT"): 6,
    }
    payload = json.loads(wire.filter(F.col("stream") == "ticker").first().data_json)
    assert "last_price" in payload
