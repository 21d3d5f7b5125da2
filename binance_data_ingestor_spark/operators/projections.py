"""Per-stream-type normalizers (reference parity: binance-di.py:35-67).

The reference's four ``process_*_payload`` callbacks are dict
projections; here they are pure DataFrame transforms shared by batch and
streaming (SURVEY §2.2 P2-P5, §7 design stance).

Binance raw field names are case-significant (``p`` price change vs
``P`` percent, ``k.t`` start vs ``k.T`` close), while Spark resolves
column names case-insensitively by default — every normalizer therefore
runs inside :func:`case_sensitive`, which flips
``spark.sql.caseSensitive`` for plan *analysis* only (DataFrame
transforms resolve eagerly, so restoring the conf afterwards is safe).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import DEC, RAW_SCHEMAS

# parse_raw's decoded-frame column, which every normalizer reads
RAW_COL = "__raw"


@contextmanager
def case_sensitive(spark):
    old = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.caseSensitive", old)


def parse_raw(df: DataFrame, stream_key: str) -> DataFrame:
    """Decode raw JSON text frames (P1: json.loads ≙ from_json).

    Permissive mode: malformed/missing fields become nulls, matching the
    reference's ``.get()`` tolerance (SURVEY §1.4).
    """
    schema = RAW_SCHEMAS[stream_key]
    with case_sensitive(df.sparkSession):
        return df.withColumn(RAW_COL, F.from_json(F.col("value"), schema))


def _typed_levels(col):
    """wire [["price","qty"],…] → array<struct<price:dec, qty:dec>>; null → []."""
    return F.transform(
        F.coalesce(col, F.array()),
        lambda lvl: F.struct(
            F.element_at(lvl, 1).cast(DEC).alias("price"),
            F.element_at(lvl, 2).cast(DEC).alias("qty"),
        ),
    )


def _py_bool_str(col):
    """Python-repr stringification: True/False/None capitalized — the
    reference's ``str(data.get('m'))`` quirk (binance-di.py:53,65;
    SURVEY §1.4 sink-parity note)."""
    return (
        F.when(col.isNull(), F.lit("None"))
        .when(col, F.lit("True"))
        .otherwise(F.lit("False"))
    )


def normalize_ticker(df: DataFrame, keep: list[str] = ()) -> DataFrame:
    """P2 — 8-column project+rename (binance-di.py:35-41)."""
    with case_sensitive(df.sparkSession):
        m = F.col(RAW_COL)
        return df.select(
            *keep,
            m.getField("p").alias("price_change"),
            m.getField("P").alias("price_change_percent"),
            m.getField("c").alias("last_price"),
            m.getField("h").alias("high_price"),
            m.getField("l").alias("low_price"),
            m.getField("v").alias("total_volume_asset"),
            m.getField("q").alias("total_volume_quote"),
            m.getField("E").alias("event_time"),
        )


def normalize_order_book(df: DataFrame, keep: list[str] = ()) -> DataFrame:
    """P3 — lastUpdateId + typed book sides (binance-di.py:43-47).

    The reference JSON-stringifies bids/asks because Redis Streams only
    take flat maps; the engine keeps them native
    array<struct<price,qty>> and serializes only at the Redis sink
    boundary (sinks/redis_sink.py)."""
    with case_sensitive(df.sparkSession):
        m = F.col(RAW_COL)
        return df.select(
            *keep,
            m.getField("u").alias("lastUpdateId"),
            _typed_levels(m.getField("b")).alias("bids"),
            _typed_levels(m.getField("a")).alias("asks"),
        )


def normalize_trades(df: DataFrame, keep: list[str] = ()) -> DataFrame:
    """P4 — 5-column aggTrade projection (binance-di.py:49-54)."""
    with case_sensitive(df.sparkSession):
        m = F.col(RAW_COL)
        return df.select(
            *keep,
            m.getField("E").alias("event_time"),
            m.getField("p").alias("price"),
            m.getField("q").alias("quantity"),
            m.getField("T").alias("trade_time"),
            _py_bool_str(m.getField("m")).alias("is_buyer_maker"),
        )


def normalize_klines(df: DataFrame, keep: list[str] = ()) -> DataFrame:
    """P5 — nested k.* flatten into 13 columns (binance-di.py:56-67)."""
    with case_sensitive(df.sparkSession):
        m = F.col(RAW_COL)
        k = m.getField("k")
        return df.select(
            *keep,
            m.getField("E").alias("event_time"),
            k.getField("t").alias("kline_start_time"),
            k.getField("T").alias("kline_close_time"),
            k.getField("s").alias("symbol"),
            k.getField("i").alias("interval"),
            k.getField("o").alias("open_price"),
            k.getField("c").alias("close_price"),
            k.getField("h").alias("high_price"),
            k.getField("l").alias("low_price"),
            k.getField("v").alias("base_asset_volume"),
            k.getField("n").alias("number_of_trades"),
            _py_bool_str(k.getField("x")).alias("is_kline_closed"),
            k.getField("q").alias("quote_asset_volume"),
        )


NORMALIZERS = {
    "ticker": normalize_ticker,
    "order-book": normalize_order_book,
    "trades": normalize_trades,
    "klines": normalize_klines,
}


def with_envelope_json(df: DataFrame, stream_key: str) -> DataFrame:
    """P7+P16 — the wire envelope: payload serialized to one JSON string,
    exactly what the reference's ``--silent`` mode emits per line
    (binance-di.py:130-132). This is the schema-stable form used for
    multiplexing heterogeneous streams through one union."""
    payload = [c for c in df.columns if c != "symbol"]
    return df.select(
        F.lit(stream_key).alias("stream"),
        F.upper(F.col("symbol")).alias("symbol"),
        F.to_json(F.struct(*payload)).alias("data_json"),
    )


def multiplex(*enveloped: DataFrame) -> DataFrame:
    """S2 — fan-in union of heterogeneous enveloped streams.

    ``unionByName(allowMissingColumns=True)`` after envelope wrapping:
    every input shares (stream, symbol, data) at the top level but the
    `data` struct schemas differ, so data is re-serialized to JSON here
    only when schemas are incompatible — callers that need typed access
    should filter by `stream` first, before the union, which Catalyst
    does anyway via filter pushdown through the Union node."""
    out = enveloped[0]
    for df in enveloped[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
