"""Explicit schemas for every stream type.

The reference keeps schemas implicit in its four projection functions
(reference binance-di.py:35-67) and lets pandas infer all-string Parquet
schemas at write time (binance-di.py:196-204).  The engine declares the
wire messages once here, typed (RAW_*, Binance short names, used by
from_json): epoch-ms longs, BooleanType flags.  Money stays a string
until a consumer casts it to ``DEC`` = DecimalType(38,18) (Binance 8-dp
strings — never Double for prices); ``operators/projections`` does so
for book sides, which become ArrayType(Struct) instead of JSON strings
(SURVEY §1.3-1.4, FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import types as T

DEC = T.DecimalType(38, 18)

# price/qty level as it arrives on the wire: ["118050.00", "0.5"]
RAW_LEVEL = T.ArrayType(T.StringType())

# -- raw wire messages (field evidence: reference binance-di.py:35-67) --

RAW_TICKER = T.StructType(
    [
        T.StructField("e", T.StringType(), True),
        T.StructField("E", T.LongType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("p", T.StringType(), True),
        T.StructField("P", T.StringType(), True),
        T.StructField("c", T.StringType(), True),
        T.StructField("h", T.StringType(), True),
        T.StructField("l", T.StringType(), True),
        T.StructField("v", T.StringType(), True),
        T.StructField("q", T.StringType(), True),
    ]
)

RAW_ORDER_BOOK = T.StructType(
    [
        T.StructField("e", T.StringType(), True),
        T.StructField("E", T.LongType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("u", T.LongType(), True),
        T.StructField("b", T.ArrayType(RAW_LEVEL), True),
        T.StructField("a", T.ArrayType(RAW_LEVEL), True),
    ]
)

RAW_TRADE = T.StructType(
    [
        T.StructField("e", T.StringType(), True),
        T.StructField("E", T.LongType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("p", T.StringType(), True),
        T.StructField("q", T.StringType(), True),
        T.StructField("T", T.LongType(), True),
        T.StructField("m", T.BooleanType(), True),
    ]
)

RAW_KLINE = T.StructType(
    [
        T.StructField("e", T.StringType(), True),
        T.StructField("E", T.LongType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField(
            "k",
            T.StructType(
                [
                    T.StructField("t", T.LongType(), True),
                    T.StructField("T", T.LongType(), True),
                    T.StructField("s", T.StringType(), True),
                    T.StructField("i", T.StringType(), True),
                    T.StructField("o", T.StringType(), True),
                    T.StructField("c", T.StringType(), True),
                    T.StructField("h", T.StringType(), True),
                    T.StructField("l", T.StringType(), True),
                    T.StructField("v", T.StringType(), True),
                    T.StructField("n", T.LongType(), True),
                    T.StructField("x", T.BooleanType(), True),
                    T.StructField("q", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

RAW_SCHEMAS = {
    "ticker": RAW_TICKER,
    "order-book": RAW_ORDER_BOOK,
    "trades": RAW_TRADE,
    "klines": RAW_KLINE,
}
