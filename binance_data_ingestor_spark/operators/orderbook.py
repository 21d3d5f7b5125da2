"""Order-book analytics (reference parity: tests/test_redis-data*.py).

The reference's downstream consumers compute best bid/ask, mid-price,
spread (test_redis-data-full.py:47-59) and top-3 book levels
(test_redis-data.py:74-75).  Here they are column expressions over the
typed book arrays — all JVM-side, no UDFs (SURVEY §3.2 is the
minimum-slice target query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_best_levels(df: DataFrame) -> DataFrame:
    """P10/P11: best bid/ask = first level (exchange sends price-sorted
    arrays).  Empty-guard (P13): rows with an empty side get nulls."""
    non_empty = (F.size(F.col("bids")) > 0) & (F.size(F.col("asks")) > 0)
    return (
        df.withColumn(
            "best_bid",
            F.when(non_empty, F.element_at(F.col("bids"), 1).getField("price")),
        )
        .withColumn(
            "best_ask",
            F.when(non_empty, F.element_at(F.col("asks"), 1).getField("price")),
        )
        .withColumn(
            "best_bid_qty",
            F.when(non_empty, F.element_at(F.col("bids"), 1).getField("qty")),
        )
        .withColumn(
            "best_ask_qty",
            F.when(non_empty, F.element_at(F.col("asks"), 1).getField("qty")),
        )
    )


def with_mid_and_spread(df: DataFrame) -> DataFrame:
    """P12: mid_price = (bid+ask)/2, spread = ask-bid (scalar arithmetic
    over decimals — cast to double only for the derived metrics)."""
    bb = F.col("best_bid").cast("double")
    ba = F.col("best_ask").cast("double")
    return df.withColumn("mid_price", (bb + ba) / 2).withColumn("spread", ba - bb)


def top_k_levels(df: DataFrame, k: int = 3) -> DataFrame:
    """L2: head-slice of the price-sorted book sides."""
    return df.withColumn(f"bids_top{k}", F.slice(F.col("bids"), 1, k)).withColumn(
        f"asks_top{k}", F.slice(F.col("asks"), 1, k)
    )


def book_metrics(df: DataFrame) -> DataFrame:
    """The §3.2 flagship pipeline: guard → best levels → mid/spread,
    with 2-dp display strings (P14: format_number parity with
    ``f"{x:.2f}"``)."""
    out = with_mid_and_spread(with_best_levels(df))
    return out.withColumn("mid_price_2dp", F.format_number("mid_price", 2)).withColumn(
        "spread_2dp", F.format_number("spread", 2)
    )
