"""binance_data_ingestor_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
``anfergainst/binance-data-ingestor`` (see SURVEY.md), re-expressed
Spark-first: typed DataFrames, Catalyst-optimized declarative plans,
Structured Streaming for the live path, and LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns) designed
for 100 TB scale.

Layout:
    session.py    — SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
    schemas.py    — explicit StructTypes for every stream type (SURVEY §1.3)
    config.py     — CLI-parity config object (SURVEY §2.8)
    operators/    — projections, order-book analytics, klines, windows,
                    as-of join, dedup family, similarity search, text ops
    sources/      — raw-frame fixtures + Binance WebSocket stream source
    sinks/        — JSONL/CSV/Parquet/ORC, console, Redis foreachBatch
    streaming/    — streaming jobs (kline aggregation, sample-bounded runs)
"""

__version__ = "0.1.0"
