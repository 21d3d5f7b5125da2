"""File sinks: JSONL / CSV / Parquet / ORC (SURVEY §2.1 S4-S7, S9-S11).

Reference parity mapping:

- one output tree per format, partitioned by (stream, symbol) — the
  reference's ``{stream}_{symbol}_{part}.{fmt}`` naming contract
  (binance-di.py:170,199) becomes Hive-style partition directories,
  which is what makes partition PRUNING work downstream;
- ``maxRecordsPerFile`` ≙ the 100k-line rotation
  (FILE_ROTATION_LINE_COUNT, binance-di.py:32);
- micro-batch == the 10k columnar buffer (BATCH_SIZE_FOR_COLUMNAR,
  binance-di.py:31) — no hand-rolled buffering;
- the multi-format tee (binance-di.py:147-149) is `write_batch` called
  once per format inside the ingest query's single ``foreachBatch``
  (``streaming/jobs.run_ingest``), so every format shares that query's
  one checkpoint.

Row formats (JSONL/CSV) can't hold nested arrays, so `flatten_for_row_sink`
reproduces the reference's JSON-stringification of bids/asks
(binance-di.py:45-46) at the sink boundary only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROTATE_RECORDS = 100_000  # reference FILE_ROTATION_LINE_COUNT

_FORMATS = {"json": "json", "csv": "csv", "parquet": "parquet", "orc": "orc"}


def flatten_for_row_sink(df: DataFrame) -> DataFrame:
    """JSON-stringify array/struct columns (flat-record formats only)."""
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
            out = out.withColumn(f.name, F.to_json(F.col(f.name)))
    return out


def _writer_options(fmt: str, max_records: int):
    opts = {"maxRecordsPerFile": str(max_records)}
    if fmt == "csv":
        opts["header"] = "true"
    return opts


def write_batch(
    df: DataFrame,
    output_dir: str,
    fmt: str,
    *,
    partition_cols: tuple[str, ...] = ("stream", "symbol"),
    max_records: int = ROTATE_RECORDS,
    mode: str = "append",
) -> None:
    spark_fmt = _FORMATS[fmt]
    if fmt in ("json", "csv"):
        df = flatten_for_row_sink(df)
    writer = df.write.format(spark_fmt).mode(mode)
    for k, v in _writer_options(fmt, max_records).items():
        writer = writer.option(k, v)
    existing = set(df.columns)
    parts = [c for c in partition_cols if c in existing]
    if parts:
        writer = writer.partitionBy(*parts)
    writer.save(f"{output_dir}/{fmt}")
