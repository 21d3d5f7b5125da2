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


def flatten_for_row_sink(df: DataFrame) -> DataFrame:
    """JSON-stringify array/struct columns (flat-record formats only)."""
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
            out = out.withColumn(f.name, F.to_json(F.col(f.name)))
    return out


def write_batch(
    df: DataFrame, output_dir: str, fmt: str, *, max_records: int = ROTATE_RECORDS
) -> None:
    """Append ``df`` to ``{output_dir}/{fmt}`` (fmt: json, csv, parquet
    or orc), partitioned by whichever of (stream, symbol) it carries."""
    if fmt in ("json", "csv"):
        df = flatten_for_row_sink(df)
    writer = (
        df.write.format(fmt)
        .mode("append")
        .option("maxRecordsPerFile", str(max_records))
    )
    if fmt == "csv":
        writer = writer.option("header", "true")
    parts = [c for c in ("stream", "symbol") if c in df.columns]
    if parts:
        writer = writer.partitionBy(*parts)
    writer.save(f"{output_dir}/{fmt}")
