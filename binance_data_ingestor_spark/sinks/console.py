"""Console sink, both reference modes (SURVEY §2.1 S8).

- human mode: banner + indented JSON per record (binance-di.py:127-136);
- machine mode (``--silent``): one-line envelope JSON, flushed, suitable
  for `... | jq` pipelines (binance-di.py:130-132; README §usage).

Both printers take a DataFrame; ``streaming/jobs.run_ingest`` calls one
of them on each micro-batch inside its single foreachBatch.  Driver-side
printing is inherently a single-consumer operation (it was in the
reference too); the collect is bounded by the micro-batch size.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _envelope_lines(df: DataFrame) -> list[str]:
    cols = df.columns
    if {"stream", "symbol", "data"}.issubset(cols):
        j = df.select(
            F.to_json(F.struct("stream", "symbol", "data")).alias("line")
        )
    elif {"stream", "symbol", "data_json"}.issubset(cols):
        # data_json is already serialized; splice it in as raw JSON
        j = df.select(
            F.concat(
                F.lit('{"stream": "'),
                F.col("stream"),
                F.lit('", "symbol": "'),
                F.col("symbol"),
                F.lit('", "data": '),
                F.col("data_json"),
                F.lit("}"),
            ).alias("line")
        )
    else:
        j = df.select(F.to_json(F.struct(*cols)).alias("line"))
    return [r.line for r in j.collect()]


def print_machine(df: DataFrame, out=None) -> int:
    """--silent mode: one JSON line per record, flushed (pipe-friendly)."""
    out = out or sys.stdout
    lines = _envelope_lines(df)
    for line in lines:
        print(line, file=out, flush=True)
    return len(lines)


def print_human(df: DataFrame, out=None) -> int:
    """Interactive mode: banner + pretty JSON (reference print block)."""
    out = out or sys.stdout
    rows = df.collect()
    cols = df.columns
    for row in rows:
        d = row.asDict(recursive=True)
        stream = d.get("stream", "?")
        symbol = d.get("symbol", "?")
        payload = d.get("data", d)
        print("=" * 60, file=out)
        print(f"Stream: {stream} | Symbol: {symbol}", file=out)
        print("=" * 60, file=out)
        print(json.dumps(payload, indent=2, default=str), file=out, flush=True)
    return len(rows)
