"""Console sink, both reference modes (SURVEY §2.1 S8).

- human mode: banner + indented JSON per record (binance-di.py:127-136);
- machine mode (``--silent``): one-line envelope JSON, flushed, suitable
  for `... | jq` pipelines (binance-di.py:130-132; README §usage).

Both printers take the ingest wire rows ``(stream, symbol, data_json)``;
``streaming/jobs.run_ingest`` calls one of them on each micro-batch
inside its single foreachBatch.  Driver-side printing is inherently a
single-consumer operation (it was in the reference too); the collect is
bounded by the micro-batch size.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def print_machine(df: DataFrame, out=None) -> int:
    """--silent mode: one JSON line per record, flushed (pipe-friendly)."""
    out = out or sys.stdout
    # data_json is already serialized; splice it in as raw JSON
    rows = df.select(
        F.concat(
            F.lit('{"stream": "'),
            F.col("stream"),
            F.lit('", "symbol": "'),
            F.col("symbol"),
            F.lit('", "data": '),
            F.col("data_json"),
            F.lit("}"),
        ).alias("line")
    ).collect()
    for r in rows:
        print(r.line, file=out, flush=True)
    return len(rows)


def print_human(df: DataFrame, out=None) -> int:
    """Interactive mode: banner + pretty JSON (reference print block)."""
    out = out or sys.stdout
    rows = df.collect()
    for row in rows:
        print("=" * 60, file=out)
        print(f"Stream: {row.stream} | Symbol: {row.symbol}", file=out)
        print("=" * 60, file=out)
        print(json.dumps(json.loads(row.data_json), indent=2), file=out, flush=True)
    return len(rows)
