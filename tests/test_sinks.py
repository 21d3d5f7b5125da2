"""File / console / Redis sink behavior (S3-S11)."""

from __future__ import annotations

import glob
import io
import json

import pytest
from pyspark.sql import functions as F

from binance_data_ingestor_spark.sinks import console
from binance_data_ingestor_spark.sinks.files import (
    flatten_for_row_sink,
    write_batch,
)
from binance_data_ingestor_spark.sinks.redis_sink import (
    prepare_for_redis,
    redis_writer,
)


@pytest.fixture()
def wire_df(spark):
    rows = [
        ("ticker", "BTCUSDT", '{"last_price": "1.0", "event_time": 1}'),
        ("ticker", "ETHUSDT", '{"last_price": "2.0", "event_time": 2}'),
        ("trades", "BTCUSDT", '{"price": "3.0", "event_time": 3}'),
    ]
    return spark.createDataFrame(rows, "stream string, symbol string, data_json string")


def test_write_batch_partitions_by_stream_symbol(spark, wire_df, tmp_path):
    out = str(tmp_path / "out")
    for fmt in ("json", "csv", "parquet", "orc"):
        write_batch(wire_df, out, fmt)
        files = glob.glob(f"{out}/{fmt}/stream=*/symbol=*/*")
        assert files, f"no partitioned files for {fmt}"
    # partition pruning contract: reading one (stream, symbol) touches one dir
    back = spark.read.parquet(f"{out}/parquet")
    one = back.filter((F.col("stream") == "ticker") & (F.col("symbol") == "BTCUSDT"))
    assert one.count() == 1


def test_flatten_for_row_sink_serializes_nested(spark):
    df = spark.createDataFrame(
        [(1, [{"price": "1", "qty": "2"}])],
        "id long, bids array<struct<price:string, qty:string>>",
    )
    row = flatten_for_row_sink(df).collect()[0]
    assert isinstance(row.bids, str) and json.loads(row.bids)[0]["price"] == "1"


def test_console_machine_mode_envelope(wire_df):
    buf = io.StringIO()
    n = console.print_machine(wire_df.orderBy("stream", "symbol"), out=buf)
    lines = [json.loads(line) for line in buf.getvalue().strip().split("\n")]
    assert n == 3 and len(lines) == 3
    assert lines[0]["stream"] == "ticker"
    assert lines[0]["data"]["last_price"] == "1.0"  # spliced as raw JSON


def test_console_human_mode_banner(wire_df):
    buf = io.StringIO()
    console.print_human(wire_df.orderBy("stream", "symbol").limit(1), out=buf)
    text = buf.getvalue()
    assert "=" * 60 in text and "Stream: " in text and "Symbol: " in text
    # the payload itself, pretty-printed under the banner (reference
    # prints json.dumps(payload, indent=2)), not the escaped wire row
    assert '"last_price": "1.0"' in text
    assert "data_json" not in text


class FakePipe:
    """File-backed XADD fake: foreachPartition runs in executor worker
    processes, so the store must be a shared medium (a directory), not a
    driver-side dict. One file per (key, id) = Redis Streams' duplicate-ID
    rejection for free."""

    def __init__(self, root):
        self.root = root
        self.pending = []

    def xadd(self, key, fields, id=None):
        self.pending.append((key, id, fields))

    def execute(self, raise_on_error=True):
        import os

        for key, rid, fields in self.pending:
            d = os.path.join(self.root, key.replace(":", "_"))
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, rid)
            if os.path.exists(path):
                continue  # duplicate ID → rejected individually (idempotent)
            with open(path, "w") as fh:
                json.dump(fields, fh)
        self.pending.clear()


class FakeRedis:
    def __init__(self, root):
        self.root = root

    def pipeline(self, transaction=False):
        return FakePipe(self.root)


def _read_store(root):
    import os

    out = {}
    for key in os.listdir(root):
        kdir = os.path.join(root, key)
        out[key] = {
            rid: json.load(open(os.path.join(kdir, rid))) for rid in os.listdir(kdir)
        }
    return out


def test_redis_sink_keys_and_idempotent_ids(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("order-book", "BTCUSDT", 1000, "100.0"),
            ("order-book", "BTCUSDT", 1000, "100.1"),
            ("ticker", "ETHUSDT", 2000, "5.0"),
        ],
        "stream string, symbol string, event_time long, price string",
    )
    prepared = prepare_for_redis(df)
    keys = {r["__redis_key"] for r in prepared.select("__redis_key").collect()}
    # canonical hyphenated stream key + lower-cased symbol (binance-di.py:144)
    assert keys == {"binance:order-book:btcusdt", "binance:ticker:ethusdt"}
    ids = sorted(
        r["__redis_id"]
        for r in prepared.filter(F.col("stream") == "order-book").collect()
    )
    assert ids == ["1000-0", "1000-1"]  # deterministic seq per (key, event_ms)

    root = str(tmp_path / "redis_store")
    writer = redis_writer(client_factory=lambda h, p, _r=root: FakeRedis(_r))
    writer(df, 0)
    writer(df, 0)  # replayed batch → same IDs → no duplicates
    store = _read_store(root)
    assert len(store["binance_order-book_btcusdt"]) == 2
    assert len(store["binance_ticker_ethusdt"]) == 1
    fields = store["binance_ticker_ethusdt"]["2000-0"]
    assert fields["price"] == "5.0" and fields["stream"] == "ticker"


def test_file_rotation_max_records(spark, tmp_path):
    """S9: maxRecordsPerFile rotates files at the cap (reference's
    100k-line FILE_ROTATION_LINE_COUNT, binance-di.py:32, scaled down)."""
    df = spark.range(250).select(
        F.lit("ticker").alias("stream"),
        F.lit("BTCUSDT").alias("symbol"),
        F.col("id").cast("string").alias("v"),
    ).coalesce(1)
    out = str(tmp_path / "rot")
    write_batch(df, out, "json", max_records=100)
    files = glob.glob(f"{out}/json/stream=*/symbol=*/part-*")
    assert len(files) >= 3  # 250 rows / 100-record cap → ≥3 part files
    total = sum(1 for f in files for _ in open(f))
    assert total == 250


def test_csv_header_written(spark, tmp_path):
    """S5: CSV files carry the header row (reference freezes it from the
    first payload; here it's the schema, binance-di.py:175-177)."""
    df = spark.createDataFrame(
        [("ticker", "BTCUSDT", "1.0")], "stream string, symbol string, px string"
    )
    out = str(tmp_path / "csvh")
    write_batch(df, out, "csv")
    files = glob.glob(f"{out}/csv/stream=*/symbol=*/part-*")
    first_lines = [open(f).readline().strip() for f in files]
    assert any(line == "px" for line in first_lines)
