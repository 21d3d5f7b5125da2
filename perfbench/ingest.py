"""``ingest_files``: seeded Binance frames through ``run_ingest`` into
the four file sinks, checked frame by frame.

A pass replays one closed batch of seeded frames (ticker, trades and
order-book × three symbols, from ``sources.fixtures.gen_raw_messages``
with a seed derived from ``--seed``) through the live trigger and drains
it with ``processAllAvailable``. Its time runs from query start until the
last micro-batch commits. A small first pass warms the JVM and is not
timed; a timed pass offers ``FRAMES`` frames, three full micro-batches.
Every pass is checked. The end-to-end time is the median micro-batch
duration: the median of several batches resists a slow moment of a
shared host better than one pass's wall time does, and in a continuous
ingest the per-query start and stop are paid once, not per batch.

The traced run adds spans per pass and per micro-batch (from a
``StreamingQueryListener``) and per Spark job (from the event log), and
isolated calls into single layers: the source reader, the normalize
step, each file sink and the Redis sink, the last against the in-process
fake Redis, both on its own and as the only sink of ``run_ingest``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter
from datetime import datetime

from perfbench.harness import Result, first_line, geomean, median

STREAMS = ["ticker", "trades", "order-book"]
SYMBOLS = ["BTCUSDT", "ETHUSDT", "SOLUSDT"]
FORMATS = ["json", "csv", "parquet", "orc"]
BATCH = 10_000  # the source's default maxFramesPerBatch
FRAMES = 3 * BATCH
WARM_FRAMES = 6_000  # one micro-batch; also the size of the layer probes
MIN_TIMED_PASSES = 1

LAYER_UNITS = {
    "sources.binance_ws.rows_scanned_per_frame": "rows",
    "sources.binance_ws.read_s": "s",
    "sources.binance_ws.load_s": "s",
    "streaming.jobs.batches": "count",
    "streaming.jobs.add_batch_s": "s",
    "streaming.jobs.overhead_s": "s",
    "streaming.jobs.normalize_s": "s",
    "streaming.jobs.spark_jobs": "count",
    "sinks.files.write_s.json": "s",
    "sinks.files.write_s.csv": "s",
    "sinks.files.write_s.parquet": "s",
    "sinks.files.write_s.orc": "s",
    "sinks.files.bytes_per_frame": "B",
    "sinks.files.files_written": "count",
    "sinks.redis_sink.write_s": "s",
    "sinks.redis_sink.xadd_attempted": "count",
    "sinks.redis_sink.xadd_rejected": "count",
    "sinks.redis_sink.round_trips": "count",
    "sinks.redis_sink.xadd_per_round_trip": "count",
    "sinks.redis_sink.failed_ratio": "ratio",
}


def frame_key(stream: str, payload: dict):
    """(stream, symbol, event id) of a raw frame or of a normalized
    record: the event time, or the book's update id."""
    if stream == "order-book":
        return stream, payload.get("s"), payload.get("u", payload.get("lastUpdateId"))
    return stream, payload.get("s"), payload.get("E", payload.get("event_time"))


def write_frames(root: str, seed: int, frames: int) -> set:
    """Write one pass's replay files; return the offered frame keys."""
    from binance_data_ingestor_spark.sources.fixtures import gen_raw_messages

    keys = set()
    for i, stream in enumerate(STREAMS):
        msgs = gen_raw_messages(
            stream, frames // len(STREAMS), seed=seed * 7 + i, symbols=SYMBOLS
        )
        os.makedirs(f"{root}/{stream}")
        with open(f"{root}/{stream}/part-0000.jsonl", "w") as fh:
            fh.write("\n".join(msgs) + "\n")
        keys.update(frame_key(stream, json.loads(m)) for m in msgs)
    return keys


class Pass:
    def __init__(self, run, name: str, seed: int, frames: int) -> None:
        self.dir = os.path.join(run.dir, name)
        self.name = name
        self.frames = frames
        self.cpu = 0.0  # CPU seconds of the process tree, timed passes only
        self.keys = write_frames(f"{self.dir}/fx", seed, frames)
        self.wall = 0.0
        self.progress: list[dict] = []
        self.error: str | None = None
        self.run_id: str | None = None

    def ingest(self, run, *, files: bool = True, redis_factory=None) -> None:
        """Run the pass; a failing query is recorded, never raised."""
        from binance_data_ingestor_spark.config import Config
        from binance_data_ingestor_spark.streaming.jobs import run_ingest

        cfg = Config(
            symbols=SYMBOLS, streams=STREAMS, outputs=FORMATS if files else [],
            output_dir=f"{self.dir}/out", redis_enabled=redis_factory is not None,
            replay_dir=f"{self.dir}/fx", log=None,
        )
        with run.tracer.span("ingest.pass", pass_name=self.name):
            t0 = time.perf_counter()
            query, _ = run_ingest(
                run.spark, cfg, checkpoint_dir=f"{self.dir}/ckpt",
                redis_client_factory=redis_factory,
            )
            try:
                query.processAllAvailable()
            except Exception:  # noqa: BLE001 - the failure is the measurement
                self.error = first_line(sys.exc_info()[1])
            self.wall = time.perf_counter() - t0
            self.run_id = str(query.runId)
            self.progress = [json.loads(p.json) for p in query.recentProgress]
            query.stop()

    @property
    def add_batch_s(self) -> float:
        return sum(p["durationMs"].get("addBatch", 0) for p in self.progress) / 1000

    @property
    def input_rows(self) -> int:
        return sum(p["numInputRows"] for p in self.progress)


def _read_tree(path: str, fmt: str):
    import pyarrow.csv as pacsv
    import pyarrow.dataset as ds

    file_format = {
        "json": "json", "parquet": "parquet", "orc": "orc",
        # Spark's csv writer escapes inner quotes with a backslash
        "csv": ds.CsvFileFormat(
            parse_options=pacsv.ParseOptions(escape_char="\\"),
            convert_options=pacsv.ConvertOptions(column_types={"data_json": "string"}),
        ),
    }[fmt]
    return ds.dataset(path, format=file_format, partitioning="hive").to_table(
        columns=["stream", "symbol", "data_json"]
    )


def _not_exactly_once(p: Pass, rows) -> int:
    """Frames of pass ``p`` not present exactly once among ``rows`` of
    (stream, symbol, data_json), plus rows that match no offered frame."""
    got = Counter(
        frame_key(str(stream), {**json.loads(data), "s": symbol})
        for stream, symbol, data in rows
    )
    bad = sum(1 for k in p.keys if got[k] != 1)
    bad += sum(n for k, n in got.items() if k not in p.keys)
    return min(bad, p.frames)


def check_files(p: Pass, fmt: str) -> int:
    try:
        t = _read_tree(f"{p.dir}/out/{fmt}", fmt).to_pydict()
    except Exception:  # noqa: BLE001 - an unreadable tree loses every frame
        return p.frames
    return _not_exactly_once(p, zip(t["stream"], t["symbol"], t["data_json"]))


def check_redis(p: Pass, streams) -> int:
    return _not_exactly_once(p, (
        (key.split(":")[1], fields["symbol"], fields["data_json"])
        for key, entries in streams.entries.items() for _, fields in entries
    ))


def _tree_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def run(run) -> Result:
    res = Result()
    listener = None
    run.start_session()
    if run.trace:
        from perfbench.tracing import ProgressListener

        listener = ProgressListener()
        run.spark.streams.addListener(listener)

    passes = [Pass(run, "warm", run.seed * 1000, WARM_FRAMES)]
    passes[0].ingest(run)
    run.collect_garbage()
    timed: list[Pass] = []
    deadline = run.start_timed_phase()
    while len(timed) < MIN_TIMED_PASSES or time.perf_counter() < deadline:
        timed.append(Pass(run, f"pass{len(timed)}", run.seed * 1000 + len(passes), FRAMES))
        passes.append(timed[-1])
        c0 = run.cpu_s()
        timed[-1].ingest(run)
        timed[-1].cpu = run.cpu_s() - c0
        run.collect_garbage()
    run.end_timed_phase()

    for p in passes:
        for fmt in FORMATS:
            res.attempted += p.frames
            res.failed += p.frames if p.error else check_files(p, fmt)
    for p in passes:
        if p.error:
            res.notes.append(f"ingest_files {p.name}: {p.error}")

    ok = [p for p in timed if not p.error]
    batch_s = [
        b["durationMs"]["triggerExecution"] / 1000
        for p in ok for b in p.progress if b["numInputRows"] > 0
    ]
    work_s = median(batch_s)
    res.timings = {
        "work_s": (work_s, "s"),
        "op_geomean_s": (geomean(batch_s), "s"),
        "work_cpu_s": (sum(p.cpu for p in ok) / max(len(batch_s), 1), "s"),
    }
    res.notes.append(
        f"ingest_files: {FRAMES} frames/pass x {len(timed)} timed passes, "
        f"{len(batch_s)} micro-batches of {BATCH} frames, "
        f"ingest_frames_per_s={BATCH / work_s if work_s else 0.0:.1f} (median batch), "
        f"batches_s={[round(b, 3) for b in batch_s]}, "
        f"passes_s={[round(p.wall, 3) for p in ok]}"
    )

    if run.trace:
        res.layer = layer_metrics(run, timed, listener)
    return res


def layer_metrics(run, timed: list[Pass], listener) -> dict:
    from binance_data_ingestor_spark.sinks.files import write_batch
    from binance_data_ingestor_spark.sinks.redis_sink import redis_writer
    from binance_data_ingestor_spark.sources.binance_ws import BinanceWSStreamReader
    from binance_data_ingestor_spark.streaming.jobs import normalize_multiplexed

    from perfbench.redis_fake import FakeRedisServer
    from perfbench.tracing import add_job_spans, parse_event_log

    tr = run.tracer
    out: dict = {}
    ok = [p for p in timed if not p.error]
    frames = sum(p.frames for p in ok)
    out["sources.binance_ws.rows_scanned_per_frame"] = (
        sum(p.input_rows for p in ok) / frames if frames else 0.0, "rows")
    out["streaming.jobs.batches"] = (
        median([sum(1 for b in p.progress if b["numInputRows"] > 0) for p in ok]), "count")
    out["streaming.jobs.add_batch_s"] = (median([p.add_batch_s for p in ok]), "s")
    out["streaming.jobs.overhead_s"] = (median([p.wall - p.add_batch_s for p in ok]), "s")
    sizes = [_tree_bytes(f"{p.dir}/out") for p in ok]
    out["sinks.files.bytes_per_frame"] = (median([s for s, _ in sizes]) / FRAMES, "B")
    out["sinks.files.files_written"] = (median([f for _, f in sizes]), "count")

    probe = Pass(run, "probe", run.seed * 1000 + 999, WARM_FRAMES)
    opts = {
        "symbols": ",".join(SYMBOLS), "streams": ",".join(STREAMS),
        "replay_dir": f"{probe.dir}/fx", "maxFramesPerBatch": str(WARM_FRAMES),
    }
    with tr.span("sources.binance_ws.load"):
        reader = BinanceWSStreamReader(opts)
        t0 = time.perf_counter()
        it, _ = reader.read({"seq": 0})
        rows = list(it)
        out["sources.binance_ws.load_s"] = (time.perf_counter() - t0, "s")
    reads = []
    for _ in range(3):
        with tr.span("sources.binance_ws.read"):
            t0 = time.perf_counter()
            list(reader.read({"seq": 0})[0])
            reads.append(time.perf_counter() - t0)
    out["sources.binance_ws.read_s"] = (median(reads), "s")

    spark = run.spark
    raw = spark.createDataFrame(rows, "value string, stream string, symbol string").persist()
    raw.count()
    norm = []
    for _ in range(3):
        with tr.span("streaming.jobs.normalize"):
            t0 = time.perf_counter()
            normalize_multiplexed(raw, STREAMS).write.format("noop").mode("overwrite").save()
            norm.append(time.perf_counter() - t0)
    out["streaming.jobs.normalize_s"] = (median(norm), "s")

    wire = normalize_multiplexed(raw, STREAMS).persist()
    wire.count()
    for fmt in FORMATS:
        ws = []
        for i in range(2):
            with tr.span("sinks.files.write_batch", fmt=fmt):
                t0 = time.perf_counter()
                write_batch(wire, f"{probe.dir}/sink{i}", fmt)
                ws.append(time.perf_counter() - t0)
        out[f"sinks.files.write_s.{fmt}"] = (median(ws), "s")

    with FakeRedisServer(run.cores) as server:
        with tr.span("sinks.redis_sink.write") as sp:
            t0 = time.perf_counter()
            try:
                redis_writer(client_factory=server.client_factory)(wire, 0)
            except Exception:  # noqa: BLE001 - recorded as the layer's failure
                if sp is not None:
                    sp["error"] = first_line(sys.exc_info()[1])
            out["sinks.redis_sink.write_s"] = (time.perf_counter() - t0, "s")
        # the same frames with Redis as run_ingest's only sink
        server.reset()
        probe.ingest(run, files=False, redis_factory=server.client_factory)
        st = server.streams
        failed = probe.frames if probe.error else check_redis(probe, st)
        out["sinks.redis_sink.xadd_attempted"] = (float(st.attempted), "count")
        out["sinks.redis_sink.xadd_rejected"] = (float(st.rejected), "count")
        out["sinks.redis_sink.round_trips"] = (float(st.round_trips), "count")
        out["sinks.redis_sink.xadd_per_round_trip"] = (
            st.attempted / st.round_trips if st.round_trips else 0.0, "count")
        out["sinks.redis_sink.failed_ratio"] = (failed / probe.frames, "ratio")
    raw.unpersist()
    wire.unpersist()

    # micro-batch spans from the listener, Spark job spans from the event
    # log (flushed at each job end, so complete up to the last job)
    jobs = parse_event_log(
        os.path.join(run.dir, "eventlog"), run.spark.sparkContext.applicationId
    )
    n_jobs = []
    for p in ok:
        pass_span = next(
            s for s in tr.spans if s["name"] == "ingest.pass" and s.get("pass_name") == p.name
        )
        for b in listener.for_query(p.run_id):
            start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
            end = start + b["durationMs"]["triggerExecution"] / 1000
            bid = tr.add(
                "streaming.microbatch", start, end, pass_span["id"],
                batch_id=b["batchId"], input_rows=b["numInputRows"], duration_ms=b["durationMs"],
            )
            for j in jobs.values():
                if start <= j["start"] <= end and j["end"]:
                    add_job_spans(tr, j, bid)
        n_jobs.append(sum(
            1 for j in jobs.values() if pass_span["start"] <= j["start"] <= pass_span["end"]
        ))
    out["streaming.jobs.spark_jobs"] = (median(n_jobs), "count")
    return out
