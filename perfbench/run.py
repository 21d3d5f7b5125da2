"""The repository benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):

- ``ingest_files``: the paper's ingest dataflow. Seeded Binance frames
  (ticker, trades and order-book for three symbols) are replayed through
  ``run_ingest`` into the json, csv, parquet and orc sinks, with the
  live trigger, drained by ``processAllAvailable``.
- ``query_mix``: one registry query from each of eight query modules,
  scan-type and iterative, over seeded synthetic tables, in a seeded
  order.

Every run sets the engine session up once, as the program does
(``get_spark``, which launches the JVM, plus a warm-up job: ``setup_s``),
then repeats passes for ``--seconds``, at least one. Every pass's output
is checked outside the timed span: each frame exactly once in each file
sink, each query result equal to its DuckDB oracle. Failures count into
``failed``; nothing raises. The ingest workload's first, smaller pass
warms the JVM and is not timed; the query workload's first pass is
timed cold.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans, a Spark event log and a streaming progress
listener, plus isolated calls into single layers, and reports the
per-layer metrics. Spans are written to
``perfbench/.work/traces/<workload>-seed<n>.json``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The run exits non-zero, printing no result, when the engine package is
not next to ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import WORK, Run, local_env, require_engine  # noqa: E402

WORKLOADS = ("ingest_files", "query_mix")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    require_engine()
    # a terminated run still stops the JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from perfbench import ingest, query
    from perfbench.tracing import RssSampler, Tracer

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    local_env(run_dir)
    tracer = Tracer(f"{args.workload}-seed{args.seed}", enabled=bool(args.trace))
    run = Run(args, tracer, run_dir)
    workload = ingest if args.workload == "ingest_files" else query
    try:
        with RssSampler() as run.rss, tracer.span("workload", workload=args.workload):
            try:
                result = workload.run(run)
            finally:
                run.stop()
    finally:
        if tracer.enabled:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.write(os.path.join(WORK, "traces", f"{tracer.trace_id}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        # every workload reports every layer; a layer the workload does
        # not run did no work in it
        metrics = {
            name: (0.0, unit)
            for name, unit in {**ingest.LAYER_UNITS, **query.LAYER_UNITS}.items()
        }
        metrics.update(run.session_layer_metrics())
        metrics.update(result.layer)
        # the workload timings under tracing; minus the untraced ones,
        # they give the tracing overhead
        metrics.update({f"traced.{k}": v for k, v in result.timings.items()})
    else:
        # CPU seconds, not wall seconds, carry the bound: on a shared
        # 4-vCPU host whose steal swings from 1% to 16%, wall time spreads
        # too far from run to run. Wall timings are printed above.
        metrics = {
            "setup_s": (run.setup_s, "s"),
            "work_cpu_s": result.timings["work_cpu_s"],
            "peak_rss_mb": (run.peak_rss_mb, "MB"),
        }
    result.notes.append(", ".join(f"{k}={v:.4f}" for k, (v, _) in result.timings.items()))
    for line in result.notes:
        print(line)
    print(json.dumps({
        "correct": result.failed == 0 and result.attempted > 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
