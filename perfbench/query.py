"""``query_mix``: one registry query from each of eight query modules,
over seeded synthetic tables, each checked against its DuckDB oracle.

The list is fixed; ``--seed`` sets the order the queries run in, pass by
pass. Each query is timed in two phases: ``build``, the registry call
(plan construction plus any eager driver-side jobs), and ``execute``,
``toPandas()`` on the result (the whole plan runs and its rows reach the
driver). Outside the timed span, every result of every pass is compared
at full precision with the query's DuckDB oracle, canonicalized as
``scripts/verify_strict.py`` does. Passes repeat until ``--seconds``
have gone, at least one; the first pass is cold (each query compiles
its code for the first time in this JVM), which is what a process that
runs a query once pays.

The traced run reads every Spark job from the event log, attributes it
to the query and phase whose span it started in (a streaming query's
jobs carry its own job group, so groups cannot be used), and reports
jobs, task time, shuffle and spill per registry module.
"""

from __future__ import annotations

import importlib.util
import os
import random
import sys
import time

from perfbench.harness import ROOT, WORK, Result, first_line, geomean, median

SF = 0.01
DATA_SEED = 42
QUERIES = [
    # scan-type: Catalyst, AQE, shuffle and codegen do the work
    "q01_pricing_summary",  # relational
    "q21_tumbling_ohlcv",  # streaming_like
    "q31_orderbook_metrics",  # binance_ops, the paper's downstream queries
    "q104_rolling_corr",  # timeseries_ops
    "q88_heavy_hitters",  # profiling_ops
    # iterative: driver-side loops over many small jobs
    "q99_pagerank",  # graph_ops
    "q55_curation_pipeline",  # text_ops
    "q206_markov_attribution",  # analytics_ops
]
MIN_TIMED_PASSES = 1
MODULES = [
    "relational", "streaming_like", "binance_ops", "timeseries_ops",
    "graph_ops", "text_ops", "profiling_ops", "analytics_ops",
]
_PER_MODULE = {
    "build_s": "s", "execute_s": "s", "jobs": "count", "task_s": "s",
    "busy_ratio": "ratio", "shuffle_bytes": "B", "spill_bytes": "B",
}
LAYER_UNITS = {
    f"queries.{m}.{k}": u for m in MODULES for k, u in _PER_MODULE.items()
}


def ensure_data() -> str:
    """The query tables, generated once per checkout."""
    from perfbench import datagen

    path = os.path.join(WORK, f"data-sf{SF}-seed{DATA_SEED}")
    if not os.path.isdir(path):
        os.makedirs(WORK, exist_ok=True)
        datagen.write(path, SF, DATA_SEED)
    return path


def _canon_frame():
    spec = importlib.util.spec_from_file_location(
        "verify_strict", os.path.join(ROOT, "scripts", "verify_strict.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_frame


def oracle_results(sf_dir: str, oracles, canon) -> dict:
    """Each query's canonical oracle result, or why there is none."""
    import duckdb

    want = {}
    with duckdb.connect() as con:
        for f in sorted(os.listdir(sf_dir)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS FROM '{sf_dir}/{f}'")
        for name in QUERIES:
            try:
                want[name] = canon(con.execute(oracles[name]).fetchdf())
            except Exception:  # noqa: BLE001 - the query fails every check
                want[name] = "oracle " + first_line(sys.exc_info()[1])
    return want


def compare(got, want) -> str | None:
    """None when a canonical result equals the oracle's, else why not."""
    if isinstance(want, str):
        return want
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"{len(got[1])} rows differ from the oracle's {len(want[1])}"
    return None


def run(run) -> Result:
    from binance_data_ingestor_spark.queries import registry

    res = Result()
    sf_dir = ensure_data()
    qs, oracles = registry()
    canon = _canon_frame()
    want = oracle_results(sf_dir, oracles, canon)
    rng = random.Random(run.seed)
    tr = run.tracer

    run.start_session()
    spark = run.spark

    order = list(QUERIES)
    build: dict[str, list[float]] = {n: [] for n in QUERIES}
    execute: dict[str, list[float]] = {n: [] for n in QUERIES}
    cpu: dict[str, list[float]] = {n: [] for n in QUERIES}
    broken: set[str] = set()
    deadline = run.start_timed_phase()
    p = 0
    while p < MIN_TIMED_PASSES or time.perf_counter() < deadline:
        rng.shuffle(order)
        for name in order:
            if name in broken:
                continue
            res.attempted += 1
            with tr.span("query", query=name, pass_index=p):
                c0 = run.cpu_s()
                try:
                    with tr.span("query.build"):
                        t0 = time.perf_counter()
                        df = qs[name](spark, sf_dir)
                        t1 = time.perf_counter()
                    with tr.span("query.execute"):
                        pdf = df.toPandas()
                        t2 = time.perf_counter()
                except Exception:  # noqa: BLE001 - counted, and the query leaves the run
                    broken.add(name)
                    res.failed += 1
                    res.notes.append(f"query_mix {name} pass {p}: " + first_line(sys.exc_info()[1]))
                    continue
                c1 = run.cpu_s()
                with tr.span("query.check"):
                    why = compare(canon(pdf), want[name])
            if why:
                res.failed += 1
                res.notes.append(f"query_mix {name} pass {p}: {why}")
            build[name].append(t1 - t0)
            execute[name].append(t2 - t1)
            cpu[name].append(c1 - c0)
            del df, pdf
            run.collect_garbage()
        p += 1
    run.end_timed_phase()
    timed = range(p)

    per_query = {
        n: median([b + e for b, e in zip(build[n], execute[n])])
        for n in QUERIES if build[n] and n not in broken
    }
    total, gm = sum(per_query.values()), geomean(list(per_query.values()))
    res.timings = {
        "work_s": (total, "s"),
        "op_geomean_s": (gm, "s"),
        "work_cpu_s": (sum(median(cpu[n]) for n in per_query), "s"),
    }
    res.notes.append(
        f"query_mix: {len(per_query)} queries x {len(timed)} passes, "
        f"query_total_s={total:.3f}, query_geomean_s={gm:.3f}, "
        + ", ".join(f"{n.split('_')[0]}={t:.3f}" for n, t in per_query.items())
    )
    if run.trace:
        res.layer = layer_metrics(run, qs, build, execute, timed)
    return res


def layer_metrics(run, qs, build, execute, timed: range) -> dict:
    from perfbench.tracing import add_job_spans, parse_event_log

    tr = run.tracer
    jobs = parse_event_log(
        os.path.join(run.dir, "eventlog"), run.spark.sparkContext.applicationId
    )
    phases = [
        (s, tr.spans[s["parent"]]) for s in tr.spans
        if s["name"] in ("query.build", "query.execute")
    ]
    by_query: dict[tuple[str, int], list[dict]] = {}
    for j in jobs.values():
        for ph, q in phases:
            if ph["start"] <= j["start"] <= ph["end"]:
                by_query.setdefault((q["query"], q["pass_index"]), []).append(j)
                add_job_spans(tr, j, ph["id"])
                break

    out: dict = {}
    n = max(len(timed), 1)
    for mod in MODULES:
        names = [q for q in QUERIES if qs[q].__module__.endswith("." + mod) and build[q]]
        b = sum(median(build[q]) for q in names)
        e = sum(median(execute[q]) for q in names)
        mj = [j for q in names for p in timed for j in by_query.get((q, p), [])]
        task_s = sum(j["task_s"] for j in mj) / n
        out[f"queries.{mod}.build_s"] = (b, "s")
        out[f"queries.{mod}.execute_s"] = (e, "s")
        out[f"queries.{mod}.jobs"] = (len(mj) / n, "count")
        out[f"queries.{mod}.task_s"] = (task_s, "s")
        out[f"queries.{mod}.busy_ratio"] = (
            task_s / ((b + e) * run.cores) if b + e else 0.0, "ratio")
        out[f"queries.{mod}.shuffle_bytes"] = (sum(j["shuffle_bytes"] for j in mj) / n, "B")
        out[f"queries.{mod}.spill_bytes"] = (sum(j["spill_bytes"] for j in mj) / n, "B")
    return out
