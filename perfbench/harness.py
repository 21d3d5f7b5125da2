"""Shared run machinery: session set-up and teardown, the result type
and small statistics helpers."""

from __future__ import annotations

import gc
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
DRIVER_MEM = "2g"
YOUNG_GEN = "256m"


def require_engine() -> None:
    """Exit 2 unless the engine package and the strict-compare script
    sit beside the benchmark (a checkout, not a bare copy of it)."""
    missing = [
        p for p in ("binance_data_ingestor_spark/__init__.py", "scripts/verify_strict.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        sys.exit(2)


def local_env(run_dir: str) -> None:
    """Keep Spark's and the engine's scratch files inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_STREAM_TMP"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # a bounded driver heap, so peak RSS reflects what the run holds
    # rather than how far the JVM let an unbounded heap grow
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault(
        "PYTHONWARNINGS",
        "ignore:The behavior of DataFrame concatenation:FutureWarning",
    )


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """What one benchmark invocation shares across its phases."""

    def __init__(self, args, tracer, run_dir: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.dir = run_dir
        self.cores = cores()
        self.spark = None
        self.rss = None  # the run's RssSampler
        self.peak_rss_mb = 0.0
        self.get_spark_s = 0.0
        self.warmup_s = 0.0

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap and young generation: G1 otherwise grows and
            # shrinks both from GC feedback, and with them how much
            # memory the JVM has touched, so peak RSS wanders run to run
            # (10-seed spread 0.18 without, 0.02 with). Scratch inside
            # the checkout; no hsperfdata file in /tmp.
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -XX:-UsePerfData "
                "-Djava.io.tmpdir=" + os.environ["TMPDIR"],
        }
        if self.trace:
            from perfbench.tracing import event_log_conf

            conf.update(event_log_conf(os.path.join(self.dir, "eventlog")))
        return conf

    def start_session(self) -> None:
        """Set the session up as the program does, once per process:
        ``get_spark`` (which launches the JVM) plus one small warm-up
        job. Their sum is ``setup_s``."""
        from binance_data_ingestor_spark.session import get_spark

        with self.tracer.span("session.setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench", extra_conf=self.conf())
            t1 = time.perf_counter()
            with self.tracer.span("session.warmup"):
                _warmup(self.spark, self.cores)
            t2 = time.perf_counter()
        self.get_spark_s, self.warmup_s = t1 - t0, t2 - t1

    def collect_garbage(self) -> None:
        """Between timed operations: collect Python garbage (which frees
        JVM-side handles such as checkpointed RDDs) and the JVM heap, so
        each operation starts from the same heap state."""
        gc.collect()
        self.spark._jvm.System.gc()

    def cpu_s(self) -> float:
        """CPU seconds used so far by this run's process tree."""
        from perfbench.tracing import cpu_seconds

        return cpu_seconds(os.getpid())

    def start_timed_phase(self) -> float:
        """Begin the measured span; peak RSS is taken over it. Returns
        the deadline for starting further timed passes."""
        self.rss.reset()
        return time.perf_counter() + self.seconds

    def end_timed_phase(self) -> None:
        self.peak_rss_mb = self.rss.peak_mb

    @property
    def setup_s(self) -> float:
        return self.get_spark_s + self.warmup_s

    def session_layer_metrics(self) -> dict[str, tuple[float, str]]:
        return {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "session.warmup_s": (self.warmup_s, "s"),
        }

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for every process
        this run started (JVM, Python daemon and workers) to end."""
        from perfbench.tracing import process_tree

        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the launcher exits when stdin closes
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 - fall through to kill
                        proc.kill()
                        proc.wait()
            self.spark = None
        deadline = time.time() + 30
        me = os.getpid()
        while len(process_tree(me)) > 1 and time.time() < deadline:
            time.sleep(0.1)
        for pid in process_tree(me)[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        for pid in process_tree(me)[1:]:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def _warmup(spark, n: int) -> None:
    spark.range(1 << 16, numPartitions=n).selectExpr("sum(id)").collect()


def first_line(exc: BaseException) -> str:
    """Exception class and the first line of its message."""
    msg = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {msg[0] if msg else ''}"


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


@dataclass
class Result:
    """A workload's outcome: operations checked and failed, whole-workload
    timings and per-layer metrics (traced run), each as
    ``name -> (value, unit)``, plus human-readable lines."""

    attempted: int = 0
    failed: int = 0
    timings: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)
