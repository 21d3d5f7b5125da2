"""Measurement helpers: in-memory spans, a process-tree RSS sampler,
Spark event-log parsing and a streaming progress listener.

Everything here observes the engine from outside: spans wrap calls the
benchmark makes into the engine's public functions, and the Spark-side
numbers come from Spark's own event log and streaming progress events.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans kept in memory (name, start, end, parent, trace id) and
    written out once at the end. A disabled tracer records nothing."""

    def __init__(self, trace_id: str, enabled: bool) -> None:
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "trace_id": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (Spark jobs, micro-batches)."""
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "trace_id": self.trace_id,
            "parent": parent, "start": start, "end": end, **attrs,
        })
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _children(pid: int) -> list[int]:
    # a child is listed under the thread that forked it, and the JVM
    # forks Python workers from non-main threads
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(root: int) -> float:
    """CPU time (user + system) used so far by ``root``'s process tree,
    including its exited and reaped children (Python workers)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` if it is the JVM or a Python process,
    else 0. Other members of the tree are short-lived helpers, or a JVM
    fork before it execs one; such a fork is named after the forking
    thread and still maps the whole JVM, so counting it would double the
    JVM's share for one sample."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            if not fh.read().startswith(("java", "python")):
                return 0
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (JVM, Python daemon and workers), polled from /proc on a background
    thread.
    The process tree is re-read every ``tree_every`` samples; walking
    every JVM thread's children list on each sample would cost the
    driver process noticeable CPU."""

    def __init__(self, interval_s: float = 0.2, tree_every: int = 5) -> None:
        self.interval_s = interval_s
        self.tree_every = tree_every
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me, tree, n = os.getpid(), [], 0
        while not self._stop.is_set():
            if n % self.tree_every == 0:
                tree = process_tree(me)
            n += 1
            total = sum(_rss_bytes(p) for p in tree)
            with self._lock:
                self.peak = max(self.peak, total)
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        """Start a new peak from the next sample."""
        with self._lock:
            self.peak = 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress event (``durationMs``,
    ``numInputRows``) of every streaming query in the session."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_query(self, run_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.events if p["runId"] == run_id]


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def parse_event_log(log_dir: str, app_id: str) -> dict[int, dict]:
    """Per-job summary from one application's Spark event log: group id,
    start/end (s), stage count and task totals (run time, shuffle write,
    spill)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _event_log_lines(log_dir, app_id):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:  # the in-progress log's last line
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000,
                "end": None, "stages": len(ev["Stage IDs"]),
                "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
                "stage_spans": [],
            }
            for sid in ev["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is not None and "Submission Time" in info:
                job["stage_spans"].append({
                    "stage": info["Stage ID"], "name": info["Stage Name"],
                    "tasks": info["Number of Tasks"],
                    "start": info["Submission Time"] / 1000,
                    "end": info["Completion Time"] / 1000,
                })
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job["tasks"] += 1
            job["task_s"] += m.get("Executor Run Time", 0) / 1000
            job["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return jobs


def add_job_spans(tracer: Tracer, job: dict, parent: int | None) -> None:
    """A Spark job as a span, with one child span per stage."""
    jid = tracer.add(
        "spark.job", job["start"], job["end"] or job["start"], parent,
        stages=job["stages"], tasks=job["tasks"], task_s=job["task_s"],
        shuffle_bytes=job["shuffle_bytes"], spill_bytes=job["spill_bytes"],
    )
    for st in job["stage_spans"]:
        tracer.add("spark.stage", st["start"], st["end"], jid,
                   stage=st["stage"], stage_name=st["name"], tasks=st["tasks"])


def _event_log_lines(log_dir: str, app_id: str):
    """Lines of the application's log: a single file, or (rolling
    format) the ``events_<n>_<app>`` files of ``eventlog_v2_<app>/``."""
    single = os.path.join(log_dir, app_id)
    for path in (single, single + ".inprogress"):
        if os.path.isfile(path):
            paths = [path]
            break
    else:
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        names = [n for n in os.listdir(d) if n.startswith("events_")]
        paths = [os.path.join(d, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]
    for path in paths:
        with open(path) as fh:
            yield from fh
