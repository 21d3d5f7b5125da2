"""Custom stateful streaming operators (SURVEY §2.6 T5).

The reference keeps only writer-side state (buffer dicts keyed
``{stream}_{symbol}_{fmt}``, `/root/reference/binance-di.py:155-191`);
these are the engine-grade stateful operators a training-data pipeline
needs on top, all on ``applyInPandasWithState`` with event-time
timeouts except the dedup:

- watermark-ordered operators that emit each result exactly once, when
  the watermark proves it final: session windows with custom merge
  logic (``sessionize_stream`` — Spark's native ``session_window``
  covers the simple case), Markov transitions
  (``transition_counts_stream``), trailing-window analytics
  (``rolling_window_stream``) and the VPIN volume clock
  (``vpin_stream``);
- per-key sketch streams that emit a snapshot with every data batch,
  through one keyed-snapshot driver (``_snapshot_stream``):
  Misra-Gries heavy hitters, KMV distinct, XOR digest, flag counters
  and GK quantiles — each sketch is a pure ``step`` over its state;
- watermarked exact deduplication (``dedup_stream``).

Scale notes: state lives in the state store partitioned by group key
and holds summaries, never the raw stream — open sessions, the
out-of-watermark buffer, or an O(capacity) sketch per key. Watermark +
event-time timeout bound both memory and emission latency; keys idle
past ``IDLE_STATE_TTL_MS`` of event time are dropped.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WATERMARK = "30 minutes"
IDLE_STATE_TTL_MS = 86_400_000  # one day of event time
GAP_SECONDS = 1800

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sess_value", DoubleType()),
        StructField("sess_start", LongType()),  # epoch micros
        StructField("sess_end", LongType()),
    ]
)

# open sessions, parallel arrays sorted by start_sec
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_sec", ArrayType(LongType())),
        StructField("end_sec", ArrayType(LongType())),
        StructField("n", ArrayType(LongType())),
        StructField("val", ArrayType(DoubleType())),
        StructField("ts_min_us", ArrayType(LongType())),
        StructField("ts_max_us", ArrayType(LongType())),
    ]
)

_Sess = Tuple[int, int, int, float, int, int]  # start_sec, end_sec, n, val, us_min, us_max


def _merge(sessions: list[_Sess], gap: int) -> list[_Sess]:
    """Fold start-sorted session summaries, merging where the gap rule
    (start - prev_end <= gap keeps the same session) allows. Exact
    batch parity: events between two summaries don't exist, so summary
    adjacency is the full gap criterion."""
    out: list[_Sess] = []
    for s in sorted(sessions):
        if out and s[0] - out[-1][1] <= gap:
            p = out[-1]
            out[-1] = (
                p[0],
                max(p[1], s[1]),
                p[2] + s[2],
                p[3] + s[3],
                min(p[4], s[4]),
                max(p[5], s[5]),
            )
        else:
            out.append(s)
    return out


def _sessionize_fn(gap: int):
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        sessions: list[_Sess] = []
        if state.exists:
            st = state.get
            sessions = [
                (int(a), int(b), int(c), float(d), int(e), int(f))
                for a, b, c, d, e, f in zip(*st)
            ]

        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                us = pdf["ts"].astype("datetime64[us]").astype("int64")
                secs = us // 1_000_000
                for u, sec, val in zip(us, secs, pdf["value"]):
                    sessions.append(
                        (int(sec), int(sec), 1, float(val), int(u), int(u))
                    )
        sessions = _merge(sessions, gap)

        # a session is final once no in-watermark event can extend it:
        # every extender would have ts_sec <= end_sec + gap
        wm_sec = state.getCurrentWatermarkMs() // 1000
        closed = [s for s in sessions if s[1] + gap < wm_sec]
        open_ = [s for s in sessions if s[1] + gap >= wm_sec]

        if open_:
            state.update(
                (
                    [s[0] for s in open_],
                    [s[1] for s in open_],
                    [s[2] for s in open_],
                    [s[3] for s in open_],
                    [s[4] for s in open_],
                    [s[5] for s in open_],
                )
            )
            # wake up when the earliest open session becomes closable
            next_ms = min(s[1] + gap for s in open_) * 1000 + 1000
            state.setTimeoutTimestamp(max(next_ms, state.getCurrentWatermarkMs() + 1))
        else:
            state.remove()

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "n_events": [s[2] for s in closed],
                    "sess_value": [round(s[3], 2) for s in closed],
                    "sess_start": [s[4] for s in closed],
                    "sess_end": [s[5] for s in closed],
                }
            )

    return fn


def sessionize_stream(
    events: DataFrame, *, watermark: str = WATERMARK
) -> DataFrame:
    """Streaming session windows with custom merge state.

    Input: streaming DataFrame with (user_id, ts timestamp, value).
    Output (append, on watermark close): one row per finished session —
    the same facts as the batch q24_sessionize. sess_start/sess_end are
    epoch-microsecond longs (convert with timestamp_micros for display).
    """
    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(GAP_SECONDS),
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_stream(
    df: DataFrame, keys: list[str], *, watermark: str = WATERMARK
) -> DataFrame:
    """Streaming exact dedup bounded by the watermark: duplicates of a
    key arriving within the watermark horizon are dropped; state for a
    key is freed once the watermark passes it (so state is O(keys per
    horizon), which is what makes this viable on an unbounded stream)."""
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


Snapshot = Tuple[Optional[dict], tuple]


def _snapshot_stream(
    events: DataFrame,
    keys: list[str],
    cols: list[str],
    out_fields: list[StructField],
    state_schema: StructType,
    step: Callable[[Optional[tuple], Iterator[pd.DataFrame]], Snapshot],
) -> DataFrame:
    """Keyed-snapshot driver shared by the per-key sketch streams.

    ``events`` carries ``keys``, the sketch's input ``cols`` and the
    event-time column ``ts``. Per key and micro-batch,
    ``step(prev, pdfs)`` folds the key's non-empty batches (a
    generator, so batches still stream) into its state — ``prev`` is
    the stored state tuple, None for a new key — and returns
    ``(snapshot, state)``: the snapshot's ``out_fields`` columns as a
    dict of equal-length lists, or None to emit nothing. This function
    prepends the key columns, stores the state and re-arms the key's
    event-time TTL of ``IDLE_STATE_TTL_MS``; a key idle past it has
    its state removed and emits nothing.

    Emission contract (append mode): the post-batch snapshot goes out
    with EVERY data batch the key receives, never from a watermark
    timer. A timer-driven final flush silently never fires when the
    stream's last watermark advance precedes the key's last data (a
    replay whose sentinel file is processed before the final data
    file; the multi-batch twin tests pin this). Snapshots are monotone
    in ``n_processed``: consumers keep the rows with the highest
    ``n_processed`` per key, and the last data batch's emission IS the
    full-stream summary — which is why an expired key's state can be
    freed without a final emission. Output: *keys, *out_fields.
    """

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        snapshot, new_state = step(
            state.get if state.exists else None,
            (pdf for pdf in pdfs if not pdf.empty),
        )
        if snapshot is not None:
            out = pd.DataFrame(snapshot)
            for i, v in enumerate(key):
                out.insert(i, f"__k{i}", v)
            yield out
        state.update(new_state)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + IDLE_STATE_TTL_MS)

    out_schema = StructType(
        [
            StructField(f"__k{i}", events.schema[k].dataType)
            for i, k in enumerate(keys)
        ]
        + out_fields
    )
    raw = (
        events.select(*keys, *cols, "ts")
        .withWatermark("ts", WATERMARK)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    for i, k in enumerate(keys):
        raw = raw.withColumnRenamed(f"__k{i}", k)
    return raw


def _longs(*names: str) -> list[StructField]:
    return [StructField(n, LongType()) for n in names]


MG_OUT_FIELDS = [StructField("item", StringType())] + _longs(
    "count_lb", "n_processed", "max_err"
)
MG_STATE_SCHEMA = StructType(
    [
        StructField("items", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n", LongType()),
        StructField("dec", LongType()),
    ]
)


def _mg_step(item_col: str, capacity: int):
    from ..operators.frequent import mg_ingest

    def step(prev: Optional[tuple], pdfs: Iterator[pd.DataFrame]) -> Snapshot:
        counters: dict = {}
        n = dec = 0
        if prev is not None:
            items, counts, n, dec = prev
            counters = dict(zip(items, counts))
            n, dec = int(n), int(dec)
        for pdf in pdfs:
            dn, dd = mg_ingest(
                counters, pdf[item_col].dropna().astype(str), capacity
            )
            n += dn
            dec += dd
        state = (list(counters.keys()), [int(v) for v in counters.values()], n, dec)
        if not counters:
            return None, state
        ordered = sorted(counters.items(), key=lambda kv: (-kv[1], kv[0]))
        return {
            "item": [k for k, _ in ordered],
            "count_lb": [v for _, v in ordered],
            "n_processed": [n] * len(ordered),
            "max_err": [dec] * len(ordered),
        }, state

    return step


def heavy_hitters_stream(
    events: DataFrame,
    keys: list[str],
    item_col: str,
    *,
    capacity: int = 256,
) -> DataFrame:
    """Streaming grouped approx top-k by frequency: a Misra-Gries
    summary per key maintained in keyed state, emitted as a snapshot
    with every data batch the key receives (``_snapshot_stream``'s
    emission contract). Keys idle past ``IDLE_STATE_TTL_MS`` of event
    time have their state dropped — their last emitted snapshot is
    already final.

    Per-key state is O(capacity) — items and lower-bound counts plus
    the (n_processed, decrement) error certificate — NEVER the raw
    item-frequency table, so an unbounded stream over an unbounded
    vocabulary runs in bounded memory. The MG guarantee carries over
    verbatim from the batch operator (operators/frequent.py, shared
    ``mg_ingest`` kernel): every item with true per-key count
    > n/(capacity+1) is present in the summary, and
    true_count - count_lb ∈ [0, max_err] with max_err ≤ n/(capacity+1).

    Snapshots are monotone in ``n_processed``; the last data batch's
    emission IS the full-stream summary, which is what the batch-twin
    tests recount against q88's exact heavy hitters. Output columns:
    *keys, item (stringified), count_lb, n_processed, max_err.
    """
    return _snapshot_stream(
        events,
        keys,
        [item_col],
        MG_OUT_FIELDS,
        MG_STATE_SCHEMA,
        _mg_step(item_col, capacity),
    )


TRANSITION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("prev_type", StringType()),
        StructField("event_type", StringType()),
    ]
)

# state: (last emitted type or '' , buffered ts_us[], event_id[], type[])
TRANSITION_STATE_SCHEMA = StructType(
    [
        StructField("last_type", StringType()),
        StructField("buf_ts", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_type", ArrayType(StringType())),
    ]
)


def _transition_fn():
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        last = ""
        buf: list[Tuple[int, int, str]] = []
        if state.exists:
            last, ts_l, id_l, ty_l = state.get
            buf = [(int(a), int(b), str(c)) for a, b, c in zip(ts_l, id_l, ty_l)]

        # idle-TTL expiry: the key held only its boundary type (no
        # buffered events) and stayed idle past the TTL — drop it so
        # total state is O(keys active within the TTL), not O(all keys
        # ever seen). A later event for this key starts a fresh chain
        # (its link to the pre-TTL tail is deliberately forgotten).
        if state.hasTimedOut and not buf:
            state.remove()
            return

        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                us = pdf["ts"].astype("datetime64[us]").astype("int64")
                for u, eid, ty in zip(us, pdf["event_id"], pdf["event_type"]):
                    buf.append((int(u), int(eid), str(ty)))

        # watermark-driven ordered flush: only events no late arrival
        # can precede are released, in (ts, event_id) order
        wm_us = state.getCurrentWatermarkMs() * 1000
        buf.sort()
        ready = [e for e in buf if e[0] < wm_us]
        hold = [e for e in buf if e[0] >= wm_us]

        out_prev, out_cur = [], []
        for _, _, ty in ready:
            if last:
                out_prev.append(last)
                out_cur.append(ty)
            last = ty

        if hold or last:
            state.update(
                (
                    last,
                    [e[0] for e in hold],
                    [e[1] for e in hold],
                    [e[2] for e in hold],
                )
            )
            if hold:
                state.setTimeoutTimestamp(
                    max(min(e[0] for e in hold) // 1000 + 1000,
                        state.getCurrentWatermarkMs() + 1)
                )
            else:
                # only the boundary type remains — arm the idle TTL
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + IDLE_STATE_TTL_MS
                )
        else:
            state.remove()

        if out_prev:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_prev),
                    "prev_type": out_prev,
                    "event_type": out_cur,
                }
            )

    return fn


def transition_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the q120 Markov transition matrix: per-key
    event-time sequence reconstruction under a watermark.

    Events buffer in keyed state until the watermark guarantees no
    earlier event can still arrive; they are then released in
    (ts, event_id) order and each adjacent pair emits one
    (prev_type → event_type) transition row (append mode). Per-key
    state is the out-of-watermark tail plus the boundary type; keys
    whose buffer has fully flushed keep only the boundary type and are
    DROPPED once idle past ``IDLE_STATE_TTL_MS`` (event-time), so
    total state is O(keys active within the TTL horizon) — without
    the TTL it would grow as O(all keys ever seen). A key resuming
    after TTL expiry starts a fresh chain (the cross-TTL transition is
    forgotten — the standard trade for bounded state). Downstream, a
    plain streaming/batch groupBy turns the pairs into the transition
    matrix; the test proves equality with the batch lag-window form.
    """
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _transition_fn(),
            TRANSITION_OUTPUT_SCHEMA,
            TRANSITION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


ROLLING_WINDOW_SEC = 86_400

ROLLING_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("event_id", LongType()),
        StructField("rolling_sum", DoubleType()),
        StructField("rolling_n", LongType()),
        StructField("rolling_max", DoubleType()),
    ]
)

# state: (last emission watermark in sec, buffered sec[], event_id[],
# value[]) — the buffer holds every event still inside the trailing
# window of any not-yet-finalized event, i.e. [wm - window, ∞)
ROLLING_STATE_SCHEMA = StructType(
    [
        StructField("last_wm_sec", LongType()),
        StructField("buf_sec", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)


def _rolling_fn():
    import numpy as np

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (grp,) = key
        last_wm = 0
        buf_sec: list[int] = []
        buf_id: list[int] = []
        buf_val: list[float] = []
        if state.exists:
            lw, bs, bi, bv = state.get
            last_wm = int(lw)
            buf_sec, buf_id, buf_val = list(bs), list(bi), list(bv)

        if state.hasTimedOut and not buf_sec:
            state.remove()
            return

        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                secs = (
                    pdf["ts"].astype("datetime64[us]").astype("int64")
                    // 1_000_000
                )
                buf_sec.extend(secs.tolist())
                buf_id.extend(pdf["event_id"].astype("int64").tolist())
                buf_val.extend(pdf["value"].astype("float64").tolist())

        wm_sec = state.getCurrentWatermarkMs() // 1000
        # sort once by (sec, event_id) — the frame is RANGE-based so
        # intra-second order doesn't change any window's CONTENT; the
        # id tie-break just makes the fold order deterministic
        order = sorted(range(len(buf_sec)), key=lambda i: (buf_sec[i], buf_id[i]))
        secs = np.array([buf_sec[i] for i in order], dtype=np.int64)
        ids = np.array([buf_id[i] for i in order], dtype=np.int64)
        vals = np.array([buf_val[i] for i in order], dtype=np.float64)

        # finalize events with last_wm <= sec < wm (RANGE frame
        # [sec - window, sec] is complete once the watermark passes sec)
        emit_mask = (secs >= last_wm) & (secs < wm_sec)
        out = None
        if emit_mask.any():
            starts = np.searchsorted(secs, secs - ROLLING_WINDOW_SEC, side="left")
            csum = np.concatenate(([0.0], np.cumsum(vals)))
            # ends: frame includes ALL rows with the same sec (RANGE,
            # not ROWS) — right boundary is the last index with sec<=s
            ends = np.searchsorted(secs, secs, side="right")
            sums = csum[ends] - csum[starts]
            ns = ends - starts
            # sliding max over variable-width windows: monotonic deque
            maxs = np.empty(len(secs), dtype=np.float64)
            from collections import deque

            dq: deque = deque()  # indices, values decreasing
            j = 0
            for k in range(len(secs)):
                while j < ends[k]:
                    while dq and vals[dq[-1]] <= vals[j]:
                        dq.pop()
                    dq.append(j)
                    j += 1
                while dq and dq[0] < starts[k]:
                    dq.popleft()
                maxs[k] = vals[dq[0]]
            m = emit_mask
            out = pd.DataFrame(
                {
                    "key": [str(grp)] * int(m.sum()),
                    "event_id": ids[m],
                    # raw, unrounded — display rounding belongs to
                    # the consumer (q193 applies F.round, the exact
                    # expression q22's oracle certifies)
                    "rolling_sum": sums[m],
                    "rolling_n": ns[m].astype(np.int64),
                    "rolling_max": maxs[m],
                }
            )

        # retain: context for future events = everything with
        # sec >= wm - window (an event at u is inside the frame of
        # events up to u + window)
        keep = secs >= (wm_sec - ROLLING_WINDOW_SEC)
        n_keep = int(keep.sum())
        # last_wm is the re-emission guard for CONTEXT rows (already
        # emitted but still inside a future event's frame) — needed
        # exactly while the buffer is non-empty; an empty buffer can
        # drop state entirely (a later event starts fresh with
        # last_wm=0 and no old rows to re-emit)
        if n_keep:
            state.update(
                (
                    max(last_wm, wm_sec),
                    secs[keep].tolist(),
                    ids[keep].tolist(),
                    vals[keep].tolist(),
                )
            )
            held_future = secs[secs >= wm_sec]
            if len(held_future):
                state.setTimeoutTimestamp(
                    max(
                        int(held_future.min()) * 1000 + 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
            else:
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + IDLE_STATE_TTL_MS
                )
        else:
            state.remove()

        if out is not None and len(out):
            yield out

    return fn


def rolling_window_stream(events: DataFrame) -> DataFrame:
    """Streaming per-event trailing-window analytics — the streaming
    twin of the 24 h rolling ticker stats (SURVEY §2.4 A2, the
    exchange-computed sliding aggregate the reference consumes,
    `/root/reference/binance-di.py:35-41`): for every event, the sum /
    count / max over the RANGE frame ``[t - ROLLING_WINDOW_SEC, t]``
    within its ``event_type`` key, emitted exactly once when the
    watermark proves the frame complete (no event ≤ t can still
    arrive).

    Mechanics: events buffer in keyed state; each batch sorts the
    buffer once and finalizes rows with ``last_wm ≤ sec < wm`` via
    vectorized prefix sums (searchsorted window bounds) and a monotonic
    deque for the sliding max — O(n log n) per batch, never O(n·w).
    State holds only ``[wm − window, ∞)`` — the trailing-context bound,
    O(rate × (window + delay)) per key, the inherent floor for an exact
    trailing window. Keys idle past the TTL are dropped.

    Precision note: window sums come from float64 prefix-sum
    differences — exact to ~1e-10 relative at fixture magnitudes and
    covered by the 2-dp output rounding; at 100 TB magnitudes chunk the
    prefix (or sum integer cents) before trusting the last ulp.

    RANGE semantics match q22's batch window exactly: the frame is
    second-granular and includes every row sharing the boundary second.
    Output: (key, event_id, rolling_sum, rolling_n, rolling_max).
    """
    return (
        events.select(
            F.col("event_type").cast("string").alias("grp"),
            "ts",
            F.col("event_id").cast("long").alias("event_id"),
            F.col("value").cast("double").alias("value"),
        )
        .withWatermark("ts", WATERMARK)
        .groupBy("grp")
        .applyInPandasWithState(
            _rolling_fn(),
            ROLLING_OUTPUT_SCHEMA,
            ROLLING_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


KMV_OUT_FIELDS = [
    StructField("h", LongType()),
    StructField("item", StringType()),
    StructField("n_processed", LongType()),
]
KMV_STATE_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(LongType())),
        StructField("items", ArrayType(StringType())),
        StructField("n", LongType()),
    ]
)


def _kmv_step(hash_col: str, item_col: str, k: int):
    def step(prev: Optional[tuple], pdfs: Iterator[pd.DataFrame]) -> Snapshot:
        pairs: list[Tuple[int, str]] = []
        n = 0
        if prev is not None:
            hs, its, n = prev
            pairs = list(zip((int(h) for h in hs), (str(x) for x in its)))
            n = int(n)
        for pdf in pdfs:
            n += len(pdf)
            pairs.extend(
                zip(
                    (int(h) for h in pdf[hash_col]),
                    (str(x) for x in pdf[item_col]),
                )
            )
            # dedupe identical (hash, item) pairs (a repeated item
            # occupies ONE slot — the sketch estimates DISTINCT counts)
            # and keep the k smallest; doing it per-pdf bounds the
            # working list at k + batch size
            pairs = sorted(set(pairs))[:k]
        hs, its = [p[0] for p in pairs], [p[1] for p in pairs]
        if not pairs:
            return None, (hs, its, n)
        return {"h": hs, "item": its, "n_processed": [n] * len(pairs)}, (hs, its, n)

    return step


def kmv_stream(
    events: DataFrame,
    keys: list[str],
    item_col: str,
    *,
    hash_col: str,
    k: int = 256,
) -> DataFrame:
    """Streaming KMV distinct sketch per key: the k smallest
    (pre-computed JVM-side ``hash_col``, item) pairs maintained in
    keyed state — the streaming twin of ``operators.kmv.kmv_sketch``.

    Because the k-minimum set of a multiset is ORDER-INDEPENDENT, the
    final streaming snapshot equals the batch sketch EXACTLY — not
    approximately — whatever the batch/file/arrival order; that is
    the equality q199 hash-certifies. Per-key state is O(k) (hashes +
    items + the processed-row count), so an unbounded stream over an
    unbounded key universe runs in bounded memory; idle keys are
    dropped after ``IDLE_STATE_TTL_MS`` of event time (their last
    emitted snapshot is already final).

    Emission contract (append mode, ``_snapshot_stream``): a full
    post-batch snapshot with every data batch the key receives;
    snapshots are monotone in ``n_processed`` — consumers keep the
    rows with the highest ``n_processed`` per key. Output: *keys, h,
    item, n_processed.
    """
    return _snapshot_stream(
        events,
        keys,
        [hash_col, item_col],
        KMV_OUT_FIELDS,
        KMV_STATE_SCHEMA,
        _kmv_step(hash_col, item_col, k),
    )


# ---------------------------------------------------------------------------
# Streaming XOR snapshot digest — the streaming twin of the q209 batch
# content digest (bit_xor fold of a 60-bit row-identity hash).
# ---------------------------------------------------------------------------

XOR_DIGEST_OUT_FIELDS = _longs("digest", "n_processed")
XOR_DIGEST_STATE_SCHEMA = StructType(_longs("digest", "n"))


def _xor_digest_step(hash_col: str):
    import numpy as np

    def step(prev: Optional[tuple], pdfs: Iterator[pd.DataFrame]) -> Snapshot:
        dig, n = (0, 0) if prev is None else (int(prev[0]), int(prev[1]))
        for pdf in pdfs:
            n += len(pdf)
            # XOR is commutative/associative: fold the Arrow batch
            # vectorized, then fold into the carried state scalar
            dig ^= int(
                np.bitwise_xor.reduce(pdf[hash_col].to_numpy(dtype=np.int64))
            )
        return {"digest": [dig], "n_processed": [n]}, (dig, n)

    return step


def xor_digest_stream(
    events: DataFrame,
    keys: list[str],
    *,
    hash_col: str,
) -> DataFrame:
    """Streaming per-key XOR content digest: the running ``bit_xor``
    of a pre-computed JVM-side row-identity hash — the streaming twin
    of the q209 batch snapshot digest.

    XOR folding is commutative, associative, and self-inverse, so the
    final streaming snapshot equals the batch ``bit_xor`` EXACTLY —
    not approximately — whatever the batch/file/arrival order (the
    q199-KMV equality argument, here for the simplest possible monoid).
    Per-key state is two longs: O(1) memory on an unbounded stream over
    an unbounded key universe; idle keys drop after
    ``IDLE_STATE_TTL_MS`` of event time (their last emitted snapshot is
    already final).

    Emission contract (append mode, ``_snapshot_stream``): one
    post-batch snapshot row per key per data batch, monotone in
    ``n_processed`` — consumers keep the row with the highest
    ``n_processed`` per key. Output: *keys, digest, n_processed.
    """
    return _snapshot_stream(
        events,
        keys,
        [hash_col],
        XOR_DIGEST_OUT_FIELDS,
        XOR_DIGEST_STATE_SCHEMA,
        _xor_digest_step(hash_col),
    )


# ---------------------------------------------------------------------------
# Streaming per-key flag counters — the (n, k) counting monoid behind
# q250's Wilson interval, folded as a real stateful operator (the
# THIRTEENTH streaming≡batch certificate's stream side).
# ---------------------------------------------------------------------------

FLAG_COUNTER_OUT_FIELDS = _longs("n", "k", "n_processed")
FLAG_COUNTER_STATE_SCHEMA = StructType(_longs("n", "k"))


def _flag_counter_step(flag_col: str):
    def step(prev: Optional[tuple], pdfs: Iterator[pd.DataFrame]) -> Snapshot:
        n, k = (0, 0) if prev is None else (int(prev[0]), int(prev[1]))
        for pdf in pdfs:
            # fold the Arrow batch vectorized, then carry the scalars:
            # the CARRIED (n, k) is the whole certificate — a fold that
            # restarts per micro-batch passes single-batch replays and
            # silently under-counts multi-batch ones (teeth test builds
            # exactly that break and measures the divergence)
            n += len(pdf)
            k += int(pdf[flag_col].to_numpy(dtype="int64").sum())
        return {"n": [n], "k": [k], "n_processed": [n]}, (n, k)

    return step


def flag_counter_stream(
    events: DataFrame,
    keys: list[str],
    *,
    flag_col: str,
) -> DataFrame:
    """Streaming per-key (rows seen, flags set) counters — the counting
    monoid under q250's Wilson interval as a stateful operator.

    (n, k) addition is commutative and associative, so the final
    streaming snapshot equals the batch ``count(*)/sum(flag)`` EXACTLY
    whatever the batch/file/arrival order (the q199/q209 monoid
    equality argument, for the simplest monoid after XOR). Per-key
    state is two longs — O(1) memory on an unbounded stream; idle keys
    drop after ``IDLE_STATE_TTL_MS`` of event time (their last emitted
    snapshot is already final).

    Emission contract (append mode, ``_snapshot_stream``): one
    post-batch snapshot row per key per data batch, monotone in
    ``n_processed`` — consumers keep the row with the highest
    ``n_processed`` per key. Output: *keys, n, k, n_processed.
    """
    return _snapshot_stream(
        events,
        keys,
        [flag_col],
        FLAG_COUNTER_OUT_FIELDS,
        FLAG_COUNTER_STATE_SCHEMA,
        _flag_counter_step(flag_col),
    )


VPIN_OUTPUT_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("bucket", LongType()),
        StructField("n_trades", LongType()),
        StructField("buy_vol", LongType()),
        StructField("sell_vol", LongType()),
    ]
)

# state: running volume clock + the OPEN bucket's partials + the
# punctuation flag + the out-of-watermark buffer (tt µs, event_id,
# qc, bq) — O(1) accumulator + watermark-horizon buffer per key
VPIN_STATE_SCHEMA = StructType(
    [
        StructField("cum", LongType()),
        StructField("open_bucket", LongType()),  # -1 = none yet
        StructField("n", LongType()),
        StructField("buy", LongType()),
        StructField("vol", LongType()),
        StructField("sentinel", LongType()),
        StructField("buf_tt", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_qc", ArrayType(LongType())),
        StructField("buf_bq", ArrayType(LongType())),
    ]
)


def _vpin_stream_fn(bucket_vol: int):
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        cum, ob, n, buy, vol, sent = 0, -1, 0, 0, 0, 0
        buf: list[Tuple[int, int, int, int]] = []
        if state.exists:
            cum, ob, n, buy, vol, sent, tts, ids, qcs, bqs = state.get
            buf = [
                (int(a), int(b), int(c), int(d))
                for a, b, c, d in zip(tts, ids, qcs, bqs)
            ]

        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                us = pdf["ts"].astype("datetime64[us]").astype("int64")
                for u, eid, qc, bq in zip(
                    us, pdf["event_id"], pdf["qc"], pdf["bq"]
                ):
                    # punctuation rows (event_id < 0) buffer like any
                    # other event: they take effect only when the
                    # watermark RELEASES them, which is the proof that
                    # no real trade at or before them can still arrive
                    # (a flag-based shortcut is unsound — punctuation
                    # can be DELIVERED before the trades it follows in
                    # event time)
                    buf.append((int(u), int(eid), int(qc), int(bq)))

        # watermark-driven ordered release (the q195 discipline): only
        # trades no late arrival can precede enter the volume clock
        wm_us = state.getCurrentWatermarkMs() * 1000
        buf.sort()
        ready = [t for t in buf if t[0] < wm_us]
        hold = [t for t in buf if t[0] >= wm_us]

        out: list[Tuple[str, int, int, int, int]] = []
        for _, eid, qc, bq in ready:
            if eid < 0:
                # punctuation released: every real trade before it has
                # been clocked — flush the open partial bucket
                if ob >= 0:
                    out.append((symbol, ob, n, buy, vol - buy))
                    n = buy = vol = 0
                    ob = -1
                sent = 1
                continue
            b = cum // bucket_vol  # EXCLUSIVE cumulative (q236 rule)
            if ob >= 0 and b != ob:
                out.append((symbol, ob, n, buy, vol - buy))
                n = buy = vol = 0
            ob = b
            cum += qc
            n += 1
            buy += bq
            vol += qc

        if sent and not hold:
            state.remove()
        else:
            state.update(
                (
                    cum,
                    ob,
                    n,
                    buy,
                    vol,
                    sent,
                    [t[0] for t in hold],
                    [t[1] for t in hold],
                    [t[2] for t in hold],
                    [t[3] for t in hold],
                )
            )
            if hold:
                state.setTimeoutTimestamp(
                    max(
                        min(t[0] for t in hold) // 1000 + 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )

        if out:
            yield pd.DataFrame(
                out,
                columns=["symbol", "bucket", "n_trades", "buy_vol", "sell_vol"],
            )

    return fn


def vpin_stream(
    trades: DataFrame,
    bucket_vol: int,
    *,
    watermark: str = WATERMARK,
) -> DataFrame:
    """Streaming twin of the q236 VPIN volume clock at a FIXED bucket
    volume: per-symbol keyed state carries the running cumulative
    volume and the OPEN bucket's partial sums; trades buffer until the
    watermark guarantees order (released in (ts, event_id) order — the
    q195 sequence-reconstruction discipline), each released trade is
    assigned by its EXCLUSIVE cumulative volume, and a bucket row
    emits exactly once, when the clock crosses into the next bucket
    (append mode). The batch q236 derives its bucket volume from the
    per-symbol TOTAL — unknowable mid-stream — so the streaming
    contract fixes it as a parameter; the q251 certificate runs the
    batch computation at the SAME fixed volume and asserts exact
    multiset equality.

    End-of-stream punctuation: a row with ``event_id < 0`` marks the
    end of the key's clock. It buffers like any other event and takes
    effect only when the watermark RELEASES it — the proof that no
    real trade at or before it can still arrive (a delivery-order flag
    would be unsound: punctuation can arrive in an earlier micro-batch
    than the trades it follows in event time). Releasing it therefore
    requires the watermark to pass the punctuation timestamp, so the
    replay harness appends one punctuation row per symbol at T plus a
    single watermark-pusher row at T + (delay + margin) under a
    throwaway key (that key's state is the one deliberate leftover).
    A live deployment would simply leave the last bucket open, exactly
    like the batch form's tail bucket keeps growing.

    State per key = one O(1) accumulator tuple + the out-of-watermark
    buffer (O(rate × delay)); emission is bucket-grained, so output is
    total_volume/bucket_vol rows per key regardless of trade count.
    """
    return (
        trades.select("symbol", "ts", "event_id", "qc", "bq")
        .withWatermark("ts", watermark)
        .groupBy("symbol")
        .applyInPandasWithState(
            _vpin_stream_fn(bucket_vol),
            VPIN_OUTPUT_SCHEMA,
            VPIN_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming GK (Greenwald–Khanna 2001) quantile sketch — the mergeless
# insert-only form carried as per-key state across micro-batches. The
# FOURTEENTH streaming≡batch certificate's state operator: unlike every
# monoid certified before it (counters, XOR, KMV, CMS, MG), a GK sketch
# is NOT order-invariant — two insertion orders give different tuple
# lists — so exact-equality certification is impossible BY DESIGN and
# the certificate instead checks the sketch's rank-ε GUARANTEE against
# exact ranks (q190's interval-overlap form), plus exact equality of
# the carried counts. A fold that restarts per micro-batch still
# answers "something", which is exactly why the guarantee check has
# teeth: the restarted sketch's answer ranks against the FULL stream
# and lands outside εn on any value-drifting replay (pytest builds that
# break).
# ---------------------------------------------------------------------------
class GKSketch:
    """Insert-only GK quantile summary over int64 values.

    Tuples (v, g, Δ) sorted by v; invariant g_i + Δ_i ≤ ⌊2εn⌋ restored
    by compress() after every insert. query(φ) returns a value whose
    exact rank is within εn of ⌈φn⌉ (the classic proof: pick the last
    tuple with rmax ≤ r + εn). Deterministic given insertion order —
    the stream operator feeds values in sorted batch order, and batch
    boundaries are pinned by the replay, so reruns agree tuple-for-
    tuple.
    """

    __slots__ = ("eps", "n", "vs", "gs", "ds")

    def __init__(self, eps: float) -> None:
        self.eps = eps
        self.n = 0
        self.vs: list[int] = []
        self.gs: list[int] = []
        self.ds: list[int] = []

    def insert(self, v: int) -> None:
        from bisect import bisect_left

        band = int(2 * self.eps * self.n)
        i = bisect_left(self.vs, v)
        if i == 0 or i == len(self.vs):
            d = 0  # new min/max: exact
        else:
            d = max(band - 1, 0)
        self.vs.insert(i, v)
        self.gs.insert(i, 1)
        self.ds.insert(i, d)
        self.n += 1
        if self.n % max(int(1.0 / (2.0 * self.eps)), 1) == 0:
            self.compress()

    def compress(self) -> None:
        band = int(2 * self.eps * self.n)
        i = len(self.vs) - 2
        while i >= 0:
            if self.gs[i] + self.gs[i + 1] + self.ds[i + 1] <= band:
                self.gs[i + 1] += self.gs[i]
                del self.vs[i], self.gs[i], self.ds[i]
            i -= 1

    def query(self, phi: float) -> int:
        import math

        r = max(1, math.ceil(phi * self.n))
        bound = self.eps * self.n
        rmin = 0
        ans = self.vs[0]
        for v, g, d in zip(self.vs, self.gs, self.ds):
            rmin += g
            if rmin + d > r + bound:
                break
            ans = v
        return ans


GK_OUT_FIELDS = _longs("a50", "a95", "n", "n_tuples", "n_processed")
GK_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("vs", ArrayType(LongType())),
        StructField("gs", ArrayType(LongType())),
        StructField("ds", ArrayType(LongType())),
    ]
)


def _gk_step(value_col: str, eps: float):
    def step(prev: Optional[tuple], pdfs: Iterator[pd.DataFrame]) -> Snapshot:
        sk = GKSketch(eps)
        if prev is not None:
            n0, vs0, gs0, ds0 = prev
            sk.n = int(n0)
            sk.vs = [int(x) for x in vs0]
            sk.gs = [int(x) for x in gs0]
            sk.ds = [int(x) for x in ds0]
        for pdf in pdfs:
            # sorted within-batch insertion order: determinism is the
            # (batch sequence × this order), both pinned by the replay
            for v in sorted(pdf[value_col].to_numpy(dtype="int64").tolist()):
                sk.insert(int(v))
        sk.compress()
        return {
            "a50": [sk.query(0.5) if sk.n else None],
            "a95": [sk.query(0.95) if sk.n else None],
            "n": [sk.n],
            "n_tuples": [len(sk.vs)],
            "n_processed": [sk.n],
        }, (sk.n, sk.vs, sk.gs, sk.ds)

    return step


def gk_quantile_stream(
    events: DataFrame,
    keys: list[str],
    *,
    value_col: str,
    eps: float = 0.01,
) -> DataFrame:
    """Streaming per-key GK quantile sketch (p50/p95 snapshots).

    State per key = the sketch's (v, g, Δ) tuple arrays — O((1/ε)·
    log(εn)) longs, never the data. Emission contract (append mode,
    ``_snapshot_stream``): one post-batch snapshot per key per data
    batch with the sketch's current p50/p95 answers, monotone in
    ``n_processed``; consumers keep the highest-``n_processed`` row per
    key. The answers carry GK's rank guarantee |rank(answer) − ⌈φn⌉| ≤
    εn — the certificate the batch side verifies against exact ranks
    (q289).
    """
    return _snapshot_stream(
        events,
        keys,
        [value_col],
        GK_OUT_FIELDS,
        GK_STATE_SCHEMA,
        _gk_step(value_col, eps),
    )
