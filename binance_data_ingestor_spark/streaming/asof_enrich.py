"""Streaming as-of enrichment — the streaming twin of
``operators/asof.asof_join`` (SURVEY §2.5 J1).

The reference's mid-price consumer
(`/root/reference/tests/test_redis-data-full.py:47-59`) is conceptually
a live trades⟕book as-of join: every trade should see the latest book
state at or before its own event time. Batch-side the engine has the
full merge_asof surface (``operators/asof.py``); this module provides
the live-path equivalent: two watermarked streams (a fact stream to
enrich, a state stream carrying the reference values), unioned and
folded through keyed state so each fact row is emitted exactly once —
joined to the most recent state row with ``r.on <= l.on`` in its key —
as soon as the watermark proves no earlier row can still arrive.

Spark's built-in stream-stream interval join cannot express "the
LATEST right row ≤ my time" (it emits EVERY right row in the interval,
and an unbounded lookback interval never frees right-side state), so
this is the ``applyInPandasWithState`` path, same machinery as
``stateful.sessionize_stream``.

Semantics (pinned by tests/test_asof_stream.py against the batch
operator on identical data):

- direction = BACKWARD only — the only direction a live stream can
  serve without delaying emission by the lookahead horizon; ties
  (``r.on == l.on``) are visible, matching the batch operator and
  DuckDB ``ASOF JOIN … ON l.on >= r.on``.
- tolerance: same contract as batch — max |l.on − r.on| in SECONDS,
  computed at MILLISECOND resolution exactly like the batch ``_gap``
  (``unix_millis`` difference / 1000), so a boundary-straddling pair
  nulls identically on both paths. Stale matches become NULLs
  (left-join semantics preserved).
- rows with NULL event time are dropped (a watermark cannot order
  them; the batch operator window-sorts them arbitrarily instead —
  callers that care filter first on both paths).

Scale shape: state per key = the rows still inside the watermark
horizon (the standard stream-stream bound: O(rate × delay), NEVER the
whole right history) + ONE carried (on, values) tuple for the latest
finalized state row. Keys whose buffer has drained keep only that
carried tuple and are dropped after ``IDLE_STATE_TTL_MS`` of
event-time idleness — total state is O(keys active within the TTL),
the ``transition_counts_stream`` stance. Emission is append-mode and
watermark-ordered per key.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .stateful import IDLE_STATE_TTL_MS, WATERMARK

_ATOMIC = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.StringType,
    T.BooleanType,
)


def _check_atomic(schema: T.StructType, cols: list[str], side: str) -> None:
    for c in cols:
        if not isinstance(schema[c].dataType, _ATOMIC):
            raise TypeError(
                f"asof_enrich_stream: {side} column {c!r} has type "
                f"{schema[c].dataType.simpleString()} — only atomic "
                "long/int/double/float/string/boolean columns ride "
                "through keyed state; pre-encode nested/timestamp "
                "payloads (e.g. unix_micros) first"
            )


def _kind(dtype) -> str:
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "i"
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return "f"
    return "o"


def _asof_fn(
    n_by: int,
    l_kinds: list[str],
    r_kinds: list[str],
    tolerance: float | None,
):
    n_l, n_r = len(l_kinds), len(r_kinds)
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # ---- load state ---------------------------------------------
        pend: list[tuple] = []  # (on_us, side, l_vals tuple, r_vals tuple)
        last_on = None
        last_r: list = [None] * n_r
        if state.exists:
            st = state.get
            ons, sides = st[0], st[1]
            l_arrs = [st[2 + j] for j in range(n_l)]
            r_arrs = [st[2 + n_l + j] for j in range(n_r)]
            pend = [
                (
                    int(ons[i]),
                    int(sides[i]),
                    tuple(a[i] for a in l_arrs),
                    tuple(a[i] for a in r_arrs),
                )
                for i in range(len(ons))
            ]
            last_on = st[2 + n_l + n_r]
            if last_on is not None:
                last_on = int(last_on)
            last_r = [st[3 + n_l + n_r + j] for j in range(n_r)]

        # idle-TTL expiry: buffer drained, only the carried latest
        # state row remains, and the key has been idle past the TTL
        if state.hasTimedOut and not pend:
            state.remove()
            return

        # ---- ingest -------------------------------------------------
        def _native(v, kind):
            # numpy/pandas scalars → Python natives for state storage;
            # a nullable int column arrives as float64+NaN in pandas —
            # re-coerce by the DECLARED Spark kind so Long state arrays
            # never receive floats
            if pd.isna(v):
                return None
            if kind == "i":
                return int(v)
            if kind == "f":
                return float(v)
            return v.item() if hasattr(v, "item") else v

        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                # tolist() + zip, never per-cell .iat — the fold is
                # per-key Python and this loop touches every row once
                ons = pdf["__on_us"].astype("int64").tolist()
                sides = pdf["__side"].astype("int64").tolist()
                l_lists = [pdf[f"__l_{j}"].tolist() for j in range(n_l)]
                r_lists = [pdf[f"__r_{j}"].tolist() for j in range(n_r)]
                for row in zip(ons, sides, *l_lists, *r_lists):
                    lv = tuple(
                        _native(v, k)
                        for v, k in zip(row[2 : 2 + n_l], l_kinds)
                    )
                    rv = tuple(
                        _native(v, k)
                        for v, k in zip(row[2 + n_l :], r_kinds)
                    )
                    pend.append((row[0], row[1], lv, rv))

        # ---- watermark-ordered fold ---------------------------------
        # (on, side) sort with side 0 (state) before side 1 (fact):
        # a state row at the same instant IS visible — the batch tie
        # rule. Python sort is stable, so equal (on, side) keep
        # arrival order, same ambiguity class as the batch window.
        wm_us = state.getCurrentWatermarkMs() * 1000
        pend.sort(key=lambda e: (e[0], e[1]))
        out_rows: list[tuple] = []
        hold: list[tuple] = []
        for e in pend:
            on_us, side, lv, rv = e
            if on_us >= wm_us:
                hold.append(e)
                continue
            if side == 0:
                last_on, last_r = on_us, list(rv)
            else:
                vals = last_r
                if last_on is None:
                    vals = [None] * n_r
                elif tolerance is not None:
                    # batch _gap parity: millisecond-resolution seconds
                    gap_s = abs(on_us // 1000 - last_on // 1000) / 1000.0
                    if gap_s > tolerance:
                        vals = [None] * n_r
                out_rows.append((on_us, lv, tuple(vals)))

        # ---- persist ------------------------------------------------
        if hold or last_on is not None:
            state.update(
                (
                    [e[0] for e in hold],
                    [e[1] for e in hold],
                    *[[e[2][j] for e in hold] for j in range(n_l)],
                    *[[e[3][j] for e in hold] for j in range(n_r)],
                    last_on,
                    *last_r,
                )
            )
            if hold:
                # wake when the earliest held row becomes finalizable
                state.setTimeoutTimestamp(
                    max(
                        min(e[0] for e in hold) // 1000 + 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
            else:
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + IDLE_STATE_TTL_MS
                )
        else:
            state.remove()

        if out_rows:
            yield pd.DataFrame(
                {
                    **{f"__k{i}": [key[i]] * len(out_rows) for i in range(n_by)},
                    "__on_us": [r[0] for r in out_rows],
                    **{
                        f"__l_{j}": [r[1][j] for r in out_rows]
                        for j in range(n_l)
                    },
                    **{
                        f"__r_{j}": [r[2][j] for r in out_rows]
                        for j in range(n_r)
                    },
                }
            )

    return fn


def asof_enrich_stream(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: list[str] | str,
    value_cols: list[str],
    tolerance: float | None = None,
) -> DataFrame:
    """Enrich streaming ``left`` rows with the latest ``right`` row at
    or before each left row's ``on`` time within the same ``by`` key
    (backward as-of). Both inputs are streaming DataFrames sharing the
    ``by`` and ``on`` (timestamp) columns; ``right``'s ``value_cols``
    attach as ``asof_{col}``. Output columns: ``by + [on] + left
    payload + prefixed values`` — the batch ``asof_join`` shape, so
    the two paths are directly comparable (the replay test asserts
    multiset equality on identical data).
    """
    by = [by] if isinstance(by, str) else list(by)
    if not isinstance(left.schema[on].dataType, (T.TimestampType, T.TimestampNTZType)):
        raise TypeError("asof_enrich_stream: `on` must be a timestamp column")
    l_cols = [c for c in left.columns if c not in by and c != on]
    _check_atomic(left.schema, l_cols, "left")
    _check_atomic(right.schema, value_cols, "right")

    l_pre = left.filter(F.col(on).isNotNull()).select(
        *by,
        F.col(on),
        F.unix_micros(F.col(on)).alias("__on_us"),
        F.lit(1).alias("__side"),
        *[F.col(c).alias(f"__l_{j}") for j, c in enumerate(l_cols)],
        *[
            F.lit(None).cast(right.schema[v].dataType).alias(f"__r_{j}")
            for j, v in enumerate(value_cols)
        ],
    )
    r_pre = right.filter(F.col(on).isNotNull()).select(
        *by,
        F.col(on),
        F.unix_micros(F.col(on)).alias("__on_us"),
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{j}")
            for j, c in enumerate(l_cols)
        ],
        *[F.col(v).alias(f"__r_{j}") for j, v in enumerate(value_cols)],
    )
    unioned = l_pre.unionByName(r_pre).withWatermark(on, WATERMARK)

    out_schema = T.StructType(
        [T.StructField(f"__k{i}", left.schema[b].dataType) for i, b in enumerate(by)]
        + [T.StructField("__on_us", T.LongType())]
        + [
            T.StructField(f"__l_{j}", left.schema[c].dataType)
            for j, c in enumerate(l_cols)
        ]
        + [
            T.StructField(f"__r_{j}", right.schema[v].dataType)
            for j, v in enumerate(value_cols)
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("pend_on", T.ArrayType(T.LongType())),
            T.StructField("pend_side", T.ArrayType(T.LongType())),
        ]
        + [
            T.StructField(f"pl_{j}", T.ArrayType(left.schema[c].dataType))
            for j, c in enumerate(l_cols)
        ]
        + [
            T.StructField(f"pr_{j}", T.ArrayType(right.schema[v].dataType))
            for j, v in enumerate(value_cols)
        ]
        + [T.StructField("last_on", T.LongType())]
        + [
            T.StructField(f"lr_{j}", right.schema[v].dataType)
            for j, v in enumerate(value_cols)
        ]
    )

    raw = unioned.groupBy(*by).applyInPandasWithState(
        _asof_fn(
            len(by),
            [_kind(left.schema[c].dataType) for c in l_cols],
            [_kind(right.schema[v].dataType) for v in value_cols],
            tolerance,
        ),
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    return raw.select(
        *[F.col(f"__k{i}").alias(b) for i, b in enumerate(by)],
        F.timestamp_micros(F.col("__on_us")).alias(on),
        *[F.col(f"__l_{j}").alias(c) for j, c in enumerate(l_cols)],
        *[
            F.col(f"__r_{j}").alias(f"asof_{v}")
            for j, v in enumerate(value_cols)
        ],
    )
