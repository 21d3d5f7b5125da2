"""Precision pin for the q22 cumulative-difference rewrite (ADVICE r11).

rolling_sum_24h is computed as round(cum[..t] - cum[..t-86401], 2) — a
difference of two float prefix sums. Cancellation error grows with the
prefix magnitude, so this pins the cum-diff form against the direct
sliding-frame sum on ADVERSARIAL magnitudes (values up to 1e7 mixed with
sub-cent values, long runs, duplicate timestamps) both unrounded (ULP
tolerance) and after the 2-dp round (exact equality, the query contract).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _frames(sec_col: str = "sec"):
    wcur = W.orderBy(sec_col).rangeBetween(W.unboundedPreceding, 0)
    wold = W.orderBy(sec_col).rangeBetween(W.unboundedPreceding, -86401)
    wsl = W.orderBy(sec_col).rangeBetween(-86400, 0)
    return wcur, wold, wsl


@pytest.mark.parametrize("seed", [7, 23])
def test_cumdiff_equals_sliding_sum_adversarial(spark, seed):
    rng = random.Random(seed)
    rows = []
    t = 0
    for _ in range(4000):
        # clustered timestamps (duplicates included) across ~4 days
        t += rng.choice([0, 1, 5, 60, 3600, 40000])
        t %= 4 * 86400
        # adversarial magnitude mix: huge, tiny, negative-ish via sign
        mag = rng.choice([1e7, 1e4, 1.0, 0.01])
        v = round(rng.uniform(0, mag), 2)
        rows.append((t, v))
    df = spark.createDataFrame(rows, "sec long, value double")
    wcur, wold, wsl = _frames()
    out = df.select(
        "sec",
        "value",
        (
            F.sum("value").over(wcur)
            - F.coalesce(F.sum("value").over(wold), F.lit(0.0))
        ).alias("cumdiff"),
        F.sum("value").over(wsl).alias("sliding"),
    ).collect()
    for r in out:
        # unrounded: within a few ULP of the prefix magnitude
        tol = 1e-9 * max(1.0, abs(r["cumdiff"]), abs(r["sliding"]))
        assert math.isclose(r["cumdiff"], r["sliding"], abs_tol=tol), (
            r["sec"],
            r["cumdiff"],
            r["sliding"],
        )
        # query contract: identical after the 2-dp round
        assert round(r["cumdiff"], 2) == round(r["sliding"], 2)


def test_cumdiff_boundary_inclusive_exclusive(spark):
    # rows exactly 86400 s apart are IN the window; 86401 s apart are OUT
    df = spark.createDataFrame(
        [(0, 10.0), (86400, 1.0), (86401 + 86400, 2.0)],
        "sec long, value double",
    )
    wcur, wold, wsl = _frames()
    out = {
        r["sec"]: (
            r["cd"],
            r["sl"],
        )
        for r in df.select(
            "sec",
            (
                F.sum("value").over(wcur)
                - F.coalesce(F.sum("value").over(wold), F.lit(0.0))
            ).alias("cd"),
            F.sum("value").over(wsl).alias("sl"),
        ).collect()
    }
    assert out[86400] == (11.0, 11.0)  # 0 is included (86400 preceding)
    assert out[86401 + 86400] == (2.0, 2.0)  # 86400 fell out (86401 gap)


@pytest.mark.parametrize(
    "events",
    [
        # the probe of sec 10 sits at sec -86390: truncating division put
        # it in bucket 0 with sec 20, leaking 5.0 into the first frame
        [(1, 10, 1.0), (2, 20, 5.0)],
        # before 1970: truncating division put these two rows in chunks
        # -1 and 0, and the first never reached the second's frame
        [(1, -259300, 9.0), (2, -259100, 1.0)],
    ],
    ids=["probe_before_epoch", "events_before_epoch"],
)
def test_q22_floor_buckets_near_and_before_epoch(spark, tmp_path, events):
    """q22's chunk and bucket ids must be floor divisions: every frame
    equals the naive RANGE 86400 PRECEDING frame over the same rows."""
    from binance_data_ingestor_spark.queries.streaming_like import (
        q22_rolling_24h,
    )

    spark.createDataFrame(
        [(i, "a", v, s) for i, s, v in events],
        "event_id long, event_type string, value double, sec long",
    ).select(
        "event_id", "event_type", "value", F.timestamp_seconds("sec").alias("ts")
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {
        r.event_id: (r.rolling_max_24h, r.rolling_n_24h)
        for r in q22_rolling_24h(spark, str(tmp_path)).collect()
    }
    want = {}
    for i, s, _v in events:
        frame = [v for _j, t, v in events if s - 86400 <= t <= s]
        want[i] = (max(frame), len(frame))
    assert got == want
