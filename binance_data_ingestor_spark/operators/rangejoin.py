"""Binned range joins: point-in-interval and interval-overlap.

Spark has no native inequality-join strategy — a bare
``a.join(b, a.ts.between(b.lo, b.hi))`` plans as
BroadcastNestedLoopJoin (or a full CartesianProduct when neither side
is broadcastable), which is O(|a|·|b|) and the classic 100 TB
scale-killer. The standard fix, used by every warehouse range-join
implementation (Databricks range-join hints, the IEJoin paper's
bucketed fallback), is *binning*: quantize time into fixed-width bins,
replicate each interval into every bin it touches, map each point to
its single bin, then run a plain shuffled **equi-join on the bin id**
(plus any real equi keys) and re-apply the exact predicate to discard
near-misses inside the matched bin.

Exactness arguments (no dedup pass needed for points; a canonical-bin
guard for overlaps):

* point-in-interval: a point lives in exactly ONE bin, and a matching
  interval is replicated into that bin by construction — each true
  (point, interval) pair meets exactly once.
* interval-overlap: two overlapping intervals share every bin in
  ``[max(lo_bin_a, lo_bin_b), min(hi_bin_a, hi_bin_b)]``; restricting
  the match to the FIRST shared bin (``bin == greatest(lo_bins)``)
  counts each pair exactly once.

Cost model: replication factor = avg interval width / bin width + 1,
per-bin pair fan-in = (rows per bin)² for overlaps. Pick
``bin_seconds`` near the typical interval width — too coarse and bins
collect unrelated rows (quadratic inside the bin), too fine and
intervals replicate into many bins. Both joins shuffle on
``keys + [bin]``, so skewed hot bins can additionally be salted
upstream by the caller.

Bin ids use ``unix_millis(ts) div N`` — exact integer division, never
float (a float quotient's last-ulp wobble next to a bin boundary would
silently drop a true match).

The reference engine has no relational layer at all (the consumers
poll Redis and correlate timestamps imperatively —
/root/reference/tests/test_redis-data.py:48-78); these operators are
the engine-side answer to that correlate-by-time need.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bin_of(col_name: str, bin_seconds: int) -> Column:
    """Exact integer bin id of a timestamp column (by name)."""
    return F.expr(f"unix_millis({col_name}) div {bin_seconds * 1000}")


def _bins_of(lo: str, hi: str, bin_seconds: int) -> Column:
    """Every bin id the closed interval [lo, hi] touches."""
    return F.sequence(_bin_of(lo, bin_seconds), _bin_of(hi, bin_seconds))


MIN_BIN_SECONDS = 60


def auto_bin_seconds(intervals: DataFrame, lo: str, hi: str) -> int:
    """Pick a bin width near the average interval width (1-row aggregate).

    The cost model's sweet spot: bins much narrower than the typical
    interval replicate every interval many times; much wider bins
    collect unrelated rows. Average width (clamped below by
    ``MIN_BIN_SECONDS``) lands within a small constant of either optimum.
    One tiny collect — at real scale this is a planning statistic, the
    same class as AQE's size estimates.
    """
    row = intervals.select(
        F.avg(F.unix_millis(F.col(hi)) - F.unix_millis(F.col(lo))).alias("w")
    ).collect()[0]
    if row.w is None:
        return MIN_BIN_SECONDS
    return max(MIN_BIN_SECONDS, int(row.w / 1000))


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_ts: str,
    lo: str,
    hi: str,
    bin_seconds: int,
    keys: list[str] | None = None,
    how: str = "inner",
    num_salts: int = 1,
) -> DataFrame:
    """Join each point row to every interval row containing it.

    ``points[point_ts]`` must land inside ``[intervals[lo],
    intervals[hi]]`` (closed on both ends).  ``keys`` are additional
    exact equi-join columns present on BOTH sides (e.g. ``user_id``) —
    they ride along in the shuffle key, so the bin join never mixes
    rows across keys.  Column sets must otherwise be disjoint.

    ``how`` supports ``inner`` and ``left`` (left = keep uncontained
    points with NULL interval columns, added back via an anti-join so
    the binned inner path stays the hot path).

    ``num_salts`` > 1 scatters HOT BINS: a bin holding a large share of
    the points (rush hour, a popular key) makes one shuffle partition
    the straggler. Each interval replica is duplicated into every salt;
    each point picks ONE salt from its own hash — so points of a hot
    bin spread across ``num_salts`` tasks while each true (point,
    interval) pair still meets exactly once. Interval-side replication
    cost is ×``num_salts`` — use for point-heavy skew, which is the
    common case.
    """
    keys = list(keys or [])

    iv = intervals.filter(F.col(hi) >= F.col(lo)).withColumn(
        "_bin", F.explode(_bins_of(lo, hi, bin_seconds))
    )
    pt = points.withColumn("_bin", _bin_of(point_ts, bin_seconds))
    join_keys = keys + ["_bin"]
    if num_salts > 1:
        iv = iv.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
        )
        pt = pt.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(point_ts)), F.lit(num_salts))
        )
        join_keys = join_keys + ["_salt"]

    matched = (
        pt.join(iv, join_keys, "inner")
        .filter(F.col(point_ts).between(F.col(lo), F.col(hi)))
        .drop("_bin", "_salt")
    )
    if how == "inner":
        return matched
    if how == "left":
        unmatched = pt.drop("_bin", "_salt").join(
            matched.select(*points.columns).distinct(), points.columns, "left_anti"
        )
        pad = unmatched.select(
            "*",
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in intervals.schema.fields
                if f.name not in keys
            ],
        )
        return matched.unionByName(pad)
    raise ValueError(f"unsupported how={how!r}")


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    *,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    bin_seconds: int,
    keys: list[str] | None = None,
    extra_cond: Column | None = None,
) -> DataFrame:
    """All (a, b) row pairs whose closed intervals overlap.

    Overlap: ``a_lo <= b_hi AND b_lo <= a_hi``.  Each qualifying pair
    is emitted exactly once (first-shared-bin guard).  ``extra_cond``
    is an arbitrary additional predicate applied with the refine step
    (e.g. ``F.col("u") < F.col("v")`` to keep one triangle of a
    self-join); it does NOT affect the shuffle shape.
    """
    keys = list(keys or [])

    av = a.filter(F.col(a_hi) >= F.col(a_lo)).withColumn(
        "_bin", F.explode(_bins_of(a_lo, a_hi, bin_seconds))
    )
    bv = b.filter(F.col(b_hi) >= F.col(b_lo)).withColumn(
        "_bin", F.explode(_bins_of(b_lo, b_hi, bin_seconds))
    )
    cond = (
        (F.col(a_lo) <= F.col(b_hi))
        & (F.col(b_lo) <= F.col(a_hi))
        & (
            F.col("_bin")
            == F.greatest(
                _bin_of(a_lo, bin_seconds), _bin_of(b_lo, bin_seconds)
            )
        )
    )
    if extra_cond is not None:
        cond = cond & extra_cond
    return av.join(bv, keys + ["_bin"], "inner").filter(cond).drop("_bin")
