"""Distribution statistics that need a cumulative pass: two-sample
Kolmogorov-Smirnov and Kaplan-Meier survival.

Both are "cumulate over a sorted axis" shapes. The scale rule applied
here (same as ``partitioning.with_global_rank``): cumulate over an
AGGREGATED axis whenever possible, and when the raw axis is large,
bucket it — per-bucket partial sums first (parallel), an exclusive
prefix over the bucket SUMMARY second (the only serialized step,
|buckets| rows), within-bucket cumulation + offset third (parallel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def ks_2sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    bucket_width: int = 1_000_000,
) -> DataFrame:
    """Exact two-sample KS statistic over an integer value column.

    ``group_col`` must be 0/1. Returns ONE row: n1, n2, d_stat (the
    sup-distance between the two empirical CDFs) and the asymptotic
    two-sided p-value approximation (rounded 6 dp — its exp() is the
    only transcendental).

    The CDF difference is evaluated at every distinct value — exact,
    not binned. Distinct values aggregate first (one shuffle); their
    cumulative counts run bucketed: per-bucket sums, exclusive prefix
    over the bucket summary (|buckets| rows — the only single-task
    step), within-bucket running sums + offset. Every division is a
    single IEEE op on exact integers, and the final max is order-free,
    so the statistic is bit-identical across engines and partitionings.
    """
    v, g = F.col(value_col), F.col(group_col)
    per_v = df.groupBy(v.alias("v")).agg(
        F.count(F.when(g == 0, 1)).alias("c1"),
        F.count(F.when(g == 1, 1)).alias("c2"),
    )
    # materialize the per-value table once: both the bucket summary
    # (collected below) and the final join consume it, and without the
    # checkpoint each action would re-run the groupBy(v) shuffle
    b = per_v.withColumn(
        "bkt", F.expr(f"v div {int(bucket_width)}")
    ).localCheckpoint(eager=False)
    sums = b.groupBy("bkt").agg(
        F.sum("c1").alias("s1"), F.sum("c2").alias("s2")
    )
    # exclusive prefix over the bucket SUMMARY: computed driver-side
    # (|buckets| rows, exact integer sums) and shipped back as a
    # broadcast table — same cost as the keyless window it replaces,
    # without the single-partition WindowExec
    srows = sorted(sums.collect(), key=lambda r: r["bkt"])
    acc1 = acc2 = 0
    odata = []
    for r in srows:
        odata.append((r["bkt"], acc1, acc2))
        acc1 += r["s1"]
        acc2 += r["s2"]
    offsets = df.sparkSession.createDataFrame(
        odata,
        StructType(
            [
                sums.schema["bkt"],
                StructField("o1", LongType()),
                StructField("o2", LongType()),
            ]
        ),
    )
    wb = W.partitionBy("bkt").orderBy("v")
    cum = (
        b.join(F.broadcast(offsets), "bkt")
        .select(
            "v",
            (F.sum("c1").over(wb) + F.col("o1")).alias("f1"),
            (F.sum("c2").over(wb) + F.col("o2")).alias("f2"),
        )
    )
    totals = df.agg(
        F.count(F.when(g == 0, 1)).alias("n1"),
        F.count(F.when(g == 1, 1)).alias("n2"),
    )
    diff = F.abs(
        F.col("f1").cast("double") / F.col("n1").cast("double")
        - F.col("f2").cast("double") / F.col("n2").cast("double")
    )
    out = (
        cum.crossJoin(F.broadcast(totals))
        .select("n1", "n2", diff.alias("d"))
        .groupBy("n1", "n2")
        .agg(F.max("d").alias("d_stat"))
    )
    ne = (
        F.col("n1").cast("double")
        * F.col("n2").cast("double")
        / (F.col("n1") + F.col("n2")).cast("double")
    )
    return out.select(
        "n1",
        "n2",
        "d_stat",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(2.0) * F.exp(F.lit(-2.0) * F.col("d_stat") * F.col("d_stat") * ne),
            ),
            6,
        ).alias("p_approx_r"),
    )


def kaplan_meier(subjects: DataFrame) -> DataFrame:
    """Kaplan-Meier survival curve from (duration, event) subjects.

    One subjects-sized shuffle (groupBy duration) does the heavy
    lifting; the curve itself is then a strictly sequential fold over
    the KM TABLE — one row per distinct duration (days-sized, bounded
    by calendar span, never subjects-sized) — computed DRIVER-SIDE (the
    _bucket_offsets stance: a bounded summary's serial pass belongs on
    the driver, not in a partition-less WindowExec that warns and
    occupies an executor task).

    survival(t) = Π_{t'≤t} (1 - d/n), emitted as round(exp(Σ
    ln(1-d/n)), 6): the ln terms are the only transcendentals, the sum
    order is the duration order on both engines (Python libm vs DuckDB
    libm — 6 dp has ~8 orders of headroom over the accumulated ulp
    noise; rounding replicates Spark's HALF_UP on the shortest decimal
    repr exactly). A timepoint where everyone at risk dies (d = n)
    zeroes the curve from there on — never ln(0).
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    t, e = F.col("t"), F.col("died")
    # NULL semantics, pinned BEFORE the driver-side fold (Python < and
    # sorted() raise on None where the old SQL-window form silently
    # NULL-propagated): a NULL duration carries no timepoint — dropped;
    # a NULL event flag is censored-at-t — sum(e) skips it, and an
    # all-NULL duration group's NULL sum coalesces to 0 deaths.
    km = (
        subjects.filter(t.isNotNull())
        .groupBy(t.alias("t"))
        .agg(
            F.coalesce(F.sum(e), F.lit(0)).cast("long").alias("d"),
            F.count("*").alias("c"),
        )
    )
    rows = sorted(km.collect(), key=lambda r: r["t"])
    n_total = sum(r["c"] for r in rows)
    seen, cum_ln, dead = 0, 0.0, False
    out = []
    for r in rows:
        n_at_risk = n_total - seen
        seen += r["c"]
        if r["d"] < n_at_risk:
            cum_ln += math.log(1.0 - r["d"] / n_at_risk)
        else:
            dead = True
        if dead:
            surv = 0.0
        else:
            surv = float(
                Decimal(repr(math.exp(cum_ln))).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )
        if r["d"] > 0:
            out.append((r["t"], r["d"], n_at_risk, surv))
    schema = StructType(
        [
            km.schema["t"],
            StructField("d", LongType()),
            StructField("n_at_risk", LongType()),
            StructField("survival_r", DoubleType()),
        ]
    )
    return subjects.sparkSession.createDataFrame(out, schema)
