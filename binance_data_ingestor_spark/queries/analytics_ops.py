"""Product-analytics queries over the `events` log: daily actives,
cohort retention, funnel matching, numeric profiling.

These are the batch-relational forms of questions the reference's
downstream consumers answer imperatively by tailing Redis streams
(`/root/reference/tests/test_redis-data.py:48-78` poll-decode-inspect
loop): who is active, who is new, what sequence did a key follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.funnel import funnel_steps
from ..operators.text import hash_bucket_sql
from .util import (
    assert_stream_matches_batch,
    final_snapshot,
    load,
    replay_stream,
    stagger_replay_mtimes,
)


# --------------------------------------------------------------------------
# q76 — new vs returning daily active users + cumulative user count.
# One shuffle for the per-user first day, one keyed join back, tiny
# per-day aggregate; the running cumsum window runs over ~days rows
# (30 here), not over users — a driver-scale window even at 100 TB of
# events, so the unpartitioned window is deliberate.
# --------------------------------------------------------------------------
def q76_dau_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    daily = ev.distinct()
    first = daily.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per_day = (
        daily.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_active"),
            F.sum(
                (F.col("day") == F.col("first_day")).cast("long")
            ).alias("n_new"),
        )
    )
    # bounded window: per_day is the calendar-bounded daily summary
    # (≤ span days regardless of event volume)
    from ..operators.partitioning import bounded_ordered_window

    w = bounded_ordered_window("day", "day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return per_day.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w).alias("cum_users"),
    )


Q76_SQL = """
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY user_id),
pd AS (SELECT day, count(*) AS n_active,
              CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
                AS n_new
       FROM d JOIN f USING (user_id) GROUP BY day)
SELECT day, n_active, n_new,
       n_active - n_new AS n_returning,
       CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM pd
"""


# --------------------------------------------------------------------------
# q77 — weekly cohort retention triangle: users grouped by first-active
# ISO week, counted in each later week they return. Same shape as q76
# (per-user min + join back); output is cohorts × offsets, tiny.
# --------------------------------------------------------------------------
def q77_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    )
    weekly = ev.distinct()
    cohort = weekly.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        weekly.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff("wk", "cohort_wk") / 7).cast("long").alias("offset_weeks"),
        )
        .agg(F.count("*").alias("n_users"))
    )


Q77_SQL = """
WITH wkt AS (SELECT DISTINCT user_id,
                    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
c AS (SELECT user_id, min(wk) AS cohort_wk FROM wkt GROUP BY user_id)
SELECT cohort_wk,
       date_diff('day', cohort_wk, wk) // 7 AS offset_weeks,
       count(*) AS n_users
FROM wkt JOIN c USING (user_id)
GROUP BY cohort_wk, offset_weeks
"""


# --------------------------------------------------------------------------
# q78 — view→click→purchase funnel per user (operators/funnel.py):
# earliest order-respecting completion time per step + completed depth.
# One shuffle on user_id; the cascaded running-min windows share one
# sort (same partition/order ⇒ one Window node).
# --------------------------------------------------------------------------
def q78_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return funnel_steps(
        ev,
        key="user_id",
        ts="ts",
        steps=[
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        tie_break="event_id",
    )


Q78_SQL = """
WITH s1 AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN event_type = 'view' THEN ts END AS cand_view
  FROM events),
s2 AS (
  SELECT *, CASE WHEN event_type = 'click'
                  AND min(cand_view) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                      IS NOT NULL
                 THEN ts END AS cand_click
  FROM s1),
s3 AS (
  SELECT *, CASE WHEN event_type = 'purchase'
                  AND min(cand_click) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                      IS NOT NULL
                 THEN ts END AS cand_purchase
  FROM s2)
SELECT user_id,
       min(cand_view)     AS view_ts,
       min(cand_click)    AS click_ts,
       min(cand_purchase) AS purchase_ts,
       (min(cand_view) IS NOT NULL)::INT
       + (min(cand_click) IS NOT NULL)::INT
       + (min(cand_purchase) IS NOT NULL)::INT AS stage
FROM s3 GROUP BY user_id
"""


# --------------------------------------------------------------------------
# q79 — equi-width histogram profiling of events.value (ANALYZE-style
# column stats). Two-pass: 1-row min/max aggregate broadcast back over
# the scan, then a 10-group count — both passes map-side-partial, the
# histogram shuffle carries ≤ bins×partitions rows. Counts are exact
# integers; bin bounds derive from min/max only (no cross-engine
# float-accumulation hazard).
# --------------------------------------------------------------------------
HIST_BINS = 10


def q79_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("value")
    mm = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / HIST_BINS
    binned = ev.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(HIST_BINS - 1),
            # nullif: all-equal values zero the span — DuckDB divides to
            # NULL (then least skips it → bin 9); Spark ANSI would RAISE
            F.floor(
                (F.col("value") - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
                * HIST_BINS
            ),
        ).alias("bin"),
        "lo",
        "hi",
    )
    return (
        binned.groupBy("bin", "lo", "hi")
        .agg(F.count("*").alias("n_rows"))
        .select(
            "bin",
            "n_rows",
            F.round(F.col("lo") + F.col("bin") * width, 6).alias("bin_lo_r"),
            F.round(F.col("lo") + (F.col("bin") + 1) * width, 6).alias("bin_hi_r"),
        )
    )


Q79_SQL = f"""
WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
b AS (SELECT least({HIST_BINS - 1},
                   CAST(floor((value - lo) / (hi - lo) * {HIST_BINS}) AS BIGINT))
                AS bin, lo, hi
      FROM events, mm)
SELECT bin, count(*) AS n_rows,
       round(lo + bin * (hi - lo) / {HIST_BINS}, 6)       AS bin_lo_r,
       round(lo + (bin + 1) * (hi - lo) / {HIST_BINS}, 6) AS bin_hi_r
FROM b GROUP BY bin, lo, hi
"""


# --------------------------------------------------------------------------
# q137 — session entry/exit analysis: sessionize (q24's 30-min-gap
# rule, tie-broken by event_id), then per event_type count how often
# it opens a session, closes one, and is the ONLY event (bounce).
# Composition: the session window and the first/last picks share one
# (user_id, ts) sort; the final aggregate is states-sized. The
# bounce-rate column is the single-page-session metric every
# analytics stack reports.
# --------------------------------------------------------------------------
def q137_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(sec - F.lag(sec).over(w) > 1800, 1)
        .otherwise(F.when(F.lag(sec).over(w).isNull(), 1).otherwise(0))
        .alias("new_sess"),
    )
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(wcum))
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias("entry_type"),
        F.max_by("event_type", F.struct("ts", "event_id")).alias("exit_type"),
        F.count("*").alias("n_events"),
    )
    entries = per_sess.groupBy(F.col("entry_type").alias("event_type")).agg(
        F.count("*").alias("n_entries"),
        F.count_if(F.col("n_events") == 1).alias("n_bounces"),
    )
    exits = per_sess.groupBy(F.col("exit_type").alias("event_type")).agg(
        F.count("*").alias("n_exits")
    )
    return (
        entries.join(exits, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_entries", F.lit(0)).alias("n_entries"),
            F.coalesce("n_exits", F.lit(0)).alias("n_exits"),
            F.coalesce("n_bounces", F.lit(0)).alias("n_bounces"),
            F.round(
                F.coalesce("n_bounces", F.lit(0))
                / F.nullif(F.coalesce("n_entries", F.lit(0)), F.lit(0)).cast(
                    "double"
                ),
                6,
            ).alias("bounce_rate_r"),
        )
    )


Q137_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM sessions
),
per_sess AS (
  SELECT user_id, session_id,
         max(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
         max(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type,
         count(*) AS n_events
  FROM ranked GROUP BY user_id, session_id
),
entries AS (
  SELECT entry_type AS event_type, count(*) AS n_entries,
         count(*) FILTER (n_events = 1) AS n_bounces
  FROM per_sess GROUP BY 1
),
exits AS (SELECT exit_type AS event_type, count(*) AS n_exits
          FROM per_sess GROUP BY 1)
SELECT event_type,
       coalesce(n_entries, 0) AS n_entries,
       coalesce(n_exits, 0) AS n_exits,
       coalesce(n_bounces, 0) AS n_bounces,
       round(coalesce(n_bounces, 0)
             / CAST(nullif(coalesce(n_entries, 0), 0) AS DOUBLE), 6)
         AS bounce_rate_r
FROM entries FULL OUTER JOIN exits USING (event_type)
"""


# --------------------------------------------------------------------------
# q139 — top event-type trigrams per user population (sequential
# pattern mining lite): two lag taps over one (user, ts) sort build
# each consecutive 3-step path; the count of each distinct path and
# its share. The q120 transition matrix extended one order — the
# sequence-level signal a behavioral model trains on.
# --------------------------------------------------------------------------
def q139_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.lag("event_type", 2).over(w).alias("t1"),
            F.lag("event_type", 1).over(w).alias("t2"),
            F.col("event_type").alias("t3"),
        )
        .filter(F.col("t1").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("n"))
    )
    total = tri.agg(F.sum("n").alias("tot"))
    return (
        tri.crossJoin(F.broadcast(total))
        .select(
            "t1",
            "t2",
            "t3",
            "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("share_r"),
        )
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(25)
    )


Q139_SQL = """
WITH seq AS (
  SELECT lag(event_type, 2) OVER w AS t1,
         lag(event_type, 1) OVER w AS t2,
         event_type AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tri AS (SELECT t1, t2, t3, count(*) AS n FROM seq
        WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT sum(n) AS tot FROM tri)
SELECT t1, t2, t3, n, round(n / CAST(tot AS DOUBLE), 6) AS share_r
FROM tri CROSS JOIN tot
ORDER BY n DESC, t1, t2, t3 LIMIT 25
"""


# --------------------------------------------------------------------------
# q131 — A/B experiment readout: users assigned to control/treatment
# by md5 bucket parity (the same reproducible-assignment primitive as
# the q87 split — assignment survives reruns, engines, partitioning),
# conversion = had a purchase event; per-variant rates plus the
# pooled two-proportion z-statistic. One per-user aggregate, then
# variant-level math on a 2-row frame via a single conditional
# aggregate. The synthetic assignment makes the expected z ≈ 0 — the
# query is the harness, the certificate is cross-engine digit
# equality.
# --------------------------------------------------------------------------
def q131_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    assigned = per_user.selectExpr(
        "conv", f"({hash_bucket_sql('spark', 'user_id', 2)}) AS variant"
    )
    stats = assigned.agg(
        F.count_if(F.col("variant") == 0).alias("n0"),
        F.count_if(F.col("variant") == 1).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).alias("c1"),
    )
    # nullif on the arm sizes: an empty arm (possible on degenerate
    # user populations) divides to NULL in DuckDB but RAISES under
    # Spark ANSI mode without the guard
    n0 = F.nullif(F.col("n0"), F.lit(0))
    n1 = F.nullif(F.col("n1"), F.lit(0))
    p0 = F.col("c0") / n0
    p1 = F.col("c1") / n1
    pp = (F.col("c0") + F.col("c1")) / F.nullif(
        F.col("n0") + F.col("n1"), F.lit(0)
    )
    se = F.sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
    return stats.select(
        "n0",
        "n1",
        F.round(p0, 6).alias("rate0_r"),
        F.round(p1, 6).alias("rate1_r"),
        F.round((p1 - p0) / F.nullif(se, F.lit(0.0)), 6).alias("z_r"),
    )


Q131_SQL = f"""
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
a AS (SELECT conv, ({hash_bucket_sql("duckdb", "user_id", 2)}) AS variant
      FROM pu),
s AS (SELECT count(*) FILTER (variant = 0) AS n0,
             count(*) FILTER (variant = 1) AS n1,
             sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS c0,
             sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS c1
      FROM a)
SELECT n0, n1,
       round(c0 / CAST(n0 AS DOUBLE), 6) AS rate0_r,
       round(c1 / CAST(n1 AS DOUBLE), 6) AS rate1_r,
       round((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
             / nullif(sqrt((c0 + c1) / CAST(n0 + n1 AS DOUBLE)
                           * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                           * (1.0 / n0 + 1.0 / n1)), 0.0), 6) AS z_r
FROM s
"""


# --------------------------------------------------------------------------
# q120 — first-order Markov transition matrix over per-user event
# sequences: count (prev → next) event-type transitions and the
# conditional probability per source state. One shuffle keyed by
# user_id for the lag window; everything after operates on the
# states² matrix (25 rows), where the per-source normalization runs
# as a groups-sized window. The row-count certificate n ≥ 1 rules out
# silent state-space truncation.
# --------------------------------------------------------------------------
def q120_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.lag("event_type").over(wu).alias("prev_type"), "event_type"
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )
    wp = W.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p_r"),
    )


Q120_SQL = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type
  FROM events
),
trans AS (SELECT prev_type, event_type, count(*) AS n
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, event_type, n,
       round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6)
         AS p_r
FROM trans
"""


# --------------------------------------------------------------------------
# q121 — funnel transition-time distribution: for users who completed
# view→click→purchase (q78's funnel operator), the p50/p90 of each
# step-to-step delay in seconds. Composition proof: the funnel output
# feeds straight into exact percentile aggregation — one extra
# groups-sized pass over the per-user funnel rows, nothing re-scans
# the event log.
# --------------------------------------------------------------------------
def q121_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fun = funnel_steps(
        ev,
        key="user_id",
        ts="ts",
        steps=[
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        tie_break="event_id",
    )
    full = fun.filter(F.col("purchase_ts").isNotNull()).select(
        (
            F.unix_micros("click_ts") - F.unix_micros("view_ts")
        ).alias("view_to_click_us"),
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("click_to_purchase_us"),
    )
    pct = "percentile_cont({q}) WITHIN GROUP (ORDER BY {c})"
    return full.agg(
        F.count("*").alias("n_completed"),
        F.round(
            F.expr(pct.format(q=0.5, c="view_to_click_us")) / 1e6, 6
        ).alias("v2c_p50_s"),
        F.round(
            F.expr(pct.format(q=0.9, c="view_to_click_us")) / 1e6, 6
        ).alias("v2c_p90_s"),
        F.round(
            F.expr(pct.format(q=0.5, c="click_to_purchase_us")) / 1e6, 6
        ).alias("c2p_p50_s"),
        F.round(
            F.expr(pct.format(q=0.9, c="click_to_purchase_us")) / 1e6, 6
        ).alias("c2p_p90_s"),
    )


Q121_SQL = """
WITH s1 AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN event_type = 'view' THEN ts END AS cand_view
  FROM events),
s2 AS (
  SELECT *, CASE WHEN event_type = 'click'
                  AND min(cand_view) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                      IS NOT NULL
                 THEN ts END AS cand_click
  FROM s1),
s3 AS (
  SELECT *, CASE WHEN event_type = 'purchase'
                  AND min(cand_click) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                      IS NOT NULL
                 THEN ts END AS cand_purchase
  FROM s2),
fun AS (
  SELECT user_id,
         min(cand_view) AS view_ts,
         min(cand_click) AS click_ts,
         min(cand_purchase) AS purchase_ts
  FROM s3 GROUP BY user_id),
full_funnel AS (
  SELECT epoch_us(click_ts) - epoch_us(view_ts) AS view_to_click_us,
         epoch_us(purchase_ts) - epoch_us(click_ts) AS click_to_purchase_us
  FROM fun WHERE purchase_ts IS NOT NULL)
SELECT count(*) AS n_completed,
       round(quantile_cont(view_to_click_us, 0.5) / 1e6, 6) AS v2c_p50_s,
       round(quantile_cont(view_to_click_us, 0.9) / 1e6, 6) AS v2c_p90_s,
       round(quantile_cont(click_to_purchase_us, 0.5) / 1e6, 6) AS c2p_p50_s,
       round(quantile_cont(click_to_purchase_us, 0.9) / 1e6, 6) AS c2p_p90_s
FROM full_funnel
"""


# --------------------------------------------------------------------------
# q110 — peak concurrent user presence per day. Each user's presence
# on a day is the closed interval [first event, last event]. The plan
# is the SWEEP-LINE form: ±1 deltas at interval starts/ends, a running
# sum ordered by (ts, +1-before-−1) within each day, peak = max of the
# running sum at +1 rows. The running sum goes through the bucket-
# offset two-pass cumsum keyed on (day, hour-bucket) — fully parallel,
# never one task per day — because a per-day interval self-join
# (the naive form, kept as the ORACLE so the hash compare proves the
# sweep equivalent) is quadratic in DAU: measured 26.6× wall at 10×
# data in the sf1 study, the round-3 scale-killer this rewrite
# removes. Tie semantics: +1 sorts before −1 at an equal timestamp
# (closed intervals touching at endpoints ARE concurrent), and the
# max after the LAST +1 of a timestamp carries the full count, so
# equal-start ties need no further ordering.
# --------------------------------------------------------------------------
def q110_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import with_global_cumsum

    iv = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id", "ts")
        .groupBy("day", "user_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    deltas = iv.select(
        "day", F.col("s").alias("ts"), F.lit(1).alias("d")
    ).unionByName(iv.select("day", F.col("e").alias("ts"), F.lit(-1).alias("d")))
    # bucket = epoch hour, NOT session-local hour(ts): under a DST
    # fall-back timezone hour() repeats (01:59 → 01:00) and is
    # non-monotone in ts, violating the two-pass cumsum's monotone-
    # bucket precondition; floor(unix_micros/3.6e9) is timezone-
    # independent and strictly monotone in ts under any session tz
    cum = with_global_cumsum(
        deltas,
        ["day"],
        [F.asc("ts"), F.desc("d")],
        "d",
        bucket=F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000)),
        out_col="running",
    )
    return (
        cum.filter(F.col("d") == 1)
        .groupBy("day")
        .agg(F.max("running").alias("peak_concurrent"))
    )


Q110_SQL = """
WITH iv AS (SELECT CAST(ts AS DATE) AS day, user_id,
                   min(ts) AS s, max(ts) AS e
            FROM events GROUP BY 1, 2)
SELECT a.day AS day, max(cnt) AS peak_concurrent
FROM (SELECT a.day, a.user_id, count(*) AS cnt
      FROM iv a JOIN iv b
        ON a.day = b.day AND b.s <= a.s AND b.e >= a.s
      GROUP BY 1, 2) a
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q107 — trailing 7-day distinct active users per day (the classic
# WAU-by-day metric). Exact sliding-window distinct is not
# window-function-expressible, so the scale-correct plan is the
# bounded expand: each (user, day) row contributes to the ≤7 window
# ends it can appear in (explode of a 7-element date sequence), then
# one count-distinct shuffle keyed by window end. That is a fixed 7×
# blowup of the *deduplicated* (user, day) set — at 100 TB the dedup
# happens first and the expand stays linear, vs. the quadratic
# day×activity range join the naive SQL form (used as the oracle
# here) would need. Window ends past the observed calendar are
# dropped with a broadcast semi-join on real days.
# --------------------------------------------------------------------------
def q107_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
    )
    days = ud.select("d").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "day"
        ),
    )
    return (
        contrib.join(
            F.broadcast(days.withColumnRenamed("d", "day")), "day", "semi"
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("users_7d"))
    )


Q107_SQL = """
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM ud)
SELECT w.d AS day, count(DISTINCT u.user_id) AS users_7d
FROM days w JOIN ud u ON u.d BETWEEN w.d - 6 AND w.d
GROUP BY 1
"""



# --------------------------------------------------------------------------
# q141 — D7 rolling retention: for each day's active cohort, the
# fraction of users who return within the next 7 days. Same
# dedup-first bounded-expand shape as q107 (each (user, day) activity
# contributes to the ≤7 cohort days it can "retain"), so the join is
# a 7× expansion of the deduplicated activity set keyed by (user,
# cohort day) — never a day×activity range join.
# --------------------------------------------------------------------------
def q141_d7_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .localCheckpoint(eager=True)  # feeds cohorts AND the return probe
    )
    cohort = ud.groupBy(F.col("d").alias("day")).agg(
        F.count("*").alias("n_active")
    )
    # each activity (user, d) can retain cohorts d-7 .. d-1
    probe = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.date_sub(F.col("d"), 7), F.date_sub(F.col("d"), 1))
        ).alias("day"),
    ).distinct()
    retained = (
        ud.withColumnRenamed("d", "day")
        .join(probe, ["user_id", "day"], "left_semi")
        .groupBy("day")
        .agg(F.count("*").alias("n_retained"))
    )
    return (
        cohort.join(retained, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.round(
                F.coalesce("n_retained", F.lit(0))
                / F.col("n_active").cast("double"),
                6,
            ).alias("d7_retention_r"),
        )
    )


Q141_SQL = """
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
cohort AS (SELECT d AS day, count(*) AS n_active FROM ud GROUP BY 1),
retained AS (
  SELECT a.d AS day, count(DISTINCT a.user_id) AS n_retained
  FROM ud a JOIN ud b
    ON b.user_id = a.user_id AND b.d > a.d AND b.d <= a.d + 7
  GROUP BY 1
)
SELECT day, n_active, coalesce(n_retained, 0) AS n_retained,
       round(coalesce(n_retained, 0) / CAST(n_active AS DOUBLE), 6)
         AS d7_retention_r
FROM cohort LEFT JOIN retained USING (day)
"""


# --------------------------------------------------------------------------
# q147 — point-in-interval range join (binned): attribute each `error`
# event to the same user's DAILY ACTIVITY WINDOW [first non-error event,
# last non-error event] of that day.  Spark plans a bare BETWEEN join as
# BroadcastNestedLoopJoin — O(|errors|·|windows|); the rangejoin
# operator quantizes time into 1 h bins, replicates each window into the
# ~hours it spans, maps each error to its single bin, and equi-joins on
# (user_id, bin) — a plain shuffled hash join that survives 100 TB.  The
# DuckDB oracle keeps the textbook inequality-join form, so the hash
# compare doubles as an exactness proof of the binned rewrite.
# --------------------------------------------------------------------------
def q147_error_window_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import point_in_interval_join

    ev = load(spark, sf_dir, "events")
    windows = (
        ev.filter(F.col("event_type") != "error")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts")
    )
    joined = point_in_interval_join(
        errors,
        windows,
        point_ts="err_ts",
        lo="lo",
        hi="hi",
        bin_seconds=3600,
        keys=["user_id"],
    )
    return joined.groupBy("user_id", "day").agg(
        F.count("*").alias("n_err"),
        F.min("err_ts").alias("first_err"),
    )


Q147_SQL = """
WITH win AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         min(ts) AS lo, max(ts) AS hi
  FROM events WHERE event_type <> 'error'
  GROUP BY 1, 2),
err AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
SELECT w.user_id, w.day,
       CAST(count(*) AS BIGINT) AS n_err,
       min(e.ts) AS first_err
FROM win w JOIN err e
  ON w.user_id = e.user_id AND e.ts BETWEEN w.lo AND w.hi
GROUP BY w.user_id, w.day
"""


# --------------------------------------------------------------------------
# q148 — interval-overlap range join (binned, self): pairs of DISTINCT
# users whose 30-minute-gap sessions overlapped in time — "who was on
# the site together", the concurrence question q110 answers only in
# aggregate.  Both session sets explode into 1 h bins; the pair matches
# only in the FIRST shared bin (exactly-once guard), then per user pair
# we count overlapping session pairs and total overlap milliseconds
# (exact integer arithmetic end-to-end).  Oracle: DuckDB IEJoin on the
# raw inequality — an independent evaluation strategy for the same
# semantics.
# --------------------------------------------------------------------------
def q148_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import interval_overlap_join
    from .streaming_like import q24_sessionize

    sess = q24_sessionize(spark, sf_dir).select("user_id", "sess_start", "sess_end")
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("sess_start").alias("lo_a"),
        F.col("sess_end").alias("hi_a"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("sess_start").alias("lo_b"),
        F.col("sess_end").alias("hi_b"),
    )
    pairs = interval_overlap_join(
        a,
        b,
        a_lo="lo_a",
        a_hi="hi_a",
        b_lo="lo_b",
        b_hi="hi_b",
        bin_seconds=3600,
        extra_cond=F.col("user_a") < F.col("user_b"),
    )
    overlap_ms = F.unix_millis(F.least("hi_a", "hi_b")) - F.unix_millis(
        F.greatest("lo_a", "lo_b")
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count("*").alias("n_overlap"),
        F.sum(overlap_ms).alias("overlap_ms"),
    )


Q148_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
),
sess AS (
  SELECT user_id, min(ts) AS lo, max(ts) AS hi
  FROM numbered GROUP BY user_id, session_id
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(count(*) AS BIGINT) AS n_overlap,
       CAST(sum(epoch_ms(least(a.hi, b.hi)) - epoch_ms(greatest(a.lo, b.lo)))
            AS BIGINT) AS overlap_ms
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
GROUP BY a.user_id, b.user_id
"""


# --------------------------------------------------------------------------
# q156 — conversion-window funnel: view → click within 1 h → purchase
# within 24 h of a QUALIFIED click.  Unlike q78's unconstrained funnel,
# each step must land inside a lookback window of the previous step —
# and the correct (non-greedy) semantics is per-event: a click
# qualifies if ANY view sits in its 1 h lookback, a purchase if any
# QUALIFIED click sits in its 24 h lookback.  That is two cascaded
# RANGE windows over the same (user, time) sort — one Exchange, one
# Sort, two Window passes, no self-joins.  Second-granularity epoch
# ordering keeps the frames integer-exact on both engines.
# --------------------------------------------------------------------------
FUNNEL_W1_S = 3600       # view → click window
FUNNEL_W2_S = 86400      # click → purchase window


def q156_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    base = ev.select(
        "user_id",
        "event_type",
        sec.alias("sec"),
    )
    w1 = (
        W.partitionBy("user_id").orderBy("sec").rangeBetween(-FUNNEL_W1_S, 0)
    )
    w2 = (
        W.partitionBy("user_id").orderBy("sec").rangeBetween(-FUNNEL_W2_S, 0)
    )
    view_t = F.when(F.col("event_type") == "view", F.col("sec"))
    s1 = base.withColumn("view_t", view_t).withColumn(
        "qclick_t",
        F.when(
            (F.col("event_type") == "click")
            & F.max("view_t").over(w1).isNotNull(),
            F.col("sec"),
        ),
    )
    s2 = s1.withColumn(
        "qpurchase_t",
        F.when(
            (F.col("event_type") == "purchase")
            & F.max("qclick_t").over(w2).isNotNull(),
            F.col("sec"),
        ),
    )
    return s2.groupBy("user_id").agg(
        F.min("view_t").alias("first_view_s"),
        F.min("qclick_t").alias("first_qclick_s"),
        F.min("qpurchase_t").alias("first_qpurchase_s"),
        (
            F.min("view_t").isNotNull().cast("int")
            + F.min("qclick_t").isNotNull().cast("int")
            + F.min("qpurchase_t").isNotNull().cast("int")
        ).alias("stage"),
    )


Q156_SQL = f"""
WITH base AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events),
s1 AS (
  SELECT *,
         CASE WHEN event_type = 'view' THEN sec END AS view_t
  FROM base),
s2 AS (
  SELECT *,
         CASE WHEN event_type = 'click'
               AND max(view_t) OVER (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN {FUNNEL_W1_S} PRECEDING AND CURRENT ROW)
                   IS NOT NULL
              THEN sec END AS qclick_t
  FROM s1),
s3 AS (
  SELECT *,
         CASE WHEN event_type = 'purchase'
               AND max(qclick_t) OVER (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN {FUNNEL_W2_S} PRECEDING AND CURRENT ROW)
                   IS NOT NULL
              THEN sec END AS qpurchase_t
  FROM s2)
SELECT user_id,
       min(view_t)      AS first_view_s,
       min(qclick_t)    AS first_qclick_s,
       min(qpurchase_t) AS first_qpurchase_s,
       (min(view_t) IS NOT NULL)::INT
       + (min(qclick_t) IS NOT NULL)::INT
       + (min(qpurchase_t) IS NOT NULL)::INT AS stage
FROM s3 GROUP BY user_id
"""


# --------------------------------------------------------------------------
# q162 — multi-touch (linear) revenue attribution: every purchase
# splits its value equally across the same user's clicks in the prior
# 24 h; each click reports its attributed revenue. The (purchase →
# candidate clicks) pairing is an inequality join — expressed through
# the binned point-in-interval operator (clicks become [ts, ts+24h]
# windows, purchases are points), so the hot path is a shuffled
# equi-join on (user, hour-bin) instead of a nested loop. Purchase
# values ride as exact cents; the per-pair share is one IEEE division
# and the per-click sum rounds at 6 dp (exact-rational summands,
# order-independent at that precision).
# --------------------------------------------------------------------------
ATTR_WINDOW_S = 86400


def q162_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import point_in_interval_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr(f"INTERVAL {ATTR_WINDOW_S} SECONDS")).alias("hi"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    pairs = point_in_interval_join(
        purchases,
        clicks,
        point_ts="pts",
        lo="lo",
        hi="hi",
        bin_seconds=3600,
        keys=["user_id"],
    )
    shares = pairs.withColumn(
        "n_claims", F.count("*").over(W.partitionBy("purchase_id"))
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.col("cents") / F.col("n_claims")).alias("credit_c"),
    )
    return shares.groupBy("user_id", "click_id").agg(
        F.countDistinct("purchase_id").alias("n_purchases"),
        F.round(F.sum("credit_c") / 100.0, 6).alias("attr_revenue_r"),
    )


Q162_SQL = f"""
WITH c AS (SELECT user_id, event_id AS click_id, ts AS lo,
                  ts + INTERVAL {ATTR_WINDOW_S} SECOND AS hi
           FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purchase_id, ts AS pts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
pairs AS (SELECT c.user_id, c.click_id, p.purchase_id, p.cents
          FROM p JOIN c ON p.user_id = c.user_id
                       AND p.pts BETWEEN c.lo AND c.hi),
shares AS (SELECT user_id, click_id, purchase_id,
                  cents / (count(*) OVER (PARTITION BY purchase_id))
                    AS credit_c
           FROM pairs)
SELECT user_id, click_id,
       CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       round(sum(credit_c) / 100.0, 6) AS attr_revenue_r
FROM shares GROUP BY user_id, click_id
"""


# --------------------------------------------------------------------------
# q167 — Kaplan-Meier time-to-conversion: per-user days from first
# event to first HIGH-VALUE purchase (value ≥ 150); users who never
# convert are right-censored at their last observed day — the survival
# analysis a growth team runs where q77's cohort grid would understate
# conversion by ignoring censoring. One users-sized shuffle; the
# cumulative product runs over the KM table (one row per distinct
# duration — days-sized), emitted as round(exp(Σ ln(1-d/n)), 6) with an
# explicit zero flag so ln(0) can never occur.
# --------------------------------------------------------------------------
KM_CONVERSION_VALUE = 150


def q167_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import kaplan_meier

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type", "value")
    conv_ts = F.when(
        (F.col("event_type") == "purchase")
        & (F.col("value") >= KM_CONVERSION_VALUE),
        F.col("ts"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("s"),
        F.max("ts").alias("e"),
        F.min(conv_ts).alias("conv"),
    )
    subjects = per_user.select(
        F.datediff(F.to_date(F.coalesce("conv", "e")), F.to_date("s"))
        .cast("long")
        .alias("t"),
        F.col("conv").isNotNull().cast("int").alias("died"),
    )
    return kaplan_meier(subjects)


Q167_SQL = f"""
WITH pu AS (
  SELECT user_id, min(ts) AS s, max(ts) AS e,
         min(CASE WHEN event_type = 'purchase'
                   AND value >= {KM_CONVERSION_VALUE} THEN ts END) AS conv
  FROM events GROUP BY user_id),
subj AS (
  SELECT CAST(date_diff('day', CAST(s AS DATE),
                        CAST(coalesce(conv, e) AS DATE)) AS BIGINT) AS t,
         CASE WHEN conv IS NOT NULL THEN 1 ELSE 0 END AS died
  FROM pu),
km AS (
  SELECT t, CAST(sum(died) AS BIGINT) AS d, count(*) AS c
  FROM subj GROUP BY t),
tot AS (SELECT count(*) AS n_total FROM subj),
risk AS (
  SELECT t, d,
         CAST(n_total - (sum(c) OVER (ORDER BY t) - c) AS BIGINT)
           AS n_at_risk
  FROM km, tot),
terms AS (
  SELECT t, d, n_at_risk,
         CASE WHEN d < n_at_risk
              THEN ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
              ELSE 0.0 END AS lnterm,
         CASE WHEN d = n_at_risk THEN 1 ELSE 0 END AS zero_flag
  FROM risk),
curve AS (
  SELECT t, d, n_at_risk,
         CASE WHEN max(zero_flag) OVER (ORDER BY t) = 1 THEN 0.0
              ELSE round(exp(sum(lnterm) OVER (ORDER BY t)), 6) END
           AS survival_r
  FROM terms)
SELECT t, d, n_at_risk, survival_r FROM curve WHERE d > 0
"""


# --------------------------------------------------------------------------
# q170 — revenue-concentration audit: exact Gini coefficient of
# customer revenue. Per-customer totals (one customers-sized shuffle)
# are globally ranked by (cents, custkey) via the bucket-offset
# two-pass (partitioning.with_global_rank, keys=[]) — only the bucket
# SUMMARY ever serializes. Gini = (2·Σ rank·x − (n+1)·Σx) / (n·Σx):
# every product and sum is an exact int64, the final value ONE IEEE
# division — bit-identical across engines. Ties in cents leave
# Σ rank·x invariant under tie-order, so the tie-break only ensures a
# deterministic rank column, not the result. int64 bound: Σ rank·x
# overflows around n·revenue ≈ 9e18 (n=1e9 customers × ~$90M cum-rank
# product headroom) — beyond that, bucket the ranks and sum per-bucket
# doubles, trading exactness for range.
# --------------------------------------------------------------------------
def q170_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import with_global_rank

    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    ranked = with_global_rank(
        rev, [], ["cents", "o_custkey"], bucket=F.expr("cents div 1000000")
    )
    stats = ranked.agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.col("rank") * F.col("cents")).cast("long").alias("s1"),
    )
    num = 2 * F.col("s1") - (F.col("n_customers") + 1) * F.col("total_cents")
    den = F.col("n_customers") * F.col("total_cents")
    return stats.select(
        "n_customers",
        "total_cents",
        (num.cast("double") / den.cast("double")).alias("gini_r"),
    )


Q170_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS rank
  FROM rev),
s AS (
  SELECT count(*) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(sum(rank * cents) AS BIGINT) AS s1
  FROM ranked)
SELECT n_customers, total_cents,
       CAST(2 * s1 - (n_customers + 1) * total_cents AS DOUBLE)
       / CAST(n_customers * total_cents AS DOUBLE) AS gini_r
FROM s
"""


# --------------------------------------------------------------------------
# q171 — 7-day rolling distinct users via HLL SKETCH UNION, certified
# against the exact count (q107's bounded-expand shape). The scale
# story: per-day sketches are the maintained artifact (one
# hll_sketch_agg pass); every rolling window is then 7 SKETCH MERGES
# over the days-sized table instead of a distinct over 7 days of raw
# events — the pattern that turns a 100 TB rolling-distinct dashboard
# into a KB-sized merge job. The exact side is the audit (same role as
# q151's recall certificate): the emitted column is the certificate
# flag, so the oracle's literal 1 hash-matches only if the estimate
# actually lands within 5% — at production scale you drop the exact
# branch and keep the sketches.
# --------------------------------------------------------------------------
def q171_rolling_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    # lgK=14 (16 KB/sketch, ~0.8% stderr): 3σ ≈ 2.5%, comfortably
    # inside the 5% certificate at any SF; the default lgK=12's 3σ is
    # ~4.9% — one unlucky day would flip the flag
    sk = daily.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    # each day's sketch contributes to the 7 window-ends it can appear
    # in (bounded 7× explode of the days-sized sketch table), then one
    # groupBy(window end) merges — HLL union is order-free, so this is
    # value-identical to a calendar RANGE window but shuffles on the
    # day key instead of serializing a partition-less window; phantom
    # window ends past the calendar drop at the inner join below
    est = (
        sk.select(
            F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias(
                "eday"
            ),
            "sk",
        )
        .groupBy("eday")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"))
        .withColumnRenamed("eday", "day")
    )
    expanded = daily.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("tday"),
    )
    exact = (
        expanded.join(
            sk.select(F.col("day").alias("tday")), "tday", "left_semi"
        )
        .groupBy("tday")
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    within = (
        F.abs(F.col("__est") - F.col("n_exact")) / F.col("n_exact") <= 0.05
    )
    return (
        est.join(exact, est.day == exact.tday)
        .select(
            "day",
            "n_exact",
            F.when(within, 1).otherwise(0).cast("long").alias("hll_within_5pct"),
        )
    )


Q171_SQL = """
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM daily),
exact AS (
  SELECT d.day, count(DISTINCT u.user_id) AS n_exact
  FROM days d JOIN daily u ON u.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day)
SELECT day, n_exact, CAST(1 AS BIGINT) AS hll_within_5pct FROM exact
"""


# --------------------------------------------------------------------------
# q190 — grouped GK-quantile SKETCH with a rank-ε certificate: the
# quantile member of the sketch-audit family (HLL=q171, count-min=q116,
# Misra-Gries=q88/q187). percentile_approx(accuracy=A) is the 100 TB
# path (mergeable Greenwald-Khanna summaries, O(A·log) state — exact
# grouped percentiles need a per-group sort); its guarantee is a RANK
# bound — the returned element's rank is within N/A of p·N — so the
# certificate recomputes the approx value's exact rank (one
# broadcast-join + count pass, integer arithmetic) and emits the
# within-bound flag. The oracle carries the exact interpolated
# percentiles plus literal-1 flags: the hash matches only if the GK
# guarantee actually held. At production scale the exact branch drops
# and the sketches remain (q171's stance).
# --------------------------------------------------------------------------
GK_ACCURACY = 1000


def q190_quantile_sketch_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    stats = o.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.percentile_approx(
            "cents", F.array(F.lit(0.5), F.lit(0.95)), F.lit(GK_ACCURACY)
        ).alias("ap"),
        F.expr("percentile(cents, array(0.5D, 0.95D))").alias("ex"),
    )
    probes = stats.select(
        "grp", F.col("ap")[0].alias("a50"), F.col("ap")[1].alias("a95")
    )
    # The returned value a occupies the rank INTERVAL
    # [count(<a)+1, count(<=a)] under duplication; GK guarantees SOME
    # rank of a lies within ±(n/A+1) of p·n, so the certificate checks
    # interval OVERLAP — lo ≤ p·n+bound AND hi ≥ p·n−bound. Checking
    # only the max rank (count(<=a)) can sit outside the band when the
    # value is heavily duplicated even though the guarantee holds.
    ranks = (
        o.join(F.broadcast(probes), "grp")
        .groupBy("grp")
        .agg(
            F.sum((F.col("cents") < F.col("a50")).cast("long")).alias("lt50"),
            F.sum((F.col("cents") <= F.col("a50")).cast("long")).alias("le50"),
            F.sum((F.col("cents") < F.col("a95")).cast("long")).alias("lt95"),
            F.sum((F.col("cents") <= F.col("a95")).cast("long")).alias("le95"),
        )
    )

    def within(lt, le, p):
        bound = F.col("n").cast("double") / GK_ACCURACY + 1
        target = F.lit(p) * F.col("n")
        lo_ok = (F.col(lt).cast("double") + 1) <= target + bound
        hi_ok = F.col(le).cast("double") >= target - bound
        return (lo_ok & hi_ok).cast("long")

    return (
        stats.join(ranks, "grp")
        .select(
            "grp",
            "n",
            F.round(F.col("ex")[0], 6).alias("exact_p50_r"),
            F.round(F.col("ex")[1], 6).alias("exact_p95_r"),
            within("lt50", "le50", 0.5).alias("gk_p50_within_eps"),
            within("lt95", "le95", 0.95).alias("gk_p95_within_eps"),
        )
    )


Q190_SQL = """
WITH o AS (SELECT o_orderpriority AS grp,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
SELECT grp, CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(cents, 0.5), 6)  AS exact_p50_r,
       round(quantile_cont(cents, 0.95), 6) AS exact_p95_r,
       CAST(1 AS BIGINT) AS gk_p50_within_eps,
       CAST(1 AS BIGINT) AS gk_p95_within_eps
FROM o GROUP BY grp
"""


# --------------------------------------------------------------------------
# q198 — multi-touch conversion attribution: every purchase is joined
# to the user's touchpoints (click/view/signup) inside a 7-day
# lookback, and each CHANNEL is credited two ways — last-touch (the
# standard single-credit model: latest touch before the conversion,
# ties broken by event_id) and linear (1/n to each of the n in-window
# touches; a touchless conversion credits 1.0 to 'none' via a left
# join). The marketing-analytics workload missing from the funnel
# family (q121/q137/q156 measure progression, not credit).
#
# Scale shape: the purchase⨝touch join is an equi-join on user_id with
# the time band as a post-filter — per-user fan-out is bounded by 7
# days of activity; a pathologically hot user is the q184 salting /
# q147 time-binning case. Both credit windows share ONE shuffle keyed
# by the conversion id. The linear credit is a float sum of exact
# divisions → round 6 (q117 convention, ulp headroom ~7 orders).
# --------------------------------------------------------------------------
_ATTR_DAYS = 7
_ATTR_TOUCH = ("click", "view", "signup")


def q198_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin(*_ATTR_TOUCH)).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("t_id"),
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    cond = (
        (conv["user_id"] == touches["t_user"])
        & (touches["t_ts"] >= conv["c_ts"] - F.expr(f"INTERVAL {_ATTR_DAYS} DAYS"))
        & (touches["t_ts"] < conv["c_ts"])
    )
    j = conv.join(touches, cond, "left")
    wc = W.partitionBy("c_id")
    wr = W.partitionBy("c_id").orderBy(F.col("t_ts").desc(), F.col("t_id").desc())
    scored = j.select(
        F.coalesce("channel", F.lit("none")).alias("channel"),
        F.count("t_id").over(wc).alias("n_touch"),
        F.row_number().over(wr).alias("rn"),
    )
    return scored.groupBy("channel").agg(
        F.count_if(F.col("rn") == 1).alias("last_touch_conversions"),
        F.round(
            F.sum(F.lit(1.0) / F.greatest(F.col("n_touch"), F.lit(1)).cast("double")),
            6,
        ).alias("linear_credit_r"),
        F.count_if(F.col("n_touch") > 0).alias("n_touch_rows"),
    )


Q198_SQL = f"""
WITH t AS (SELECT user_id AS t_user, ts AS t_ts, event_type AS channel,
                  event_id AS t_id
           FROM events
           WHERE event_type IN ({", ".join(f"'{c}'" for c in _ATTR_TOUCH)})),
c AS (SELECT user_id, ts AS c_ts, event_id AS c_id
      FROM events WHERE event_type = 'purchase'),
j AS (SELECT c.c_id, t.channel, t.t_ts, t.t_id
      FROM c LEFT JOIN t ON c.user_id = t.t_user
        AND t.t_ts >= c.c_ts - INTERVAL {_ATTR_DAYS} DAY
        AND t.t_ts < c.c_ts),
s AS (SELECT c_id, coalesce(channel, 'none') AS channel,
             count(t_id) OVER (PARTITION BY c_id) AS n_touch,
             row_number() OVER (PARTITION BY c_id
                                ORDER BY t_ts DESC, t_id DESC) AS rn
      FROM j)
SELECT channel,
       count(*) FILTER (rn = 1) AS last_touch_conversions,
       round(sum(1.0 / CAST(greatest(n_touch, 1) AS DOUBLE)), 6)
         AS linear_credit_r,
       count(*) FILTER (n_touch > 0) AS n_touch_rows
FROM s GROUP BY channel
"""


# --------------------------------------------------------------------------
# q206 — Markov removal-effect attribution (Anderl et al. 2014): the
# model-based sibling of q162/q198's heuristic (last-touch/linear)
# credit. Per-user journeys (channel events up to the FIRST purchase)
# become a first-order Markov chain over {START, channels, CONV,
# LOST}; a channel's credit is its REMOVAL EFFECT — how much the
# 12-step START→CONV probability drops when every transition into the
# channel is redirected to LOST. The fixed step count makes the
# propagation deterministic, so the DuckDB oracle unrolls the SAME 12
# rounds as chained CTEs over ALL removal variants at once and
# hash-compares every channel's effect (the q99/q200 pattern applied
# to an absorbing chain).
#
# Scale shape: journeys need one per-user window (the q120 transition
# shape); everything after is CHAIN-sized — ≤|states|² transition rows
# regardless of event volume — so the matrix collects to the driver
# (bounded by contract) and the 12-step propagation over all removal
# variants runs as scalar arithmetic in deterministic (sorted) fold
# order. Probabilities are exact-integer-count ratios; the per-step
# sums add ≤|states| doubles (ulp noise ~1e-15, absorbed by the final
# 6-dp round — the pagerank argument).
# --------------------------------------------------------------------------
_MRK_STEPS = 12


def q206_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pw = W.partitionBy("user_id").orderBy("ts", "event_id")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("fts"), F.col("event_id").alias("fid"))
    )
    j = (
        ev.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id", "left")
        .filter(
            F.col("fts").isNull()
            | (F.col("ts") < F.col("fts"))
            | ((F.col("ts") == F.col("fts")) & (F.col("event_id") < F.col("fid")))
        )
        .select(
            "user_id", "ts", "event_id", "event_type",
            F.col("fts").isNotNull().alias("conv"),
        )
    )
    seq = j.select(
        "event_type",
        "conv",
        F.lag("event_type").over(pw).alias("prev"),
        F.lead("event_type").over(pw).alias("nxt"),
    )
    tr1 = seq.select(
        F.coalesce("prev", F.lit("START")).alias("s"),
        F.col("event_type").alias("t"),
    )
    tr2 = seq.filter(F.col("nxt").isNull()).select(
        F.col("event_type").alias("s"),
        F.when(F.col("conv"), "CONV").otherwise("LOST").alias("t"),
    )
    # converted users whose journey is empty (purchase was their first event)
    tr3 = fp.join(
        j.select("user_id").distinct(), "user_id", "left_anti"
    ).select(F.lit("START").alias("s"), F.lit("CONV").alias("t"))
    cnt = (
        tr1.unionAll(tr2).unionAll(tr3).groupBy("s", "t").agg(F.count("*").alias("n"))
    )
    prob = cnt.select(
        "s",
        "t",
        (F.col("n") * F.lit(1.0) / F.sum("n").over(W.partitionBy("s"))).alias("w"),
    )
    # The chain is O(1)-sized BY CONTRACT: |states| is the event-type
    # domain (+START/CONV/LOST), so `prob` holds ≤ |states|² rows no
    # matter how many events fed it — a bounded driver collect, like
    # the engine's other chain/codebook-sized artifacts. The 12-step
    # propagation over all removal variants is then pure scalar
    # arithmetic; running it as 12 Spark join rounds costs ~0.5 s of
    # fixed scheduling per round for zero parallelism gain (measured
    # 6.8 s → ~1.5 s at sf0.1 from this fold).
    prob_rows = sorted(
        ((r["s"], r["t"], r["w"]) for r in prob.collect())
    )  # sorted ⇒ deterministic float accumulation order
    # Channel domain = ALL distinct non-purchase event types (matching the
    # oracle's `ch` CTE), not just observed transition sources: an event
    # type that only ever occurs after users' first purchases contributes
    # no transition but is still a channel (removal_r = 0). Bounded
    # collect: |event-type domain| rows.
    channels = sorted(
        r["event_type"]
        for r in ev.filter(F.col("event_type") != "purchase")
        .select("event_type")
        .distinct()
        .collect()
    )

    def _nstep(removed: str | None) -> float:
        t: dict[tuple[str, str], float] = {}
        for s, tt, w in prob_rows:
            if s == removed:
                continue
            tt2 = "LOST" if tt == removed else tt
            t[(s, tt2)] = t.get((s, tt2), 0.0) + w
        t[("CONV", "CONV")] = 1.0
        t[("LOST", "LOST")] = 1.0
        p = {"CONV": 1.0}
        for _ in range(_MRK_STEPS):
            nxt: dict[str, float] = {}
            for (s, tt2), w in sorted(t.items()):
                if tt2 in p:
                    nxt[s] = nxt.get(s, 0.0) + w * p[tt2]
            p = nxt
        return p.get("START", 0.0)

    pfull = _nstep(None)
    out = spark.createDataFrame(
        [(c, _nstep(c)) for c in channels], "channel string, p double"
    )
    # round in Spark (HALF_UP), matching every other query's convention
    return out.select(
        "channel",
        F.round("p", 6).alias("conv_p_r"),
        F.round(F.lit(1.0) - F.col("p") / F.lit(pfull), 6).alias("removal_r"),
    )


def _markov_sql(steps: int) -> str:
    parts = [
        """WITH pu AS (SELECT user_id, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = \'purchase\'),
fp AS (SELECT user_id, ts AS fts, event_id AS fid FROM pu WHERE rn = 1),
j AS (SELECT e.user_id, e.ts, e.event_id, e.event_type,
             fp.fts IS NOT NULL AS conv
      FROM events e LEFT JOIN fp USING (user_id)
      WHERE e.event_type <> \'purchase\'
        AND (fp.fts IS NULL OR e.ts < fp.fts
             OR (e.ts = fp.fts AND e.event_id < fp.fid))),
seq AS (SELECT event_type, conv,
               lag(event_type) OVER w AS prev,
               lead(event_type) OVER w AS nxt
        FROM j WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
tr AS (SELECT coalesce(prev, \'START\') AS s, event_type AS t FROM seq
       UNION ALL
       SELECT event_type AS s,
              CASE WHEN conv THEN \'CONV\' ELSE \'LOST\' END AS t
       FROM seq WHERE nxt IS NULL
       UNION ALL
       SELECT \'START\' AS s, \'CONV\' AS t FROM fp
       WHERE user_id NOT IN (SELECT user_id FROM j)),
cnt AS (SELECT s, t, count(*) AS n FROM tr GROUP BY 1, 2),
prob AS (SELECT s, t,
                n * 1.0 / sum(n) OVER (PARTITION BY s) AS w
         FROM cnt),
ch AS (SELECT DISTINCT event_type AS rm FROM events
       WHERE event_type <> \'purchase\'),
v AS (SELECT rm FROM ch UNION ALL SELECT \'FULL\'),
vt AS (SELECT rm, s, t, sum(w) AS w FROM (
         SELECT v.rm, p.s,
                CASE WHEN v.rm <> \'FULL\' AND p.t = v.rm
                     THEN \'LOST\' ELSE p.t END AS t,
                p.w
         FROM prob p CROSS JOIN v
         WHERE v.rm = \'FULL\' OR p.s <> v.rm)
       GROUP BY 1, 2, 3),
tm AS MATERIALIZED (SELECT rm, s, t, w FROM vt
      UNION ALL SELECT rm, \'CONV\', \'CONV\', 1.0 FROM v
      UNION ALL SELECT rm, \'LOST\', \'LOST\', 1.0 FROM v),
p0 AS (SELECT rm, \'CONV\' AS state, 1.0 AS p FROM v)"""
    ]
    for i in range(1, steps + 1):
        parts.append(
            f""",
p{i} AS (SELECT tm.rm, tm.s AS state, sum(tm.w * p.p) AS p
       FROM tm JOIN p{i - 1} p ON tm.rm = p.rm AND tm.t = p.state
       GROUP BY 1, 2)"""
        )
    parts.append(
        f"""
SELECT c.rm AS channel, round(c.p, 6) AS conv_p_r,
       round(1 - c.p / f.p, 6) AS removal_r
FROM p{steps} c JOIN p{steps} f
  ON f.rm = \'FULL\' AND f.state = \'START\'
WHERE c.state = \'START\' AND c.rm <> \'FULL\'"""
    )
    return "".join(parts)


Q206_SQL = _markov_sql(_MRK_STEPS)


# --------------------------------------------------------------------------
# q214 — sequential-pattern support mining: for every ordered pair of
# event types (a → b), how often b follows a WITHIN A 10-MINUTE GAP in
# the same user's stream, and how many distinct users exhibit the
# pattern — the gap-constrained generalization of q120's ADJACENT
# transitions / q139's adjacent trigrams (a classic frequent-sequence
# support count). Scale shape: the inequality join that would plan as
# a BNLJ goes through operators/rangejoin.point_in_interval_join —
# each "a" event becomes the interval (ts_a, ts_a + 10 min], points
# bin to fixed windows, and the match is a plain shuffled equi-join on
# (user_id, bin) with the exact predicate re-applied; support
# aggregation is partially aggregable on (etype_a, etype_b).
# --------------------------------------------------------------------------
_SEQ_GAP_S = 600


def q214_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import point_in_interval_join

    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    a = ev.select(
        "user_id",
        F.col("event_type").alias("etype_a"),
        (F.col("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("lo"),
        (F.col("ts") + F.expr(f"INTERVAL {_SEQ_GAP_S} SECONDS")).alias("hi"),
    )
    b = ev.select(
        "user_id",
        F.col("event_type").alias("etype_b"),
        F.col("ts").alias("ts_b"),
    )
    pairs = point_in_interval_join(
        b,
        a,
        point_ts="ts_b",
        lo="lo",
        hi="hi",
        bin_seconds=_SEQ_GAP_S,
        keys=["user_id"],
    )
    return pairs.groupBy("etype_a", "etype_b").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
    )


Q214_SQL = f"""
SELECT a.event_type AS etype_a, b.event_type AS etype_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL {_SEQ_GAP_S} SECONDS
GROUP BY 1, 2
"""



# --------------------------------------------------------------------------
# q250 — Wilson 95% score interval per customer segment for the
# urgent-responder rate (the CI a dashboard should show instead of
# the raw proportion — it stays inside [0,1] and behaves at small n,
# unlike the Wald interval). k = customers with ≥1 URGENT order
# (distinct() on the responder keys, then a LEFT OUTER join probed
# with isNotNull — the distinct is what prevents the fan-out; a pure
# left-semi cannot emit the 0-flag rows the per-segment n needs in
# one pass), n = segment size; the interval
# is one fixed-order IEEE chain over the exact (k, n) integers with
# z = 1.96 as a shared literal, sqrt(greatest(0,·)) on the variance
# term (round-7 ANSI discipline; the argument is non-negative
# algebraically, the guard makes it non-negative under IEEE too).
# Plan: one distinct + one left-outer flag join + a segments-sized
# aggregate — nothing but counts ever shuffles.
# --------------------------------------------------------------------------
WILSON_Z = 1.96


def q250_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    responders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    flagged = cust.join(
        responders, cust["c_custkey"] == responders["o_custkey"], "left"
    ).select("seg", F.col("o_custkey").isNotNull().cast("long").alias("y"))
    agg = flagged.groupBy("seg").agg(
        F.count("*").alias("n"), F.sum("y").alias("k")
    )
    z = F.lit(WILSON_Z)
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = F.lit(1.0) + z * z / n
    center = (p + z * z / (F.lit(2.0) * n)) / denom
    half = (
        z
        * F.sqrt(
            F.greatest(
                F.lit(0.0),
                p * (F.lit(1.0) - p) / n
                + z * z / (F.lit(4.0) * n * n),
            )
        )
        / denom
    )
    return agg.select(
        "seg",
        "n",
        "k",
        p.alias("p_r"),
        (center - half).alias("lo_r"),
        (center + half).alias("hi_r"),
    )


Q250_SQL = f"""
WITH f AS (SELECT c_mktsegment AS seg,
                  CASE WHEN EXISTS (SELECT 1 FROM orders
                                    WHERE o_custkey = c_custkey
                                      AND o_orderpriority = '1-URGENT')
                       THEN 1 ELSE 0 END AS y
           FROM customer),
a AS (SELECT seg, count(*) AS n, sum(y) AS k FROM f GROUP BY 1)
SELECT seg, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       CAST(k AS DOUBLE) / n AS p_r,
       (CAST(k AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z} / (2.0 * n))
         / (1.0 + {WILSON_Z} * {WILSON_Z} / n)
       - {WILSON_Z} * sqrt(greatest(0.0,
             (CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n
             + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
         / (1.0 + {WILSON_Z} * {WILSON_Z} / n) AS lo_r,
       (CAST(k AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z} / (2.0 * n))
         / (1.0 + {WILSON_Z} * {WILSON_Z} / n)
       + {WILSON_Z} * sqrt(greatest(0.0,
             (CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n
             + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
         / (1.0 + {WILSON_Z} * {WILSON_Z} / n) AS hi_r
FROM a
"""


# --------------------------------------------------------------------------
# q279 — STREAMING Wilson counters (the THIRTEENTH streaming≡batch
# certificate): q250's (n, k) per-segment counters folded by a real
# Structured Streaming stateful operator
# (streaming/stateful.flag_counter_stream) over a 3-micro-batch file
# replay of the customer-grain responder flags, then asserted EXACTLY
# multiset-equal to the batch counters (one-job multiset diff — integer
# counts, no tolerance) before the Wilson chain is emitted against
# q250's own oracle (the q211↔q209 pattern: the streaming twin's
# ORACLE IS the batch query's from-scratch SQL). The (n, k) monoid is
# commutative/associative, so the final snapshot is order-independent
# (the q199/q209 equality argument); what the certificate actually
# exercises is the STATE CARRY across micro-batches — maxFilesPerTrigger
# = 1 over 3 time-staggered files puts every segment in every batch,
# so a fold that restarts per batch under-counts measurably (teeth
# test builds that break and pins the divergence). State per key = two
# longs; output is segment-grained no matter the customer count.
# --------------------------------------------------------------------------
def q279_stream_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import flag_counter_stream

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    responders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    flagged = cust.join(
        responders, cust["c_custkey"] == responders["o_custkey"], "left"
    ).select(
        "seg",
        F.col("o_custkey").isNotNull().cast("long").alias("y"),
        # deterministic event time from the key — customers have no
        # timestamp; any monotone-in-file-order stamp serves the
        # watermark contract. +1000 ms: the streaming engine's initial
        # watermark is 0 and the late filter is STRICT (a row at
        # ts == watermark is dropped), so no event time may touch the
        # epoch (measured: a ts=0 row vanishes silently).
        F.timestamp_millis(F.col("c_custkey") + 1000).alias("ts"),
    )

    def _write(w: str) -> None:
        (
            flagged.repartitionByRange(3, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(f"{w}/in")
        )
        stagger_replay_mtimes(f"{w}/in")

    out = replay_stream(
        spark,
        sf_dir,
        "q279",
        _write,
        {"in": "seg string, y long, ts timestamp"},
        lambda stream: flag_counter_stream(stream, ["seg"], flag_col="y"),
        files_per_trigger=1,  # three real micro-batches
    )
    streamed = final_snapshot(out, "seg").select("seg", "n", "k")
    batch = (
        flagged.groupBy("seg")
        .agg(F.count("*").alias("n"), F.sum("y").alias("k"))
        .localCheckpoint(eager=False)  # gate side + emission
    )
    assert_stream_matches_batch("q279", streamed, batch)
    z = F.lit(WILSON_Z)
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = F.lit(1.0) + z * z / n
    center = (p + z * z / (F.lit(2.0) * n)) / denom
    half = (
        z
        * F.sqrt(
            F.greatest(
                F.lit(0.0),
                p * (F.lit(1.0) - p) / n
                + z * z / (F.lit(4.0) * n * n),
            )
        )
        / denom
    )
    return batch.select(
        "seg",
        "n",
        "k",
        p.alias("p_r"),
        (center - half).alias("lo_r"),
        (center + half).alias("hi_r"),
    )


# --------------------------------------------------------------------------
# q289 — STREAMING GK quantile sketch (the FOURTEENTH streaming≡batch
# certificate, and the first for a NON-monoid state): q190's grouped
# quantile sketch rebuilt as a real Structured Streaming stateful
# operator (streaming/stateful.gk_quantile_stream) over a
# 3-micro-batch file replay of the per-priority order cents. A GK
# summary is NOT order-invariant — two insertion orders yield
# different tuple lists — so unlike the thirteen monoid certificates
# exact state equality is impossible BY DESIGN; what GK guarantees is
# a RANK bound, and that is what gets certified: (1) the carried
# per-key counts are asserted EXACTLY multiset-equal to the batch
# counts (one-job multiset diff — a restarted fold under-counts), then
# (2) the final sketch's p50/p95 answers are rank-checked against the
# EXACT data (one broadcast-probe count pass, integer arithmetic,
# q190's interval-overlap form) within εn + 1. The ORACLE IS Q190's
# from-scratch SQL (the q211↔q209 pattern): exact quantiles + literal-1
# flags, so the driver hash matches only if the streaming sketch's
# guarantee actually held on the replay. Teeth (pytest): a sketch that
# restarts per micro-batch still answers — but on a value-drifting
# replay its p50 ranks ~n/3 away from the global target, far outside
# εn (measured and pinned). Event times ride +1000 ms past the epoch
# (the q279 watermark lesson). State per key = the (v, g, Δ) arrays,
# O((1/ε)·log(εn)) longs; output is priority-grained regardless of
# order count.
# --------------------------------------------------------------------------
GK_STREAM_EPS = 0.01


def q289_stream_gk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import gk_quantile_stream

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        # +1000 ms: event times must never touch the epoch (q279 lesson)
        F.timestamp_millis(F.col("o_orderkey") + 1000).alias("ts"),
    )

    def _write(w: str) -> None:
        (
            o.repartitionByRange(3, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(f"{w}/in")
        )
        stagger_replay_mtimes(f"{w}/in")

    fin = final_snapshot(
        replay_stream(
            spark,
            sf_dir,
            "q289",
            _write,
            {"in": "grp string, cents long, ts timestamp"},
            lambda stream: gk_quantile_stream(
                stream, ["grp"], value_col="cents", eps=GK_STREAM_EPS
            ),
            files_per_trigger=1,  # three real micro-batches
        ),
        "grp",
    )
    batch_n = o.groupBy("grp").agg(F.count("*").alias("n"))
    assert_stream_matches_batch("q289", fin.select("grp", "n"), batch_n)
    probes = fin.select("grp", "a50", "a95")
    stats = o.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.expr("percentile(cents, array(0.5D, 0.95D))").alias("ex"),
    )
    ranks = (
        o.join(F.broadcast(probes), "grp")
        .groupBy("grp")
        .agg(
            F.sum((F.col("cents") < F.col("a50")).cast("long")).alias("lt50"),
            F.sum((F.col("cents") <= F.col("a50")).cast("long")).alias("le50"),
            F.sum((F.col("cents") < F.col("a95")).cast("long")).alias("lt95"),
            F.sum((F.col("cents") <= F.col("a95")).cast("long")).alias("le95"),
        )
    )

    def within(lt, le, p):
        # GK guarantee on the answer's rank INTERVAL [count(<a)+1,
        # count(<=a)]: some rank within ±(εn + 1) of ⌈p·n⌉ — interval
        # overlap, exactly q190's duplication-safe form
        bound = F.col("n").cast("double") * GK_STREAM_EPS + 1
        target = F.ceil(F.lit(p) * F.col("n")).cast("double")
        lo_ok = (F.col(lt).cast("double") + 1) <= target + bound
        hi_ok = F.col(le).cast("double") >= target - bound
        return (lo_ok & hi_ok).cast("long")

    return (
        stats.join(ranks, "grp")
        .select(
            "grp",
            "n",
            F.round(F.col("ex")[0], 6).alias("exact_p50_r"),
            F.round(F.col("ex")[1], 6).alias("exact_p95_r"),
            within("lt50", "le50", 0.5).alias("gk_p50_within_eps"),
            within("lt95", "le95", 0.95).alias("gk_p95_within_eps"),
        )
    )


# --------------------------------------------------------------------------
# q269 — held-out Markov transition perplexity: train the first-order
# event-transition model on the FIRST time half (Laplace-smoothed),
# score the SECOND half's transitions with it, report per-state
# negative log-likelihood and perplexity — the sequence-model quality
# gate that tells you whether q120's transition matrix actually
# predicts anything out of sample. Transitions come from per-user lag
# windows (keyed — user-sized partitions); both train and test pairs
# require BOTH endpoints inside their half, so no transition straddles
# the split. The model is V²-sized (V = distinct train next-states) and
# broadcast to the test pairs; p = (c+1)/(row+V+1) is an exact-int
# ratio — the +1 in the denominator is the OPEN-VOCABULARY bucket, so
# the smoothed distribution over the V observed states plus one unseen
# bucket sums to exactly 1 (round-9 ADVICE: the earlier form divided by
# rt+V, which over-allocates when an unseen test next-state appears).
# The per-state ln sums round 6 dp AFTER
# aggregation (the q228 rule for data-dependent-order FP sums).
# Midpoint is the q248-style 1-row planning literal.
# --------------------------------------------------------------------------
def q269_markov_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    row = ev.agg(
        F.floor((F.min("ts_us") + F.max("ts_us")) / 2).alias("m")
    ).collect()[0]
    mid = int(row["m"])

    def pairs(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
        return (
            df.select(
                "user_id",
                F.col("event_type").alias("cur"),
                F.lead("event_type").over(w).alias("nxt"),
            )
            .filter(F.col("nxt").isNotNull())
        )

    train = pairs(ev.filter(F.col("ts_us") <= mid))
    test = pairs(ev.filter(F.col("ts_us") > mid))
    counts = train.groupBy("cur", "nxt").agg(F.count("*").alias("c"))
    row_tot = counts.groupBy("cur").agg(F.sum("c").alias("rt"))
    v = counts.agg(F.count_distinct("nxt").alias("v"))
    scored = (
        test.join(counts, ["cur", "nxt"], "left")
        .join(row_tot, "cur", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "cur",
            (
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (
                        F.coalesce(F.col("rt"), F.lit(0)) + F.col("v") + 1
                    ).cast("double")
                )
            ).alias("nll"),
        )
    )
    agg = scored.groupBy("cur").agg(
        F.count("*").alias("n_test"), F.round(F.avg("nll"), 6).alias("nll_r")
    )
    return agg.select(
        "cur", "n_test", "nll_r", F.round(F.exp("nll_r"), 6).alias("ppl_r")
    )


Q269_SQL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
            FROM events),
mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS m FROM ev),
tr AS (SELECT user_id, event_type AS cur,
              lead(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS nxt
       FROM ev WHERE ts_us <= (SELECT m FROM mid)),
te AS (SELECT user_id, event_type AS cur,
              lead(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS nxt
       FROM ev WHERE ts_us > (SELECT m FROM mid)),
c AS (SELECT cur, nxt, count(*) AS c FROM tr WHERE nxt IS NOT NULL
      GROUP BY 1, 2),
rt AS (SELECT cur, sum(c) AS rt FROM c GROUP BY 1),
v AS (SELECT count(DISTINCT nxt) AS v FROM c),
s AS (SELECT te.cur,
             -ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                 / CAST(coalesce(rt.rt, 0) + (SELECT v FROM v) + 1 AS DOUBLE))
               AS nll
      FROM te
      LEFT JOIN c ON c.cur = te.cur AND c.nxt = te.nxt
      LEFT JOIN rt ON rt.cur = te.cur
      WHERE te.nxt IS NOT NULL),
a AS (SELECT cur, CAST(count(*) AS BIGINT) AS n_test,
             round(avg(nll), 6) AS nll_r
      FROM s GROUP BY 1)
SELECT cur, n_test, nll_r, round(exp(nll_r), 6) AS ppl_r FROM a
"""


QUERIES = {
    "q250_wilson_ci": q250_wilson_ci,
    "q279_stream_wilson": q279_stream_wilson,
    "q289_stream_gk_quantiles": q289_stream_gk_quantiles,
    "q269_markov_perplexity": q269_markov_perplexity,
    "q206_markov_attribution": q206_markov_attribution,
    "q214_sequence_support": q214_sequence_support,
    "q76_dau_new_returning": q76_dau_new_returning,
    "q77_cohort_retention": q77_cohort_retention,
    "q78_funnel": q78_funnel,
    "q79_value_histogram": q79_value_histogram,
    "q107_rolling_distinct_users": q107_rolling_distinct_users,
    "q110_peak_concurrency": q110_peak_concurrency,
    "q120_transition_matrix": q120_transition_matrix,
    "q121_funnel_timing": q121_funnel_timing,
    "q131_ab_test": q131_ab_test,
    "q137_session_entry_exit": q137_session_entry_exit,
    "q139_event_trigrams": q139_event_trigrams,
    "q141_d7_retention": q141_d7_retention,
    "q147_error_window_attribution": q147_error_window_attribution,
    "q148_concurrent_sessions": q148_concurrent_sessions,
    "q156_windowed_funnel": q156_windowed_funnel,
    "q162_multi_touch_attribution": q162_multi_touch_attribution,
    "q167_kaplan_meier": q167_kaplan_meier,
    "q170_gini_revenue": q170_gini_revenue,
    "q190_quantile_sketch_certificate": q190_quantile_sketch_certificate,
    "q171_rolling_hll": q171_rolling_hll,
    "q198_touch_attribution": q198_touch_attribution,
}

ORACLES = {
    "q250_wilson_ci": Q250_SQL,
    "q279_stream_wilson": Q250_SQL,
    "q289_stream_gk_quantiles": Q190_SQL,  # q211<->q209 pattern: twin certified against the batch spec
    "q269_markov_perplexity": Q269_SQL,
    "q206_markov_attribution": Q206_SQL,
    "q214_sequence_support": Q214_SQL,
    "q76_dau_new_returning": Q76_SQL,
    "q77_cohort_retention": Q77_SQL,
    "q78_funnel": Q78_SQL,
    "q79_value_histogram": Q79_SQL,
    "q107_rolling_distinct_users": Q107_SQL,
    "q110_peak_concurrency": Q110_SQL,
    "q120_transition_matrix": Q120_SQL,
    "q121_funnel_timing": Q121_SQL,
    "q131_ab_test": Q131_SQL,
    "q137_session_entry_exit": Q137_SQL,
    "q139_event_trigrams": Q139_SQL,
    "q141_d7_retention": Q141_SQL,
    "q147_error_window_attribution": Q147_SQL,
    "q148_concurrent_sessions": Q148_SQL,
    "q156_windowed_funnel": Q156_SQL,
    "q162_multi_touch_attribution": Q162_SQL,
    "q167_kaplan_meier": Q167_SQL,
    "q170_gini_revenue": Q170_SQL,
    "q190_quantile_sketch_certificate": Q190_SQL,
    "q171_rolling_hll": Q171_SQL,
    "q198_touch_attribution": Q198_SQL,
}
