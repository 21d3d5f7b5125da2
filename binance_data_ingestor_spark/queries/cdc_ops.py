"""CDC / snapshot queries over the `events` log (operators/merge.py).

Reference parity note: the reference's consumers read only the tail of
each Redis stream (`/root/reference/tests/test_redis-data.py:56-60`) —
"current state per key" as an access pattern. These queries are the
batch-relational equivalents: latest-state snapshot, SCD2 history, and
MERGE-style application of a change batch with a change audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import latest_snapshot, scd2_intervals, upsert
from .util import (
    assert_stream_matches_batch,
    final_snapshot,
    load,
    replay_stream,
)

# Last day of the 30-day event window is the "change batch" for q75 —
# chosen so a meaningful fraction of users has NO event in the batch and
# the audit output distinguishes changed from unchanged keys.
CDC_CUTOFF = "2024-01-30 00:00:00"


# --------------------------------------------------------------------------
# q73 — latest-state snapshot: one current row per user from the event
# log. groupBy + max_by(payload, (ts, event_id)) — the map-side partial
# collapses each input split to ≤1 row per key BEFORE the shuffle, so
# shuffle volume is O(users), not O(events); a row_number window would
# sort-shuffle the whole log for the same answer.
# --------------------------------------------------------------------------
def q73_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    snap = latest_snapshot(events, key="user_id", order_by=["ts", "event_id"])
    return snap.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.round("value", 6).alias("value_r"),
        "props",
    )


Q73_SQL = """
SELECT user_id, event_id, ts, event_type, round(value, 6) AS value_r, props
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
"""


# --------------------------------------------------------------------------
# q74 — SCD2 validity intervals: every event becomes a [valid_from,
# valid_to) version row, open-ended for the current one. One shuffle on
# the key, linear lead() pass — the standard dimension-history build.
# --------------------------------------------------------------------------
def q74_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    hist = scd2_intervals(events, key="user_id", ts="ts", tie_break="event_id")
    return hist.select(
        "user_id", "event_id", "event_type",
        "valid_from", "valid_to", "is_current",
    )


Q74_SQL = """
SELECT user_id, event_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM events
"""


# --------------------------------------------------------------------------
# q75 — MERGE apply + change audit: the pre-cutoff snapshot is the base
# table, post-cutoff events are the CDC batch; upsert() applies them
# (latest-wins, idempotent) and the query reports each user whose
# current row changed — old/new event id and a is_insert flag for users
# born in the batch. Exercises the upsert operator end-to-end against an
# oracle that recomputes both snapshots independently. Scale: upsert is
# one shuffle (union + partial max_by); the audit join is keyed on
# user_id — broadcast-able, since a snapshot diff is O(keys touched).
# --------------------------------------------------------------------------
def q75_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp")
    base = latest_snapshot(
        events.filter(F.col("ts") < cutoff),
        key="user_id", order_by=["ts", "event_id"],
    )
    merged = upsert(
        base,
        events.filter(F.col("ts") >= cutoff),
        key="user_id",
        order_by=["ts", "event_id"],
    )
    old = base.select("user_id", F.col("event_id").alias("old_event_id"))
    new = merged.select("user_id", F.col("event_id").alias("new_event_id"))
    return (
        new.join(old, "user_id", "left")
        .filter(
            F.col("old_event_id").isNull()
            | (F.col("old_event_id") != F.col("new_event_id"))
        )
        .select(
            "user_id",
            "old_event_id",
            "new_event_id",
            F.col("old_event_id").isNull().alias("is_insert"),
        )
    )


Q75_SQL = f"""
WITH base AS (
  SELECT user_id, event_id FROM events
  WHERE ts < TIMESTAMP '{CDC_CUTOFF}'
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
),
merged AS (
  SELECT user_id, event_id FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
)
SELECT m.user_id,
       b.event_id AS old_event_id,
       m.event_id AS new_event_id,
       b.event_id IS NULL AS is_insert
FROM merged m LEFT JOIN base b USING (user_id)
WHERE b.event_id IS NULL OR b.event_id <> m.event_id
"""


# --------------------------------------------------------------------------
# q115 — snapshot reconciliation (dataset diff): given two versions of
# the orders table, report added / removed / changed / unchanged row
# counts plus per-column change counts — the audit a pipeline runs
# after every backfill. The two "snapshots" are derived
# deterministically from orders by key arithmetic (A drops key%7=0,
# B drops key%5=0, reprices key%3=0 and re-statuses key%11=0), so the
# diff is reproducible without extra fixtures. Core op: one full outer
# join on the key — single co-partitioned shuffle pair; all
# classification is row-local column compare after it. Prices compare
# as integer cents (CAST(round(p*100)) then *11/10 integer math), so
# no float-equality hazard crosses the engines.
# --------------------------------------------------------------------------
def q115_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    snap_a = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status_a"),
        F.col("cents").alias("cents_a"),
    )
    snap_b = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status_b"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.expr("cents * 11 div 10"),
        )
        .otherwise(F.col("cents"))
        .alias("cents_b"),
    )
    j = snap_a.join(snap_b, "o_orderkey", "full_outer")
    is_add = F.col("cents_a").isNull()
    is_rm = F.col("cents_b").isNull()
    price_chg = (
        ~is_add & ~is_rm & (F.col("cents_a") != F.col("cents_b"))
    ).cast("long")
    status_chg = (
        ~is_add & ~is_rm & (F.col("status_a") != F.col("status_b"))
    ).cast("long")
    return j.agg(
        F.sum(is_add.cast("long")).alias("n_added"),
        F.sum(is_rm.cast("long")).alias("n_removed"),
        F.sum(F.greatest(price_chg, status_chg)).alias("n_changed"),
        F.sum(
            (~is_add & ~is_rm).cast("long")
            - F.greatest(price_chg, status_chg)
        ).alias("n_unchanged"),
        F.sum(price_chg).alias("n_price_changed"),
        F.sum(status_chg).alias("n_status_changed"),
    )


Q115_SQL = """
WITH o AS (SELECT o_orderkey, o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
a AS (SELECT o_orderkey, o_orderstatus AS status_a, cents AS cents_a
      FROM o WHERE o_orderkey % 7 <> 0),
b AS (SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS status_b,
             CASE WHEN o_orderkey % 3 = 0 THEN cents * 11 // 10
                  ELSE cents END AS cents_b
      FROM o WHERE o_orderkey % 5 <> 0),
j AS (SELECT a.o_orderkey, status_a, cents_a, status_b, cents_b,
             (cents_a IS NULL)::INT AS is_add,
             (cents_b IS NULL)::INT AS is_rm,
             CASE WHEN cents_a IS NOT NULL AND cents_b IS NOT NULL
                       AND cents_a <> cents_b THEN 1 ELSE 0 END AS pchg,
             CASE WHEN cents_a IS NOT NULL AND cents_b IS NOT NULL
                       AND status_a <> status_b THEN 1 ELSE 0 END AS schg
      FROM a FULL OUTER JOIN b USING (o_orderkey))
SELECT CAST(sum(is_add) AS BIGINT) AS n_added,
       CAST(sum(is_rm) AS BIGINT) AS n_removed,
       CAST(sum(greatest(pchg, schg)) AS BIGINT) AS n_changed,
       CAST(sum(1 - is_add - is_rm - greatest(pchg, schg)) AS BIGINT)
         AS n_unchanged,
       CAST(sum(pchg) AS BIGINT) AS n_price_changed,
       CAST(sum(schg) AS BIGINT) AS n_status_changed
FROM j
"""


# --------------------------------------------------------------------------
# q119 — incremental aggregate maintenance: the per-priority
# (count, revenue) rollup of snapshot A is advanced to snapshot B by
# applying only the CDC delta (inserts +x, deletes -x, updates
# new-old), never rescanning B. The oracle recomputes the rollup
# directly from B — the hash-match IS the proof that the delta
# algebra (sum/count are self-maintainable aggregates) lands on the
# exact full-recompute answer. Snapshots derive from orders by the
# same key arithmetic as q115; revenue stays in integer cents so
# maintenance arithmetic is exact. Scale shape: the delta join is
# keyed by o_orderkey (co-partitioned), the maintained rollup is
# groups-sized — the whole update costs O(delta), the point of the
# operator.
# --------------------------------------------------------------------------
def q119_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    a = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio_a"),
        F.col("cents").alias("cents_a"),
    )
    b = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio_b"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.expr("cents * 11 div 10"),
        )
        .otherwise(F.col("cents"))
        .alias("cents_b"),
    )
    agg_a = a.groupBy(F.col("prio_a").alias("o_orderpriority")).agg(
        F.count("*").alias("n_a"), F.sum("cents_a").alias("cents_sum_a")
    )
    delta = (
        a.join(b, "o_orderkey", "full_outer")
        .filter(
            F.col("cents_a").isNull()
            | F.col("cents_b").isNull()
            | (F.col("cents_a") != F.col("cents_b"))
        )
        .select(
            F.coalesce("prio_b", "prio_a").alias("o_orderpriority"),
            (
                F.coalesce("cents_b", F.lit(0))
                - F.coalesce("cents_a", F.lit(0))
            ).alias("d_cents"),
            (
                F.col("cents_b").isNotNull().cast("long")
                - F.col("cents_a").isNotNull().cast("long")
            ).alias("d_cnt"),
        )
        .groupBy("o_orderpriority")
        .agg(F.sum("d_cents").alias("d_cents"), F.sum("d_cnt").alias("d_cnt"))
    )
    return (
        agg_a.join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce("n_a", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce("cents_sum_a", F.lit(0))
                + F.coalesce("d_cents", F.lit(0))
            ).alias("cents_sum"),
        )
        .filter(F.col("n_orders") > 0)
    )


Q119_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CASE WHEN o_orderkey % 3 = 0
                     THEN CAST(round(o_totalprice * 100) AS BIGINT) * 11 // 10
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS cents_sum
FROM orders WHERE o_orderkey % 5 <> 0
GROUP BY 1
"""



# --------------------------------------------------------------------------
# q140 — right-to-be-forgotten purge audit (GDPR-style): given a
# deletion-request list (deterministically derived: user_id % 13 = 0),
# produce the audit a compliance pipeline must emit — per requested
# user the number of event rows purged, plus whether any row survives
# the purge (must be zero). The purge itself is one broadcast-able
# anti-join; the audit is the complementary semi-join aggregate. The
# residual check is a LEFT join against the purged set so users with
# zero surviving rows still appear with residual_rows = 0.
# --------------------------------------------------------------------------
def q140_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    requests = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 13 == 0)
    )
    purged = ev.join(requests, "user_id", "left_anti")
    per_user = ev.join(requests, "user_id", "left_semi").groupBy(
        "user_id"
    ).agg(F.count("*").alias("rows_purged"))
    residual = purged.groupBy("user_id").agg(
        F.count("*").alias("residual_rows")
    )
    return (
        per_user.join(residual, "user_id", "left")
        .select(
            "user_id",
            "rows_purged",
            F.coalesce("residual_rows", F.lit(0)).alias("residual_rows"),
        )
    )


Q140_SQL = """
WITH req AS (SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0),
per_user AS (
  SELECT user_id, count(*) AS rows_purged
  FROM events SEMI JOIN req USING (user_id)
  GROUP BY user_id
),
residual AS (
  SELECT user_id, count(*) AS residual_rows
  FROM events ANTI JOIN req USING (user_id)
  GROUP BY user_id
)
SELECT p.user_id, rows_purged, coalesce(residual_rows, 0) AS residual_rows
FROM per_user p LEFT JOIN residual USING (user_id)
"""


# --------------------------------------------------------------------------
# q173 — temporal (AS OF) fact-to-dimension join over SCD2 intervals:
# signup events version each user's profile; every purchase joins to
# the version valid at purchase time. Composition proof for the CDC +
# range-join families: the version intervals are half-open
# [valid_from, next_valid_from) — closed here as hi = next − 1 µs, so
# the closed-interval operator implements the half-open semantics
# exactly at µs resolution — and the join runs through the binned
# point-in-interval rewrite (operators/rangejoin.py) with user_id
# riding the equi-key, never a nested loop. The current version is
# clamped to the dataset horizon. Purchases before a user's first
# signup have no valid version and drop (inner semantics, stated).
# Output is per-version purchase counts + exact cents.
# --------------------------------------------------------------------------
def q173_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.rangejoin import point_in_interval_join

    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("hmax"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    vers = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("event_id").alias("version_id"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("__nxt"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            "version_id",
            "valid_from",
            F.coalesce(
                F.expr("__nxt - INTERVAL 1 MICROSECOND"), F.col("hmax")
            ).alias("valid_hi"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    joined = point_in_interval_join(
        purchases,
        vers,
        point_ts="pts",
        lo="valid_from",
        hi="valid_hi",
        bin_seconds=86400,
        keys=["user_id"],
    )
    return joined.groupBy("user_id", "version_id").agg(
        F.count("*").alias("n_purchases"),
        F.sum("cents").cast("long").alias("cents"),
    )


Q173_SQL = """
WITH h AS (SELECT max(ts) AS hmax FROM events),
s AS (
  SELECT user_id, event_id AS version_id, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events WHERE event_type = 'signup'),
v AS (
  SELECT user_id, version_id, valid_from,
         coalesce(nxt - INTERVAL 1 MICROSECOND, hmax) AS valid_hi
  FROM s, h),
p AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase')
SELECT v.user_id, version_id,
       count(*) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS cents
FROM p JOIN v ON p.user_id = v.user_id
             AND p.ts BETWEEN valid_from AND valid_hi
GROUP BY v.user_id, version_id
"""


# --------------------------------------------------------------------------
# q209 — per-source snapshot content digest for incremental-ingest
# change detection: digest = bit_xor of a 60-bit row-identity hash
# (u60 of doc_id:text — the SAME portable md5 fold the KMV sketch
# certifies cross-engine in q196/q199). XOR-folding is commutative,
# associative, and self-inverse, so (a) the digest is partition- and
# order-independent — one partially-aggregable pass, O(1) state per
# source at any scale — and (b) ingesting row r then re-ingesting an
# unchanged snapshot XORs to the same value, while ANY insert, delete,
# or text edit flips it: the cheap "did anything change since the last
# epoch" gate an incremental pipeline (q153's shape) runs before
# recomputing. Row identity (not bare text) keys the fold so two
# identical texts cannot cancel each other out of the digest.
# --------------------------------------------------------------------------
def q209_source_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmv import u60_sql

    key = "concat(CAST(doc_id AS STRING), ':', coalesce(text, ''))"
    d = load(spark, sf_dir, "documents").withColumn(
        "__h", F.expr(u60_sql("spark", key))
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("bit_xor(__h)").alias("digest"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _q209_sql() -> str:
    from ..operators.kmv import u60_sql

    key = "(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, ''))"
    return f"""
WITH h AS (SELECT source, doc_id, {u60_sql("duckdb", key)} AS hh
           FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(bit_xor(hh) AS BIGINT) AS digest,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM h GROUP BY source
"""


Q209_SQL = _q209_sql()


# --------------------------------------------------------------------------
# q211 — streaming certification of the q209 snapshot digest: the
# documents table replays as a file stream through
# streaming/stateful.xor_digest_stream (per-source keyed state = TWO
# longs: running bit_xor + row count). Because XOR folding is a
# commutative monoid, the final streaming snapshot must equal the
# batch bit_xor EXACTLY — hash AND count, per source — whatever the
# file/batch/arrival order; the query asserts that equality in-query
# (refusing to emit on any divergence) and then emits the
# batch-certified q209 result against the same DuckDB oracle. This
# extends the exact-equality streaming-certification family
# (q199's KMV argument) to the engine's simplest stateful monoid, and
# certifies the incremental-ingest change-detection gate end to end:
# the digest a STREAM maintains is bit-identical to the digest a batch
# audit recomputes.
# --------------------------------------------------------------------------
def q211_stream_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmv import u60_sql
    from ..streaming.stateful import xor_digest_stream

    key = "concat(CAST(doc_id AS STRING), ':', coalesce(text, ''))"
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.expr(u60_sql("spark", key)).alias("h"),
        F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
    )
    sentinel = spark.sql(
        "SELECT '__wm__' source, CAST(0 AS BIGINT) h, to_timestamp('2031-01-01') ts"
    )
    out = replay_stream(
        spark,
        sf_dir,
        "q211",
        lambda w: docs.unionByName(sentinel)
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(f"{w}/in"),
        {"in": "source string, h long, ts timestamp"},
        lambda stream: xor_digest_stream(stream, ["source"], hash_col="h"),
    )
    # one row per source per data batch by the emission contract
    streamed = final_snapshot(
        out.filter(F.col("source") != "__wm__"), "source"
    ).select("source", "digest", F.col("n_processed").alias("n"))
    batch = q209_source_digest(spark, sf_dir).localCheckpoint(
        eager=False
    )  # feeds the one-job multiset gate + the emitted result
    bd = batch.select("source", "digest", F.col("n_docs").alias("n"))
    assert_stream_matches_batch("q211", streamed, bd)
    return batch


QUERIES = {
    "q209_source_digest": q209_source_digest,
    "q211_stream_digest": q211_stream_digest,
    "q73_latest_snapshot": q73_latest_snapshot,
    "q74_scd2": q74_scd2,
    "q75_upsert_audit": q75_upsert_audit,
    "q115_snapshot_diff": q115_snapshot_diff,
    "q119_incremental_agg": q119_incremental_agg,
    "q140_purge_audit": q140_purge_audit,
    "q173_scd2_temporal_join": q173_scd2_temporal_join,
}

ORACLES = {
    "q209_source_digest": Q209_SQL,
    "q211_stream_digest": Q209_SQL,
    "q73_latest_snapshot": Q73_SQL,
    "q74_scd2": Q74_SQL,
    "q75_upsert_audit": Q75_SQL,
    "q115_snapshot_diff": Q115_SQL,
    "q119_incremental_agg": Q119_SQL,
    "q140_purge_audit": Q140_SQL,
    "q173_scd2_temporal_join": Q173_SQL,
}
