"""Dataset profiling + reproducible splitting — the "know your data"
operators a training pipeline runs before and after curation.

q85 equi-depth binning, q86 one-pass multi-column profile, q87
group-aware train/val/test split. All are one- or two-pass
aggregations with broadcast-sized intermediates; nothing sorts
globally (the classic ntile formulation would — see q85 docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import HEX_DIGITS, hash_bucket_sql
from .util import (
    assert_stream_matches_batch,
    final_snapshot,
    load,
    replay_stream,
)

DEPTH_BINS = 10


# --------------------------------------------------------------------------
# q85 — equi-depth (quantile) binning of events.value. Deliberately NOT
# ntile(): a no-partition ntile needs a total order — one machine sorts
# everything. Instead: pass 1 computes exact decile boundaries (one
# 1-row aggregate), pass 2 bins each row by counting boundaries below
# its value (O(bins) per row, broadcast join) and aggregates per bin.
# Boundaries are rounded to 6 dp on BOTH engines before the comparison
# so bin assignment can't flip on float dust.
# --------------------------------------------------------------------------
def q85_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("value")
    qs = [i / DEPTH_BINS for i in range(1, DEPTH_BINS)]
    bounds = ev.agg(
        F.transform(
            F.percentile("value", F.array(*[F.lit(q) for q in qs])),
            lambda x: F.round(x, 6),
        ).alias("bnds")
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.size(F.filter("bnds", lambda b: b < F.col("value"))).alias("bin"),
        "value",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("value"), 6).alias("lo_r"),
        F.round(F.max("value"), 6).alias("hi_r"),
    )


_QLIST = ", ".join(str(i / DEPTH_BINS) for i in range(1, DEPTH_BINS))
Q85_SQL = f"""
WITH b AS (SELECT list_transform(quantile_cont(value, [{_QLIST}]),
                                 x -> round(x, 6)) AS bnds
           FROM events),
x AS (SELECT value, len(list_filter(bnds, v -> v < value)) AS bin
      FROM events, b)
SELECT bin, count(*) AS n_rows,
       round(min(value), 6) AS lo_r, round(max(value), 6) AS hi_r
FROM x GROUP BY bin
"""


# --------------------------------------------------------------------------
# q86 — one-pass multi-column profile of lineitem ("ANALYZE TABLE"
# shape): per column the non-null count, exact distinct count, min,
# max, mean. A single agg with four DISTINCT aggregates — Catalyst
# expands to one scan with an Expand (5 projections of each row),
# which beats four separate scans at 100 TB; the result is 1 row,
# unpivoted to (column, stats) rows driver-side-free via explode.
# --------------------------------------------------------------------------
PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q86_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(*PROFILE_COLS)
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}_nn"),
            F.count_distinct(F.col(c)).alias(f"{c}_nd"),
            F.round(F.min(c), 6).alias(f"{c}_min"),
            F.round(F.max(c), 6).alias(f"{c}_max"),
            F.round(F.avg(c), 6).alias(f"{c}_avg"),
        ]
    row = li.agg(*aggs)
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(f"{c}_nn").alias("n_nonnull"),
                        F.col(f"{c}_nd").alias("n_distinct"),
                        F.col(f"{c}_min").alias("min_r"),
                        F.col(f"{c}_max").alias("max_r"),
                        F.col(f"{c}_avg").alias("avg_r"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("s")
    ).select("s.*")


Q86_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count({c}) AS n_nonnull,
       count(DISTINCT {c}) AS n_distinct,
       round(min({c}), 6) AS min_r, round(max({c}), 6) AS max_r,
       round(avg({c}), 6) AS avg_r FROM lineitem"""
    for c in PROFILE_COLS
)


# --------------------------------------------------------------------------
# q87 — group-aware train/val/test split: every customer lands in
# exactly one split (md5-hash bucket of the key — reproducible across
# engines, reruns, partitionings; hash_bucket_sql emits the identical
# function for Spark and DuckDB), and all of a customer's orders
# follow — no leakage between splits by construction. Revenue is
# emitted as exact integer cents (per-row round, then integer sum) so
# the cross-engine comparison never rides on float accumulation order.
# --------------------------------------------------------------------------
def q87_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{hash_bucket_sql('spark', 'c_custkey')} AS bucket"
    )
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        cust.select("c_custkey", split.alias("split"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("split")
        .agg(
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


Q87_SQL = f"""
WITH c AS (SELECT c_custkey, {hash_bucket_sql('duckdb', 'c_custkey')} AS bucket
           FROM customer),
s AS (SELECT c_custkey,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM c)
SELECT split, count(DISTINCT c_custkey) AS n_customers,
       count(o_orderkey) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM s LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY split
"""


# --------------------------------------------------------------------------
# q88 — exact heavy hitters over the token stream without shuffling
# the token-frequency table (operators/frequent.py): Misra-Gries
# partial summaries per partition → broadcast candidate recount. The
# only exchanges carry candidates (≤ capacity rows) and the partial
# counts of candidates — never the raw vocabulary.
# --------------------------------------------------------------------------
HH_MIN_SHARE = 0.01


def q88_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.frequent import heavy_hitters

    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    return heavy_hitters(toks, "token", HH_MIN_SHARE)


Q88_SQL = f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tot AS (SELECT count(*) AS tot FROM toks),
c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token)
SELECT token, cnt, round(cnt * 1.0 / tot, 6) AS share_r
FROM c, tot
WHERE cnt >= tot * {HH_MIN_SHARE}
"""


# --------------------------------------------------------------------------
# q187 — REAL Structured Streaming execution of the grouped Misra-Gries
# heavy-hitter operator (streaming/stateful.heavy_hitters_stream:
# applyInPandasWithState, O(capacity) state per key, snapshot emission
# on watermark advance): the q88 token stream is replayed as a file
# stream with a private-group sentinel driving the watermark, the final
# per-key MG summary's candidate set is exactly recounted batch-side
# (the same second pass the batch operator runs), and the thresholded
# result is returned. Oracle = Q88_SQL — the hash gate proves the
# streaming-candidates + recount pipeline equals the exact answer
# (valid because MG retains every item with share > 1/(capacity+1) and
# capacity = 2/min_share). The MG lower bounds themselves are
# ingestion-order-dependent and deliberately NOT emitted.
# --------------------------------------------------------------------------
def q187_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import heavy_hitters_stream

    capacity = max(int(2.0 / HH_MIN_SHARE), 16)
    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    base = toks.select(
        F.lit("all").alias("grp"),
        "token",
        F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
    )
    sentinel = spark.sql(
        "SELECT '__wm__' grp, 'x' token, to_timestamp('2031-01-01') ts"
    )
    # ≤ capacity rows per batch: MG retains ≤ capacity items per key
    # and only grp='all' is kept
    cand = (
        replay_stream(
            spark,
            sf_dir,
            "q187",
            lambda w: base.unionByName(sentinel)
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(f"{w}/in"),
            {"in": "grp string, token string, ts timestamp"},
            lambda stream: heavy_hitters_stream(
                stream, ["grp"], "token", capacity=capacity
            ),
        )
        .filter(F.col("grp") == "all")
        .select(F.col("item").alias("token"))
        .distinct()
    )
    counts = (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = toks.agg(F.count("token").alias("tot"))
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("cnt") >= F.col("tot") * HH_MIN_SHARE)
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt") / F.col("tot"), 6).alias("share_r"),
        )
    )


# --------------------------------------------------------------------------
# q116 — count-min sketch frequency estimation with an error
# certificate. Three md5-derived hash rows × 32 buckets (deliberately
# tight so collisions actually occur and the overestimate is visible):
# building the sketch is d map-side-combinable groupBys over the token
# stream (the sketch is O(d·w) — the whole point is that it never
# shuffles the vocabulary); querying estimates the top-20 exact tokens
# as min over rows of their bucket counts. Output carries exact count,
# CM estimate, and the overestimate — `over_est ≥ 0` always (CM never
# underestimates), which the oracle proves cell-by-cell since both
# engines rebuild the identical sketch from the identical hashes.
# --------------------------------------------------------------------------
CM_W = 32
CM_D = 3


def _cm_hash(dialect: str, j: int) -> str:
    return hash_bucket_sql(
        dialect, col=f"concat('{j}:', token)", mod=CM_W
    )


def q116_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    top = (
        exact.orderBy(F.desc("exact_cnt"), "token")
        .limit(20)
        .select("token", "exact_cnt")
    )
    # ALL d hash rows from ONE token-stream scan: the joint
    # (b0,…,b_{d-1}) bucket histogram (≤ w^d = 32³ groups — partial agg
    # collapses per partition before the shuffle), then each sketch row
    # is a summary-sized re-aggregation of the joint histogram. One
    # data pass instead of d (the term that matters at 100 TB), at the
    # same CPU: measured at sf1, joint-histogram 7.3 s ≈ d-scan loop
    # 7.4 s (md5 floor 5.7 s), while the stack/posexplode Generate
    # forms pay ~1.8× (13.1 s) for pushing d·n generated rows through
    # the aggregate.
    tri = (
        toks.select(
            *[
                F.expr(_cm_hash("spark", j)).alias(f"b{j}")
                for j in range(CM_D)
            ]
        )
        .groupBy(*[f"b{j}" for j in range(CM_D)])
        .agg(F.count("*").alias("c"))
        # materialize the ≤w^d-row joint histogram once: the d re-aggs
        # below each consume it, and without the checkpoint each would
        # re-run the token scan through its own lineage
        .localCheckpoint(eager=False)
    )
    probe = top
    for j in range(CM_D):
        probe = probe.withColumn(f"__b{j}", F.expr(_cm_hash("spark", j)))
    for j in range(CM_D):
        row_j = tri.groupBy(F.col(f"b{j}").alias(f"__b{j}")).agg(
            F.sum("c").alias(f"est_{j}")
        )
        probe = probe.join(F.broadcast(row_j), f"__b{j}")
    return probe.select(
        "token",
        "exact_cnt",
        F.least(*[F.col(f"est_{j}") for j in range(CM_D)]).alias("cm_est"),
        (
            F.least(*[F.col(f"est_{j}") for j in range(CM_D)])
            - F.col("exact_cnt")
        ).alias("over_est"),
    )


def _cm_sql() -> str:
    rows = "\n".join(
        f"r{j} AS (SELECT {_cm_hash('duckdb', j)} AS b, count(*) AS bc"
        f" FROM toks GROUP BY 1),"
        for j in range(CM_D)
    )
    joins = "\n".join(
        f"JOIN r{j} ON r{j}.b = {_cm_hash('duckdb', j)}"
        for j in range(CM_D)
    )
    est = "least(" + ", ".join(f"r{j}.bc" for j in range(CM_D)) + ")"
    return f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
{rows}
top AS (SELECT token, count(*) AS exact_cnt FROM toks GROUP BY token
        ORDER BY exact_cnt DESC, token LIMIT 20)
SELECT token, exact_cnt, {est} AS cm_est,
       {est} - exact_cnt AS over_est
FROM top
{joins}
"""


Q116_SQL = _cm_sql()


# --------------------------------------------------------------------------
# q129 — Poisson-bootstrap confidence interval for mean order value:
# 32 deterministic resampling replicas, each weighting every row by a
# Poisson(1) draw — the scalable bootstrap (no with-replacement
# shuffle, weights computed row-local, one pass over a 32× expanded
# stream that partial aggregation collapses to 32 rows before the
# shuffle). Replica means → p2.5/p97.5 quantiles + bootstrap SE.
#
# md5 bill (the round-4 q116 lesson, applied): the uniforms for ALL 32
# replicas come from FOUR md5 digests per row — md5(key||':s') for
# s∈0..3, concatenated to one 128-hex string sliced into 32 disjoint
# 4-hex windows (replica r reads hex digits [4r, 4r+4)) — instead of
# one md5 per (row, replica). md5 was ~80% of the query (32
# evaluations/row, 5.45 s — slowest in the registry); disjoint slices
# of independent digests keep the replica draws independent and
# engine-portable, and every weight still reproduces bit-for-bit on
# both engines (same generator emits both dialects).
# --------------------------------------------------------------------------
_BOOT_R = 32
# Poisson(1) inverse-CDF thresholds (cumulative, 6 dp — literal on both
# engines so the comparison is on identical doubles)
_POIS_CDF = [0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406]


def _boot_h(dialect: str) -> str:
    """128-hex per-row digest pool: concat of ``_BOOT_R // 8`` salted md5s."""
    stype = "STRING" if dialect == "spark" else "VARCHAR"
    parts = ", ".join(
        f"md5(concat(CAST(o_orderkey AS {stype}), ':{s}'))"
        for s in range(_BOOT_R // 8)
    )
    return f"concat({parts})"


def _boot_u(dialect: str) -> str:
    """Replica uniform in [0,1): 4-hex window ``rep`` of the digest pool
    ``h`` via per-digit position lookup (the hash_bucket_sql primitive,
    re-based onto a precomputed digest column)."""
    pos = "instr" if dialect == "spark" else "strpos"
    d = [
        f"({pos}('{HEX_DIGITS}', substring(h, rep * 4 + {i + 1}, 1)) - 1)"
        for i in range(4)
    ]
    return f"((({d[0]} * 16 + {d[1]}) * 16 + {d[2]}) * 16 + {d[3]}) / 65536.0"


def _boot_w() -> str:
    branches = "".join(
        f" WHEN u < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE{branches} ELSE {len(_POIS_CDF)} END"


def q129_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import fanout

    # fanout FIRST (lesson 1): the single-row-group fixture scan is ONE
    # task, and every form of this query is pure per-row CPU until the
    # 32-row partial agg — without the fanout the md5/slice work
    # serializes on one core (the old 32-md5 form's 5.4 s was mostly
    # single-task time, not hash cost).
    orders = fanout(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    # two bounded Generates: row → 4 salted digests → 8 four-hex slices
    # each. Small per-row expressions at every level (1 md5, then 1
    # substring + 1 conv) keep the projection inside whole-stage
    # codegen; the one-shot 32-uniform array form pays interpreted-mode
    # evaluation for the giant expression and measured 4× slower.
    d1 = orders.select(
        "o_totalprice",
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R // 8 - 1))).alias("s"),
    ).selectExpr(
        "o_totalprice",
        "s",
        "md5(concat(CAST(o_orderkey AS STRING), ':', CAST(s AS STRING))) AS h8",
    )
    reps = (
        d1.select(
            "o_totalprice",
            "s",
            "h8",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sl"),
        )
        .selectExpr(
            "(s * 8 + sl) AS rep",
            "o_totalprice",
            # integer value of the 4-hex window — engine-portable: the
            # oracle reads the SAME window of the SAME digest via the
            # per-digit strpos primitive (DuckDB has no conv());
            # conv(hex4, 16, 10) ≡ the per-digit positional sum, both
            # lowercase-hex md5 (equality also hash-proven by the
            # oracle gate)
            "(CAST(conv(substring(h8, sl * 4 + 1, 4), 16, 10) AS BIGINT)"
            " / 65536.0) AS u",
        )
        .selectExpr("rep", "o_totalprice", f"{_boot_w()} AS w")
    )
    means = reps.groupBy("rep").agg(
        (
            F.sum(F.col("w") * F.col("o_totalprice"))
            / F.nullif(F.sum("w"), F.lit(0))
        ).alias("m")
    )
    point = orders.agg(F.avg("o_totalprice").alias("point_mean"))
    return means.crossJoin(F.broadcast(point)).agg(
        F.round(F.first("point_mean"), 6).alias("point_mean_r"),
        F.round(
            F.expr("percentile_cont(0.025) WITHIN GROUP (ORDER BY m)"), 6
        ).alias("ci_lo_r"),
        F.round(
            F.expr("percentile_cont(0.975) WITHIN GROUP (ORDER BY m)"), 6
        ).alias("ci_hi_r"),
        F.round(F.stddev_samp("m"), 6).alias("boot_se_r"),
        F.count("*").alias("n_replicas"),
    )


def _boot_sql() -> str:
    return f"""
WITH digests AS (
  SELECT o_totalprice, {_boot_h("duckdb")} AS h FROM orders
),
reps AS (
  SELECT unnest(range(0, {_BOOT_R})) AS rep, o_totalprice, h FROM digests
),
uniforms AS (
  SELECT rep, o_totalprice, {_boot_u("duckdb")} AS u FROM reps
),
weighted AS (
  SELECT rep, o_totalprice, {_boot_w()} AS w FROM uniforms
),
means AS (
  SELECT rep, sum(w * o_totalprice) / nullif(sum(w), 0) AS m
  FROM weighted GROUP BY rep
),
pt AS (SELECT avg(o_totalprice) AS point_mean FROM orders)
SELECT round((SELECT point_mean FROM pt), 6) AS point_mean_r,
       round(quantile_cont(m, 0.025), 6) AS ci_lo_r,
       round(quantile_cont(m, 0.975), 6) AS ci_hi_r,
       round(stddev_samp(m), 6) AS boot_se_r,
       count(*) AS n_replicas
FROM means
"""


Q129_SQL = _boot_sql()


# --------------------------------------------------------------------------
# q134 — join-key skew diagnosis: for each prospective lineitem join
# key, the row count, distinct keys, hottest-key frequency, and the
# skew factor (max_freq / avg_freq) that tells the planner story:
# factor ≈ 1 → plain shuffle join is safe; factor ≫ 1 → pre-salt
# (operators/skew.salted_join) or rely on AQE skew splitting. One
# groupBy per key column (three scans Catalyst can't share — the
# price of exact per-key maxima; at 100 TB run it on a sample or one
# key at a time), all reduced map-side; output is 3 rows.
# --------------------------------------------------------------------------
_SKEW_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


def q134_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    out = None
    for k in _SKEW_KEYS:
        freq = li.groupBy(F.col(k).alias("key")).agg(
            F.count("*").alias("f")
        )
        rep = freq.agg(
            F.lit(k).alias("key_col"),
            F.sum("f").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("f").alias("max_freq"),
            F.round(
                F.max("f") / (F.sum("f") / F.count("*")), 6
            ).alias("skew_factor_r"),
        )
        out = rep if out is None else out.unionByName(rep)
    return out


Q134_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{k}' AS key_col, CAST(sum(f) AS BIGINT) AS n_rows,
       count(*) AS n_keys,
       max(f) AS max_freq,
       round(max(f) / (sum(f) / CAST(count(*) AS DOUBLE)), 6)
         AS skew_factor_r
FROM (SELECT {k}, count(*) AS f FROM lineitem GROUP BY {k})"""
    for k in _SKEW_KEYS
)


# --------------------------------------------------------------------------
# q166 — EXACT per-group median of l_extendedprice (integer cents) via
# two-pass histogram refinement — the exact counterpart of q12's
# approx_percentile sketch. Pass 1 is a (group, $1000-bucket) histogram
# (map-side combinable, groups×buckets rows); a cumulative window over
# that tiny table locates the bucket holding each middle rank; pass 2
# re-scans with a pushed-down filter to ONLY those buckets and sorts
# inside them — never a global or group-wide sort, per-task memory
# bounded by bucket width. Zero driver state: rank→bucket resolution is
# a join, and the ≤2-rows/group target table broadcasts. Integer cents
# end-to-end; median_r is one IEEE division of the exact sum.
# --------------------------------------------------------------------------
def q166_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import exact_grouped_median

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return exact_grouped_median(li, "l_returnflag", "cents")


Q166_SQL = """
WITH v AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem),
r AS (
  SELECT g, cents,
         row_number() OVER (PARTITION BY g ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM v)
SELECT g AS l_returnflag,
       CAST(max(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END)
            + sum(CASE WHEN rn = (n + 2) // 2 THEN cents ELSE 0 END)
            AS BIGINT) AS median_x2_cents,
       CAST(CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END)
                 + sum(CASE WHEN rn = (n + 2) // 2 THEN cents ELSE 0 END)
                 AS BIGINT) AS DOUBLE) / CAST(200 AS DOUBLE) AS median_r
FROM r GROUP BY g
"""


# --------------------------------------------------------------------------
# q180 — semi-structured schema discovery: profile a ragged JSON column
# (keys present conditionally, mixed scalar types) into the per-key
# summary a lake catalog shows — presence count, presence share, and
# inferred-type tallies. The ragged documents are synthesized
# IDENTICALLY on both engines from orders arithmetic (integer cents,
# never float rendering); discovery itself is engine-native
# (json_object_keys / json_keys → explode → per-key classification of
# the extracted scalar). One explode + one groupBy — the shuffle
# carries (keys × partials), not documents. Type inference is the same
# regex on the same extracted strings on both engines.
# --------------------------------------------------------------------------
def q180_json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    j = F.concat(
        F.lit('{"id": '),
        F.col("o_orderkey").cast("string"),
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.concat(F.lit(', "price": '), F.col("cents").cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(F.lit(', "tag": "'), F.col("o_orderstatus"), F.lit('"')),
        ).otherwise(F.lit("")),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(', "flag": true')).otherwise(
            F.lit("")
        ),
        F.lit("}"),
    )
    docs = o.select(j.alias("doc"))
    total = docs.agg(F.count("*").alias("n_docs"))
    exploded = docs.select(
        "doc", F.explode(F.json_object_keys("doc")).alias("key")
    )
    # dynamic path needs the SQL form — the Python get_json_object API
    # only accepts a literal path
    val = F.expr("get_json_object(doc, concat('$.', key))")
    classified = exploded.select(
        "key",
        F.when(val.rlike("^-?[0-9]+$"), "number")
        .when(val.isin("true", "false"), "boolean")
        .otherwise("string")
        .alias("vtype"),
    )
    return (
        classified.groupBy("key")
        .agg(
            F.count("*").alias("n_present"),
            F.count_if(F.col("vtype") == "number").alias("n_number"),
            F.count_if(F.col("vtype") == "boolean").alias("n_boolean"),
            F.count_if(F.col("vtype") == "string").alias("n_string"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_present",
            (
                F.col("n_present").cast("double") / F.col("n_docs").cast("double")
            ).alias("presence_share"),
            "n_number",
            "n_boolean",
            "n_string",
        )
    )


Q180_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
docs AS (
  SELECT concat('{"id": ', CAST(o_orderkey AS VARCHAR),
                CASE WHEN o_orderkey % 2 = 0
                     THEN concat(', "price": ', CAST(cents AS VARCHAR))
                     ELSE '' END,
                CASE WHEN o_orderkey % 3 = 0
                     THEN concat(', "tag": "', o_orderstatus, '"')
                     ELSE '' END,
                CASE WHEN o_orderkey % 5 = 0
                     THEN ', "flag": true' ELSE '' END,
                '}') AS doc
  FROM o),
total AS (SELECT count(*) AS n_docs FROM docs),
ex AS (SELECT doc, unnest(json_keys(doc)) AS key FROM docs),
cl AS (
  SELECT key,
         CASE WHEN regexp_matches(json_extract_string(doc, concat('$.', key)),
                                  '^-?[0-9]+$') THEN 'number'
              WHEN json_extract_string(doc, concat('$.', key))
                   IN ('true', 'false') THEN 'boolean'
              ELSE 'string' END AS vtype
  FROM ex)
SELECT key,
       count(*) AS n_present,
       CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE) AS presence_share,
       CAST(count(*) FILTER (vtype = 'number') AS BIGINT) AS n_number,
       CAST(count(*) FILTER (vtype = 'boolean') AS BIGINT) AS n_boolean,
       CAST(count(*) FILTER (vtype = 'string') AS BIGINT) AS n_string
FROM cl, total GROUP BY key, n_docs
"""


# --------------------------------------------------------------------------
# q196 — KMV (k-minimum-values) distinct sketch with SET-OPERATION
# estimates + exact audit: the capability HLL (q16/q171) lacks. Two key
# sets over orders (A = urgent/high priority, B = totalprice > 120k)
# each get a k=256 KMV sketch (ORDER BY hash LIMIT k — physically
# TakeOrderedAndProject: per-partition top-k + one k·p merge, never a
# global sort); the union sketch's retained membership flags give the
# Jaccard estimate x/k and the theta-sketch intersection estimate
# Ĵ·n̂(A∪B). Every estimator is a single IEEE division of exact
# integers (operators/kmv.py), so estimates are bit-identical across
# engines/partitionings/runs; the exact audit recounts all four
# cardinalities in the same scan pass and flags each estimate inside
# its 3σ band (RSE = 1/√(k-2) ≈ 6.3% ⇒ 0.2; intersection compounds
# Jaccard + union noise ⇒ 0.4). The filtered base feeds 3 sketches +
# the audit → localCheckpoint. At 100 TB the audit pass is the
# optional certificate; the sketches themselves are k-row artifacts,
# mergeable and broadcastable.
# --------------------------------------------------------------------------
_KMV_K = 256
_KMV_PRI = ("1-URGENT", "2-HIGH")
_KMV_PRICE = 120000.0
_KMV_B_SINGLE, _KMV_B_INTER = 0.2, 0.4


def _kmv_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtered, u60-hashed orders rows feeding q196's 3 sketches +
    exact audit AND q199's streaming replay — eagerly checkpointed so
    every consumer branch reads the materialized artifact once."""
    from ..operators.kmv import u60

    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_orderpriority").isin(*_KMV_PRI).alias("in_a"),
            (F.col("o_totalprice") > _KMV_PRICE).alias("in_b"),
        )
        .filter(F.col("in_a") | F.col("in_b"))
        .withColumn("__h", u60("o_orderkey"))
        .localCheckpoint(eager=True)  # feeds 3 sketches + the exact audit
    )


def q196_kmv_set_sketch(
    spark: SparkSession, sf_dir: str, *, base: DataFrame | None = None
) -> DataFrame:
    from ..operators.kmv import kmv_estimate_expr

    k = _KMV_K
    if base is None:
        base = _kmv_base(spark, sf_dir)
    ska = base.filter("in_a").orderBy("__h", "o_orderkey").limit(k)
    skb = base.filter("in_b").orderBy("__h", "o_orderkey").limit(k)
    sku = base.orderBy("__h", "o_orderkey").limit(k)
    sa = ska.agg(F.max("__h").alias("ha"))
    sb = skb.agg(F.max("__h").alias("hb"))
    su = sku.agg(
        F.max("__h").alias("hu"),
        F.count_if(F.col("in_a") & F.col("in_b")).alias("x"),
    )
    ex = base.agg(
        F.count_if(F.col("in_a")).alias("n_a"),
        F.count_if(F.col("in_b")).alias("n_b"),
        F.count("*").alias("n_union"),
        F.count_if(F.col("in_a") & F.col("in_b")).alias("n_inter"),
    )
    row = (
        ex.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(su))
    )
    est_a = kmv_estimate_expr(k, F.col("ha"))
    est_b = kmv_estimate_expr(k, F.col("hb"))
    est_u = kmv_estimate_expr(k, F.col("hu"))
    est_i = (F.col("x").cast("double") * est_u) / F.lit(float(k))
    return row.select(
        F.lit(k).alias("k"),
        "n_a",
        "n_b",
        "n_union",
        "n_inter",
        F.round(est_a, 4).alias("est_a_r"),
        F.round(est_b, 4).alias("est_b_r"),
        F.round(est_u, 4).alias("est_union_r"),
        F.round(est_i, 4).alias("est_inter_r"),
        F.round(F.col("x").cast("double") / F.lit(float(k)), 6).alias("jaccard_est_r"),
        (F.abs(est_a - F.col("n_a").cast("double")) <= F.lit(_KMV_B_SINGLE) * F.col("n_a").cast("double")).alias("ok_a"),
        (F.abs(est_b - F.col("n_b").cast("double")) <= F.lit(_KMV_B_SINGLE) * F.col("n_b").cast("double")).alias("ok_b"),
        (F.abs(est_u - F.col("n_union").cast("double")) <= F.lit(_KMV_B_SINGLE) * F.col("n_union").cast("double")).alias("ok_union"),
        (F.abs(est_i - F.col("n_inter").cast("double")) <= F.lit(_KMV_B_INTER) * F.col("n_inter").cast("double")).alias("ok_inter"),
    )


def _q196_sql() -> str:
    from ..operators.kmv import kmv_estimate_sql, u60_sql

    k = _KMV_K
    pri = ", ".join(f"'{p}'" for p in _KMV_PRI)
    return f"""
WITH base AS (
  SELECT o_orderkey,
         o_orderpriority IN ({pri}) AS in_a,
         o_totalprice > {_KMV_PRICE!r} AS in_b,
         {u60_sql("duckdb", "o_orderkey")} AS h
  FROM orders
  WHERE o_orderpriority IN ({pri}) OR o_totalprice > {_KMV_PRICE!r}),
ska AS (SELECT h FROM base WHERE in_a ORDER BY h, o_orderkey LIMIT {k}),
skb AS (SELECT h FROM base WHERE in_b ORDER BY h, o_orderkey LIMIT {k}),
sku AS (SELECT h, in_a, in_b FROM base ORDER BY h, o_orderkey LIMIT {k}),
sa AS (SELECT max(h) AS ha FROM ska),
sb AS (SELECT max(h) AS hb FROM skb),
su AS (SELECT max(h) AS hu, count(*) FILTER (in_a AND in_b) AS x FROM sku),
ex AS (SELECT count(*) FILTER (in_a) AS n_a,
              count(*) FILTER (in_b) AS n_b,
              count(*) AS n_union,
              count(*) FILTER (in_a AND in_b) AS n_inter
       FROM base),
est AS (SELECT *,
               {kmv_estimate_sql(k, "ha")} AS est_a,
               {kmv_estimate_sql(k, "hb")} AS est_b,
               {kmv_estimate_sql(k, "hu")} AS est_u
        FROM ex, sa, sb, su)
SELECT {k} AS k, n_a, n_b, n_union, n_inter,
       round(est_a, 4) AS est_a_r,
       round(est_b, 4) AS est_b_r,
       round(est_u, 4) AS est_union_r,
       round((CAST(x AS DOUBLE) * est_u) / {float(k)!r}, 4) AS est_inter_r,
       round(CAST(x AS DOUBLE) / {float(k)!r}, 6) AS jaccard_est_r,
       abs(est_a - CAST(n_a AS DOUBLE)) <= {_KMV_B_SINGLE!r} * CAST(n_a AS DOUBLE) AS ok_a,
       abs(est_b - CAST(n_b AS DOUBLE)) <= {_KMV_B_SINGLE!r} * CAST(n_b AS DOUBLE) AS ok_b,
       abs(est_u - CAST(n_union AS DOUBLE)) <= {_KMV_B_SINGLE!r} * CAST(n_union AS DOUBLE) AS ok_union,
       abs((CAST(x AS DOUBLE) * est_u) / {float(k)!r} - CAST(n_inter AS DOUBLE))
         <= {_KMV_B_INTER!r} * CAST(n_inter AS DOUBLE) AS ok_inter
FROM est
"""


Q196_SQL = _q196_sql()


# --------------------------------------------------------------------------
# q199 — REAL Structured Streaming execution of the KMV sketch build
# (streaming/stateful.kmv_stream: applyInPandasWithState, O(k) state
# per key): q196's three key sets are replayed as a file stream of
# (set-label, hash, key) rows, the per-label k-minimum states are
# snapshotted, and the final streaming sketches are asserted EXACTLY
# equal (h AND key, all three labels) to the batch-built sketches —
# the strongest streaming certificate in the repo family, available
# here because the k-minimum set of a multiset is order-independent,
# so stream≡batch is exact equality, not approximation. On success
# the batch-certified q196 result is emitted against Q196_SQL (the
# q192/q194 convention: a divergence raises instead of shipping
# either side).
# --------------------------------------------------------------------------
def q199_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import kmv_stream

    k = _KMV_K
    # one checkpointed artifact feeds the replay input, the 3 batch-twin
    # sketches, AND (on success) the emitted q196 computation — no
    # duplicate orders scan
    base = _kmv_base(spark, sf_dir)
    lab = base.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.when(F.col("in_a"), F.lit("a")),
                    F.when(F.col("in_b"), F.lit("b")),
                    F.lit("u"),
                )
            )
        ).alias("lab"),
        F.col("__h").alias("h"),
        F.col("o_orderkey").cast("string").alias("item"),
        F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
    )
    sentinel = spark.sql(
        "SELECT '__wm__' lab, CAST(0 AS BIGINT) h, 'x' item,"
        " to_timestamp('2031-01-01') ts"
    )
    out = replay_stream(
        spark,
        sf_dir,
        "q199",
        lambda w: lab.unionByName(sentinel)
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(f"{w}/in"),
        {"in": "lab string, h long, item string, ts timestamp"},
        lambda stream: kmv_stream(
            stream, ["lab"], "item", hash_col="h", k=k
        ),
    )
    # ≤ k rows per label per data batch by the state contract
    streamed = final_snapshot(
        out.filter(F.col("lab") != "__wm__"), "lab"
    ).select("lab", "h", "item")

    def sk(df: DataFrame, label: str) -> DataFrame:
        return (
            df.orderBy("__h", "o_orderkey")
            .limit(k)
            .select(
                F.lit(label).alias("lab"),
                F.col("__h").alias("h"),
                F.col("o_orderkey").cast("string").alias("item"),
            )
        )

    batch_sk = (
        sk(base.filter("in_a"), "a")
        .unionByName(sk(base.filter("in_b"), "b"))
        .unionByName(sk(base, "u"))
        .localCheckpoint(eager=False)  # feeds the one-job multiset gate
    )
    assert_stream_matches_batch("q199", streamed, batch_sk)
    return q196_kmv_set_sketch(spark, sf_dir, base=base)


# --------------------------------------------------------------------------
# q216 — hash-sampled join-cardinality estimate with exact audit: the
# optimizer statistic |lineitem ⋈ lineitem on l_partkey| = Σ_p cnt(p)²
# (the self-join size that predicts shuffle blowup and skew), estimated
# from the 1/16 of part keys whose portable u60 hash falls under
# 2⁶⁰/16, scaled ×16 — end-biased key sampling: sampling KEYS (not
# rows) keeps each sampled key's cnt² exact, so the estimator is
# unbiased for any skew. The audit computes the exact value in the
# same pass (one groupBy, two conditional sums) and reports the signed
# relative error — at 100 TB only the sampled branch would run, with
# the audit as the certification pass. All counts are exact integers;
# the relative error is one IEEE division rounded to 6 dp.
# --------------------------------------------------------------------------
_JSE_INV_RATE = 16


def q216_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmv import u60_sql

    thr = (1 << 60) // _JSE_INV_RATE
    cnt = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "sampled",
            F.expr(u60_sql("spark", "l_partkey")) < F.lit(thr),
        )
    )
    return cnt.agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("sampled").cast("long")).alias("n_sampled"),
        F.sum(F.col("c") * F.col("c")).alias("exact_size"),
        (
            F.lit(_JSE_INV_RATE)
            * F.sum(
                F.when(F.col("sampled"), F.col("c") * F.col("c")).otherwise(
                    F.lit(0)
                )
            )
        ).alias("est_size"),
    ).select(
        "n_keys",
        "n_sampled",
        "exact_size",
        "est_size",
        F.round(
            (F.col("est_size") - F.col("exact_size"))
            / F.col("exact_size"),
            6,
        ).alias("rel_err_r"),
    )


def _q216_sql() -> str:
    from ..operators.kmv import u60_sql

    thr = (1 << 60) // _JSE_INV_RATE
    return f"""
WITH cnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
             FROM lineitem GROUP BY l_partkey),
s AS (SELECT c, {u60_sql("duckdb", "l_partkey")} < {thr} AS sampled
      FROM cnt)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(c * c) AS BIGINT) AS exact_size,
       CAST({_JSE_INV_RATE} * sum(CASE WHEN sampled THEN c * c ELSE 0 END)
            AS BIGINT) AS est_size,
       round((CAST({_JSE_INV_RATE} * sum(CASE WHEN sampled THEN c * c ELSE 0 END)
                   AS BIGINT) - CAST(sum(c * c) AS BIGINT))
             * 1.0 / CAST(sum(c * c) AS BIGINT), 6) AS rel_err_r
FROM s
"""


Q216_SQL = _q216_sql()


# --------------------------------------------------------------------------
# q224 — 2-D equi-depth histogram (the "data heatmap" profile): 16
# equal-population price tiles × 4 equal-population date tiles WITHIN
# each price tile, over orders. The joint-density readout a profiling
# pass uses to spot value/time interactions a pair of 1-D histograms
# hides (e.g. big orders clustering in one quarter). Scale shape:
# dimension 1 is with_global_ntile (bucket-offset two-pass — no
# single-partition sort); dimension 2 does NOT use a partitioned
# ntile window (16 price tiles = 16 data-sized tasks) — instead the
# keyed distributed rank (with_global_rank, date-bucketed) plus a
# 16-row per-tile count broadcast reproduce the SQL-standard ntile
# formula exactly: with q = N div n, r = N mod n, tile(rank) =
# (rank-1) div (q+1) + 1 for the first r*(q+1) rows, else
# r + (rank - r*(q+1) - 1) div q + 1. Prices compare as exact cents;
# every output is an integer or a date — no float anywhere.
# --------------------------------------------------------------------------
N_PRICE_TILES = 16
N_DATE_TILES = 4


def q224_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import (
        with_global_ntile,
        with_global_rank,
        with_range_bucket,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    d1 = (
        with_global_ntile(
            with_range_bucket(o, F.col("cents"), bucket_col="__rb"),
            [F.asc("cents"), F.asc("o_orderkey")],
            N_PRICE_TILES,
            bucket=F.col("__rb"),
            tile_col="pb",
        )
        .drop("__rb")
        # three consumers (keyed-rank main pass, its bucket-offset pass,
        # and the per-tile counts) — without this each re-runs the whole
        # ntile lineage (measured 3.4 s → 1.5 s at sf0.1)
        .localCheckpoint(eager=False)
    )
    r2 = with_global_rank(
        d1,
        ["pb"],
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        bucket=F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1990-01-01') DIV 60"
        ),  # 60-day buckets (NTZ-safe)
        rank_col="rk",
    )
    # SQL-standard ntile from (rank, per-tile count) in PURE integer
    # arithmetic (`div`, never double division + cast: a/b rounds UP to
    # the next integer when within half an ulp — a real boundary-row
    # hazard once rank magnitudes grow)
    cnt = d1.groupBy("pb").agg(F.count("*").alias("np"))  # 16 rows
    db = F.expr(
        f"""CASE WHEN rk <= (np % {N_DATE_TILES})
                         * (np DIV {N_DATE_TILES} + 1)
                 THEN (rk - 1) DIV (np DIV {N_DATE_TILES} + 1) + 1
                 ELSE (np % {N_DATE_TILES})
                      + (rk - (np % {N_DATE_TILES})
                              * (np DIV {N_DATE_TILES} + 1) - 1)
                        DIV greatest(np DIV {N_DATE_TILES}, 1L) + 1
            END"""
    )
    return (
        r2.join(F.broadcast(cnt), "pb")
        .withColumn("db", db)
        .groupBy("pb", "db")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
    )


Q224_SQL = f"""
WITH o AS (SELECT o_orderkey, o_orderdate,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
d1 AS (SELECT *, ntile({N_PRICE_TILES})
              OVER (ORDER BY cents, o_orderkey) AS pb
       FROM o),
d2 AS (SELECT *, ntile({N_DATE_TILES})
              OVER (PARTITION BY pb ORDER BY o_orderdate, o_orderkey) AS db
       FROM d1)
SELECT CAST(pb AS BIGINT) AS pb, CAST(db AS BIGINT) AS db,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(cents) AS min_cents, max(cents) AS max_cents,
       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
FROM d2 GROUP BY pb, db
"""


# --------------------------------------------------------------------------
# q225 — STREAMING count-min twin: the corpus token stream replays as a
# file stream (4 micro-batches — maxFilesPerTrigger=1 over the 4-file
# memoized input, so the incremental path is genuinely multi-batch) and
# Spark's built-in streaming aggregation maintains the (b0..b_{d-1})
# joint bucket histogram in COMPLETE mode — the CMS property made
# literal: state is ≤ w^d = 32³ counters NO MATTER how long the stream
# runs. Counter increments form a commutative monoid, so the final
# streaming snapshot must equal the batch histogram EXACTLY — the query
# asserts multiset equality in-query (refusing to emit on any
# divergence) and then emits the batch-certified q116 result against
# the same DuckDB oracle. Extends the exact-equality streaming
# certification family (q199 KMV, q211 XOR digest, q187 MG) to the
# tenth sketch/stateful kernel, this one with ZERO custom state code —
# the certificate covers Spark's own incremental HashAggregate state.
# --------------------------------------------------------------------------
def q225_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    bcols = [F.expr(_cm_hash("spark", j)).alias(f"b{j}") for j in range(CM_D)]
    streamed = replay_stream(
        spark,
        sf_dir,
        "q225",
        lambda w: toks.coalesce(4).write.mode("overwrite").parquet(f"{w}/in"),
        {"in": "token string"},
        lambda stream: stream.select(*bcols)
        .groupBy(*[f"b{j}" for j in range(CM_D)])
        .agg(F.count("*").alias("c")),
        files_per_trigger=1,  # 4 real micro-batches
        output_mode="complete",  # final table = the full histogram
    )

    batch = (
        toks.select(*bcols)
        .groupBy(*[f"b{j}" for j in range(CM_D)])
        .agg(F.count("*").alias("c"))
        # ≤ w^d rows; feeds the one-job multiset gate — without this the
        # token scan would run once more
        .localCheckpoint(eager=False)
    )
    assert_stream_matches_batch("q225", streamed, batch)
    return q116_countmin(spark, sf_dir)


# --------------------------------------------------------------------------
# q239 — EXACT weighted percentiles (p25/p50/p75) per group: the
# quantity-weighted price distribution per l_returnflag — "the price
# below which a quarter/half/three-quarters of the UNITS traded",
# which no unweighted quantile answers and approx_percentile can't
# certify. Definition (lower weighted percentile): the smallest value
# v whose inclusive cumulative weight satisfies 100·cumw(v) ≥ p·W.
# Scale shape = the q169/q170 doctrine: cumulate over the AGGREGATED
# value axis, never the rows — the data collapses to the per-(group,
# value) weight summary first, the inclusive prefix weight comes from
# the bucket-offset two-pass cumsum over that summary (only the
# |groups|×64 bucket prefix is serialized), the three percentile
# picks are a bounded 3× explode of the summary + one min(struct)
# partial aggregate. Everything is exact int64 (quantities are
# integral; 100·cumw and p·W stay far inside int64 at any realistic
# SF); px_r is the single final division.
# --------------------------------------------------------------------------
WPCT = (25, 50, 75)


def q239_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import with_global_cumsum, with_range_bucket

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    # span agg + bucket sums + data join + per-group totals all read
    # this summary: materialize once instead of 4 lineitem scans (q142)
    summary = (
        li.groupBy("g", "v")
        .agg(F.sum("w").alias("ws"))
        .localCheckpoint(eager=False)
    )
    b = with_range_bucket(summary, F.col("v"), bucket_col="__rb")
    cum = with_global_cumsum(
        b, ["g"], [F.asc("v")], "ws", bucket=F.col("__rb"), out_col="cumw"
    ).drop("__rb")
    totals = summary.groupBy("g").agg(F.sum("ws").alias("tw"))
    hits = (
        cum.join(totals, "g")
        .select(
            "g",
            "v",
            "cumw",
            "tw",
            F.explode(F.array(*[F.lit(p) for p in WPCT])).alias("pct"),
        )
        .filter(100 * F.col("cumw") >= F.col("pct") * F.col("tw"))
    )
    pick = hits.groupBy("g", "pct").agg(
        F.min(F.struct("v", "cumw", "tw")).alias("m")
    )
    return pick.select(
        "g",
        F.col("pct").cast("long").alias("pct"),
        F.col("m.v").alias("value_c"),
        F.col("m.cumw").alias("cum_w"),
        F.col("m.tw").alias("total_w"),
        (F.col("m.v") / F.lit(100.0)).alias("px_r"),
    )


# min(struct) picks the smallest v (cumw is monotone in v, so the struct
# order is v's order); the oracle mirrors with arg_min over v. Integer
# columns CAST to BIGINT; px_r is one IEEE division.
Q239_SQL = f"""
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
),
s AS (SELECT g, v, sum(w) AS ws FROM li GROUP BY 1, 2),
c AS (SELECT g, v, ws,
             sum(ws) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(ws) OVER (PARTITION BY g) AS tw
      FROM s),
hits AS (SELECT g, v, cumw, tw, pct
         FROM c CROSS JOIN (VALUES {", ".join(f"({p})" for p in WPCT)}) AS pcts(pct)
         WHERE 100 * cumw >= pct * tw),
pick AS (SELECT g, pct,
                min(v) AS value_c,
                arg_min(cumw, v) AS cum_w,
                arg_min(tw, v) AS total_w
         FROM hits GROUP BY 1, 2)
SELECT g, CAST(pct AS BIGINT) AS pct,
       CAST(value_c AS BIGINT) AS value_c,
       CAST(cum_w AS BIGINT) AS cum_w,
       CAST(total_w AS BIGINT) AS total_w,
       value_c / 100.0 AS px_r
FROM pick
"""


QUERIES = {
    "q85_equidepth_bins": q85_equidepth_bins,
    "q224_hist2d": q224_hist2d,
    "q86_column_profile": q86_column_profile,
    "q87_grouped_split": q87_grouped_split,
    "q88_heavy_hitters": q88_heavy_hitters,
    "q187_stream_heavy_hitters": q187_stream_heavy_hitters,
    "q116_countmin": q116_countmin,
    "q225_stream_countmin": q225_stream_countmin,
    "q129_poisson_bootstrap": q129_poisson_bootstrap,
    "q134_skew_report": q134_skew_report,
    "q166_exact_median": q166_exact_median,
    "q180_json_schema_profile": q180_json_schema_profile,
    "q196_kmv_set_sketch": q196_kmv_set_sketch,
    "q216_join_size_estimate": q216_join_size_estimate,
    "q199_stream_kmv": q199_stream_kmv,
    "q239_weighted_percentiles": q239_weighted_percentiles,
}

ORACLES = {
    "q85_equidepth_bins": Q85_SQL,
    "q224_hist2d": Q224_SQL,
    "q86_column_profile": Q86_SQL,
    "q87_grouped_split": Q87_SQL,
    "q88_heavy_hitters": Q88_SQL,
    "q187_stream_heavy_hitters": Q88_SQL,
    "q116_countmin": Q116_SQL,
    "q225_stream_countmin": Q116_SQL,
    "q129_poisson_bootstrap": Q129_SQL,
    "q134_skew_report": Q134_SQL,
    "q166_exact_median": Q166_SQL,
    "q180_json_schema_profile": Q180_SQL,
    "q196_kmv_set_sketch": Q196_SQL,
    "q216_join_size_estimate": Q216_SQL,
    "q199_stream_kmv": Q196_SQL,
    "q239_weighted_percentiles": Q239_SQL,
}
