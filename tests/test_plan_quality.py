"""Physical-plan regression guards.

Correctness tests can't catch a plan silently degrading (a broadcast
join falling back to shuffle, a filter no longer reaching the scan, a
pruned union branch coming back). These assert the plan properties the
scale design depends on, on the sf0.001 fixtures — plan shape doesn't
change with SF. Presence of BroadcastNestedLoopJoin/CartesianProduct is
checked for every registry query by the live census in
``tests/test_queries_oracle.py::test_query_matches_oracle``; only count
bounds on allowlisted queries stay here.
"""

import pytest

from binance_data_ingestor_spark.queries import registry

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    qs, _ = registry()

    def plan_of(name):
        df = qs[name](spark, SF_DIR)
        # execute first: AQE replans joins from runtime stats (an
        # unhinted dim join is SMJ in the initial plan and broadcast in
        # the final one — the final plan is the one that matters)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AdaptiveSparkPlan.toString embeds the pre-AQE "Initial Plan"
        # section; only the final (executed) section is asserted on
        return plan.split("== Initial Plan ==")[0]

    return plan_of


def test_skill_md_has_no_stale_counts():
    """The verify skill must not carry a hand-written registry count —
    round-6 VERDICT caught '224 pass' after q225 landed. Any literal
    'NNN pass' / 'NNN queries' in SKILL.md either equals the live
    registry size or fails here."""
    import os
    import re

    path = os.path.join(
        os.path.dirname(__file__), "..", ".claude", "skills", "verify",
        "SKILL.md",
    )
    if not os.path.exists(path):
        pytest.skip("verify skill not present")
    text = open(path).read()
    qs, _ = registry()
    n = len(qs)
    stale = [
        m.group(0)
        for m in re.finditer(r"\b(\d{2,}) (?:pass|queries)\b", text)
        if int(m.group(1)) != n
    ]
    assert not stale, (
        f"SKILL.md carries stale registry counts {stale}; registry has "
        f"{n} queries — say 'N = len(registry()[0])' or update the number"
    )


def test_dim_joins_broadcast(plans):
    # q02/q03: customer/nation/region dims must broadcast, and the big
    # fact join must remain the only shuffle join
    for q in ["q02_shipping_priority", "q03_regional_revenue"]:
        p = plans(q)
        assert "BroadcastHashJoin" in p, q
        assert "SortMergeJoin" not in p, f"{q}: dim join regressed to SMJ"


def test_filters_reach_parquet_scan(plans):
    p = plans("q01_pricing_summary")
    # pushdown shows up as a PushedFilters/DataFilters entry on the scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p \
        or "l_shipdate" in p.split("Scan parquet")[1].split("ReadSchema")[0], p


def test_column_pruning(plans):
    p = plans("q01_pricing_summary")
    scan = p.split("ReadSchema: ")[1].splitlines()[0]
    # only the 7 needed lineitem columns, not the full 16-column schema
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan and "l_returnflag" in scan


def test_global_topk_avoids_global_sort(plans):
    p = plans("q11_global_topk")
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p.lower()


def test_union_branch_pruned_by_discriminator_filter(plans):
    p = plans("q34_envelope_filter")
    assert "Union" not in p  # trades branch constant-folded away
    assert p.count("Scan parquet") == 1


def test_salted_agg_is_two_phase(plans):
    p = plans("q14_salted_agg")
    # partial agg on (key, salt) then final on key — two HashAggregate
    # pairs around one exchange, never a sort-based fallback
    assert p.count("HashAggregate") >= 4
    assert "SortAggregate" not in p


def test_range_join_stays_equi(plans):
    # q28: the time-range predicate must ride the user_id equi-join as a
    # post-join filter — if it leaks into the join condition the planner
    # falls back to a nested-loop product, which is death at scale (the
    # live census in test_query_matches_oracle rejects that node)
    p = plans("q28_range_join")
    assert "Join" in p


def test_multires_rollup_reads_hourly_not_raw(plans):
    # q29: the daily level re-aggregates the hourly aggregate — one scan
    # of events, two aggregation levels (partial+final pairs)
    p = plans("q29_multires_rollup")
    assert p.count("Scan parquet") == 1
    assert p.count("HashAggregate") >= 4 or (
        p.count("SortAggregate") + p.count("ObjectHashAggregate") >= 4
    )


def test_correlated_subquery_decorrelated(plans):
    # q17: the per-part scalar subquery must be rewritten to an
    # aggregate + join (RewriteCorrelatedScalarSubquery); a naive plan
    # would be a nested-loop subquery per probe row (the live census
    # rejects that node)
    p = plans("q17_small_qty_revenue")
    assert p.count("HashAggregate") >= 2 or p.count("ObjectHashAggregate") >= 2


def test_asof_join_single_shuffle(plans):
    p = plans("q25_asof_join")
    # union + window implementation: exactly one hashpartitioning
    # exchange on the by-key (plus no join operator at all)
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """With broadcast off (big-dim regime), the optimizer should inject a
    bloom filter built from the filtered dim side into the fact scan —
    the 100 TB shuffle-join safety net. Guarded here so a conf or
    version change that silently drops it fails loudly."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        fact = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        dim = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        plan = (
            fact.join(dim, fact.l_orderkey == dim.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_triangle_census_no_wedge_cartesian(plans):
    # q105: wedge generation and the closing-edge probe must be
    # equi-joins; the only nested-loop allowed is crossing the two
    # 1-row census aggregates at the very top
    p = plans("q105_triangle_count")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_hits_reuses_edge_exchange(plans):
    # q226: the four HITS iteration joins consume the IDENTICAL
    # distinct-edge subplan; Spark must reuse one exchange rather than
    # rebuild the edge list per iteration (the no-checkpoint decision
    # documented in graph_ops.py is only valid while this holds —
    # measured 5.4 s reused vs 11.9 s rebuilt at sf0.1). The only
    # nested loops are the two 1-row max-score normalization crossings.
    p = plans("q226_hits")
    assert "ReusedExchange" in p or "ReusedQueryStage" in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 2


def test_rolling_distinct_expands_not_range_joins(plans):
    # q107: the 7-day window must come from the bounded explode (7×),
    # not a day×activity non-equi join
    p = plans("q107_rolling_distinct_users")
    assert "Generate explode" in p or "Generate" in p


def test_editdist_join_blocks_before_verifying(plans):
    # q108: candidate generation must be an equi-join on the blocking
    # key — levenshtein runs post-join, never as a join condition
    p = plans("q108_editdist_join")
    assert "levenshtein" in p.lower()


def test_ewma_taps_share_one_window_sort(plans):
    # q111: all 10 lag taps must collapse into ONE Window node over one
    # sort — per-tap windows would sort the series 10 times
    p = plans("q111_ewma")
    assert p.count("Window") <= 2  # running + (optional) rank pick
    assert p.count("Exchange hashpartitioning") <= 2


def test_tpch_q7_broadcasts_nation_dims(plans):
    # At sf0.001 the bilateral pair is empty, so AQE collapses the whole
    # query to EmptyRelation — what must still hold: the OR-pair filter
    # is decomposed into per-dim IN filters pushed to BOTH nation scans
    # (each nation dim reads 2 of 25 rows); the live census keeps the
    # cartesian out.
    p = plans("q122_nation_volume")
    assert p.count("(n_name") >= 2  # derived filter present on each dim
    assert "BroadcastHashJoin" in p or "EmptyRelation" in p


def test_grouping_sets_single_expand(plans):
    # q125: all three grouping sets from one Expand + one shuffle
    p = plans("q125_grouping_sets")
    assert "Expand" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_window_battery_single_window_node(plans):
    # q126: ntile + percent_rank + cume_dist share one partition/order
    # spec — they must compile into a single Window operator
    p = plans("q126_window_analytics")
    assert p.count("Window") == 1


def test_bootstrap_replica_means_partial_agg(plans):
    # q129: the 32× expanded stream must collapse via partial
    # aggregation before the shuffle — the exchange carries per-replica
    # partials, not the expanded rows (HashAggregate pair around the
    # replica exchange)
    p = plans("q129_poisson_bootstrap")
    assert p.count("HashAggregate") >= 4
    assert "Generate explode" in p or "Generate" in p


def test_rolling_24h_window_keys_on_time_chunk(plans):
    # q22: the 24h range window must partition on (event_type, chunk),
    # not event_type alone — a 4-value key serializes the window stage
    # into 4 tasks regardless of cluster size. The chunk column in the
    # partition spec is what makes window parallelism grow with the
    # data's time span.
    p = plans("q22_rolling_24h")
    assert "hashpartitioning(event_type" in p
    assert "chunk" in p.split("hashpartitioning(event_type", 1)[1][:80]


def test_copurchase_edge_artifact_shared(spark):
    # q105/q106 must reuse one localCheckpointed basket/pair build —
    # the second query's plan reads the checkpoint (Scan ExistingRDD),
    # not a fresh lineitem scan + self-join.
    from binance_data_ingestor_spark.queries.util import copurchase_pairs

    b1, p1 = copurchase_pairs(spark, SF_DIR)
    b2, p2 = copurchase_pairs(spark, SF_DIR)
    assert b1 is b2 and p1 is p2
    qs, _ = registry()
    df = qs["q106_copurchase_lift"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_chunked_lag_matches_global_window_across_gaps(spark):
    # with_row_context must retarget boundary context to the next
    # PRESENT chunk — a key with a time gap spanning several empty
    # chunks still gets the true previous row for lag(1)
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from binance_data_ingestor_spark.operators.partitioning import (
        with_row_context,
    )

    rows = [
        # key 'a': dense in chunk 0, then a 5-chunk gap, then chunk 5
        ("a", 1, 10.0), ("a", 2, 11.0), ("a", 9, 12.0),
        ("a", 55, 13.0), ("a", 56, 14.0),
        # key 'b': single row per chunk
        ("b", 1, 1.0), ("b", 11, 2.0), ("b", 21, 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")

    wg = W.partitionBy("k").orderBy("t")
    expected = sorted(
        df.select("k", "t", F.lag("v").over(wg).alias("pv")).collect()
    )

    dc = with_row_context(
        df, ["k"], ["t"], chunk=F.expr("t div 10"), rows_before=1
    )
    wc = W.partitionBy("k", "chunk").orderBy("t")
    got = sorted(
        dc.select("k", "t", "is_ctx", F.lag("v").over(wc).alias("pv"))
        .filter(F.col("is_ctx") == 0)
        .drop("is_ctx")
        .collect()
    )
    assert got == expected

    # lead across the same gaps
    expected_lead = sorted(
        df.select("k", "t", F.lead("v").over(wg).alias("nv")).collect()
    )
    dc2 = with_row_context(
        df, ["k"], ["t"], chunk=F.expr("t div 10"), rows_after=1
    )
    got_lead = sorted(
        dc2.select("k", "t", "is_ctx", F.lead("v").over(wc).alias("nv"))
        .filter(F.col("is_ctx") == 0)
        .drop("is_ctx")
        .collect()
    )
    assert got_lead == expected_lead


def test_trade_windows_key_on_time_chunk(plans):
    # q37/q38: the per-symbol lag/lead windows must partition on
    # (symbol, chunk) — symbol alone is 3 values and serializes
    for q in ["q37_realized_vol", "q38_twap"]:
        p = plans(q)
        specs = [
            seg[:60]
            for seg in p.split("windowspecdefinition(symbol")[1:]
        ]
        assert specs and all("chunk" in s for s in specs), (q, specs)


def test_zscore_window_keys_on_rank_chunk(plans):
    # q83: the 100-deep frame must run over (event_type, chunk), with
    # chunk derived from the distributed global rank — guaranteed
    # >=frame-depth occupancy per interior chunk at any SF
    p = plans("q83_rolling_zscore")
    specs = [
        seg[:60] for seg in p.split("windowspecdefinition(event_type")[1:]
    ]
    assert any("chunk" in s for s in specs), specs


def test_binned_range_joins_stay_equi(plans):
    # q147/q148: the whole point of operators/rangejoin.py is that the
    # inequality predicate rides a (keys, bin) equi-join as a refine
    # filter — a nested-loop or cartesian node means the rewrite broke,
    # which the live census in test_query_matches_oracle rejects
    for name in ("q147_error_window_attribution", "q148_concurrent_sessions"):
        p = plans(name)
        assert "Join" in p, name


def test_exact_median_probes_broadcast_and_no_global_sort(plans):
    # q166: both pass-2 joins (bucket prune + rank pick) must broadcast
    # the tiny target table, and the only Sorts allowed are the
    # (group, bucket)-partitioned window sorts — a global Sort means the
    # two-pass scheme degraded to the sort-everything formulation
    p = plans("q166_exact_median")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "target-bucket join regressed to SMJ"
    for seg in p.split("Sort [")[1:]:
        head = seg.split("]")[0]
        assert "bucket" in head or "g#" in head, f"unpartitioned sort: {head}"


def test_bpe_pair_counts_aggregates_vocab_first(plans):
    # q164: the pair explode must sit ABOVE the word-frequency
    # aggregate (vocab-sized input), not directly on the corpus — two
    # HashAggregate pairs with the Generate between them
    p = plans("q164_bpe_merge_step")
    gen = p.find("Generate explode")
    assert gen != -1
    # at least one aggregate (the vocab count) below the explode
    assert "HashAggregate" in p[gen:], "vocab aggregate missing below explode"


def test_int8_quantize_has_no_shuffle(plans):
    # q165 is row-local expression work — any Exchange means a shuffle
    # crept into what should be a pure map stage
    p = plans("q165_int8_quantize")
    assert "Exchange" not in p, p


def test_series_topk_has_no_cartesian(plans):
    # q27: closest-pairs must run through the projection-bound prune —
    # rank-neighbor probe + binned radius self-join are all equi-joins;
    # a CartesianProduct/BNLJ means the all-pairs form crept back, which
    # the live census in test_query_matches_oracle rejects
    p = plans("q27_series_topk")
    assert "TakeOrderedAndProject" in p


def _unpartitioned_window_lines(plan: str) -> list[str]:
    """Window nodes with no partition spec print two top-level bracket
    groups (`Window [exprs], [order]`); partitioned ones print three
    (`Window [exprs], [part], [order]`)."""
    bad = []
    for line in plan.splitlines():
        i = line.find("Window [")
        if i == -1:
            continue
        node = line[i:]
        if node.count("], [") < 2:
            bad.append(node[:120])
    return bad


def test_global_rank_queries_have_no_unpartitioned_window(plans):
    # q71/q132/q133/q142/q163 rank/ntile/cumsum an entity-sized table
    # (parts, customers, documents — all grow with the data) and must
    # route through the bucket-offset two-pass rank: every Window node
    # in their plans carries a partition spec, so no stage funnels the
    # whole entity set into one task.
    for q in [
        "q71_length_buckets",
        "q132_decile_lift",
        "q133_auc_ranksum",
        "q142_abc_classification",
        "q163_rfm_segments",
    ]:
        bad = _unpartitioned_window_lines(plans(q))
        assert not bad, f"{q}: unpartitioned window(s): {bad}"


def test_dewindowed_queries_have_no_unpartitioned_window(plans):
    # round-4 rewrites: q103's exclusive running max routes through the
    # bucket-offset two-pass form (its only Window is per-bucket), q110
    # buckets on epoch hour, and q171's rolling HLL union replaced its
    # calendar RANGE window with explode + groupBy — no Window node at
    # all; q169/q167 moved their bounded-summary prefixes driver-side.
    for q in [
        "q103_skyline",
        "q110_peak_concurrency",
        "q169_ks_drift",
    ]:
        bad = _unpartitioned_window_lines(plans(q))
        assert not bad, f"{q}: unpartitioned window(s): {bad}"
    assert "Window" not in plans("q171_rolling_hll")


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    # Hive-partitioned writes + a partition-key filter must prune at the
    # FILE level (PartitionFilters in the scan), not post-scan — the
    # difference between reading one day and reading 100 TB
    from pyspark.sql import functions as F

    from binance_data_ingestor_spark.queries.util import load

    src = str(tmp_path / "events_by_day")
    ev = load(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    ev.write.partitionBy("day").mode("overwrite").parquet(src)

    df = spark.read.parquet(src).filter(F.col("day") == "2024-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition predicate must appear inside PartitionFilters (file
    # pruning), and the scan must not carry it as a post-scan Filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in pf
    n_days = df.select("day").distinct().count()
    assert n_days <= 1


def test_global_ntile_matches_builtin_ntile(spark):
    """with_global_ntile must reproduce SQL-standard ntile exactly —
    including the ceil-sized leading tiles when N % n != 0 and
    duplicate order values — for several (N, n) shapes."""
    import random as _random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from binance_data_ingestor_spark.operators.partitioning import (
        with_global_ntile,
        with_range_bucket,
    )

    rng = _random.Random(13)
    for n_rows, n_tiles in [(97, 8), (40, 5), (7, 10), (64, 4)]:
        rows = [(i, rng.randrange(0, 12)) for i in range(n_rows)]  # heavy ties
        df = spark.createDataFrame(rows, "id long, v long")
        want = {
            (r["id"]): r["t"]
            for r in df.select(
                "id", F.ntile(n_tiles).over(W.orderBy("v", "id")).alias("t")
            ).collect()
        }
        got = {
            r["id"]: r["t"]
            for r in with_global_ntile(
                with_range_bucket(df, F.col("v"), bucket_col="__rb"),
                [F.asc("v"), F.asc("id")],
                n_tiles,
                bucket=F.col("__rb"),
                tile_col="t",
            ).select("id", "t").collect()
        }
        assert got == want, (n_rows, n_tiles)


def test_global_cumsum_matches_window_running_sum(spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from binance_data_ingestor_spark.operators.partitioning import (
        with_global_cumsum,
        with_range_bucket,
    )

    rows = [(i, i % 7, (i * 37) % 100) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k int, v long")

    # global (empty keys) against an unpartitioned running-sum window
    w = W.orderBy("v", "id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {r["id"]: r["c"] for r in df.select("id", F.sum("v").over(w).alias("c")).collect()}
    got = {
        r["id"]: r["cum"]
        for r in with_global_cumsum(
            with_range_bucket(df, F.col("v"), bucket_col="__rb"),
            [],
            [F.asc("v"), F.asc("id")],
            "v",
            bucket=F.col("__rb"),
        ).select("id", "cum").collect()
    }
    assert got == want

    # per-key form against a partitioned window
    wk = W.partitionBy("k").orderBy("v", "id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    want_k = {r["id"]: r["c"] for r in df.select("id", F.sum("v").over(wk).alias("c")).collect()}
    got_k = {
        r["id"]: r["cum"]
        for r in with_global_cumsum(
            df, ["k"], [F.asc("v"), F.asc("id")], "v",
            bucket=(F.col("v") / 10).cast("int"),
        ).select("id", "cum").collect()
    }
    assert got_k == want_k


def test_no_duplicate_module_constants():
    """A module-level constant assigned TWICE in one queries module is
    a latent cross-query bug: oracle f-strings freeze the value in
    scope at THEIR definition line, while Spark functions read the
    final module global at call time — a later rebinding silently
    desynchronizes every earlier query that used the name (round-8
    incident: a new query's N_SHARDS = 16 rebound q150's N_SHARDS = 8;
    the full strict gate caught the mismatch, this test prevents the
    recurrence at import cost instead of gate cost)."""
    import ast
    import pathlib

    qdir = (
        pathlib.Path(__file__).resolve().parents[1]
        / "binance_data_ingestor_spark"
        / "queries"
    )
    offenders = []
    for f in sorted(qdir.glob("*.py")):
        tree = ast.parse(f.read_text())
        seen: dict[str, int] = {}
        for node in tree.body:  # top level only
            targets = []
            if isinstance(node, ast.Assign):
                targets = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                targets = [node.target.id]
            for name in targets:
                if name in ("QUERIES", "ORACLES") or name.startswith("_"):
                    continue
                if name in seen:
                    offenders.append(f"{f.name}:{node.lineno} rebinds {name} (first at :{seen[name]})")
                else:
                    seen[name] = node.lineno
    assert not offenders, offenders


def test_no_partitionless_window_construction():
    """No source file may build a Window spec with an EMPTY partition
    clause (``Window.orderBy(...)`` / ``W.orderBy(...)`` as the spec
    root): Spark plans that as ONE task over the whole input and logs
    the WindowExec degradation warning, and the round-9 sweep showed
    known-bounded uses of the pattern drowning the log (174
    warnings/sweep) so a REAL unbounded one would hide. Bounded frames
    must route through ``bounded_ordered_window`` (non-foldable
    constant partition — warning-free by construction); data-sized
    orderings through ``with_global_rank`` / ``with_global_cumsum`` /
    ``with_row_context``. The same rule for Spark-side SQL strings:
    ``OVER (ORDER BY`` without a PARTITION BY belongs only in DuckDB
    ORACLE SQL, never in a string passed to ``spark.sql`` (q177 keeps
    the spec parametrized per engine for exactly this reason)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "binance_data_ingestor_spark"
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        tree = ast.parse(f.read_text())
        # Window aliases imported in this module (W or Window)
        aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
                for a in node.names:
                    if a.name == "Window":
                        aliases.add(a.asname or a.name)
        if not aliases:
            continue
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "orderBy"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in aliases
            ):
                offenders.append(f"{f.relative_to(pkg)}:{node.lineno}")
    assert not offenders, (
        "partition-less Window.orderBy(...) construction: " + ", ".join(offenders)
    )


def test_bounded_ordered_window_equals_plain_and_survives_catalyst(spark):
    """bounded_ordered_window must (a) return exactly what the empty-
    partition spec returns for rank and running-sum frames, and (b)
    keep its constant partition through optimization — a FOLDABLE
    constant is stripped by Catalyst and the WindowExec warning comes
    back (measured: a bare lit() partition reverts to the empty spec)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from binance_data_ingestor_spark.operators.partitioning import (
        bounded_ordered_window,
    )

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 13).alias("v")
    )
    plain = W.orderBy(F.desc("v"), F.asc("id"))
    bounded = bounded_ordered_window("id", F.desc("v"), F.asc("id"))
    want = df.select(
        "id",
        F.row_number().over(plain).alias("rk"),
        F.sum("v").over(
            plain.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("cum"),
    ).collect()
    got = df.select(
        "id",
        F.row_number().over(bounded).alias("rk"),
        F.sum("v").over(
            bounded.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("cum"),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # the non-foldable constant partition must SURVIVE optimization
    out = df.select(F.row_number().over(bounded).alias("rk"))
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "pmod" in optimized and "hash" in optimized, optimized
