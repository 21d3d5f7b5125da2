"""Distributed graph propagation operators (PageRank-style).

Complements ``operators/dedup.connected_components`` (the other
iterative-graph op in this engine): CC converges a label fixpoint,
PageRank runs a FIXED number of damped propagation rounds, so the
result is deterministic and DuckDB-oracle-checkable by unrolling the
iterations as chained CTEs.

Scale design (100 TB / 1000 executors):
- The edge list is the big side. It is hash-partitioned by ``src``
  once; how that layout is REUSED across rounds depends on the run
  length (round-11 measurement): ``localCheckpoint(eager=True)`` comes
  back as ``UnknownPartitioning(0)`` under AQE, forcing every round to
  re-Exchange AND re-Sort the edges, so for short fixed-round runs
  (``iterations <= CHECKPOINT_INTERVAL`` — one final job) the
  repartitioned edge list stays LAZY and AQE shuffle-stage reuse
  materializes its exchange once. For long runs the periodic ranks
  checkpoint splits the run into one job per interval — stage reuse
  does not span jobs — so there the edges ARE eagerly checkpointed and
  each round pays one (rank-sized) shuffle on top of the checkpoint
  scan. Either way each iteration shuffles only the rank vector
  (O(nodes), small), never re-reads the raw edge input.
- Out-degrees are folded into the edge list up front
  (``weight = 1/outdeg``), so the per-round join is a single
  equi-join + groupBy — two narrow stages per round.
- Ranks are localCheckpoint'ed every ``CHECKPOINT_INTERVAL`` rounds,
  NOT every round: each round's output feeds exactly one consumer, so
  a lazy chain evaluates each stage once in a single job — eager
  per-round checkpoints would serialize the run into one job per
  round (measured 2-3× slower at 3 iterations). The periodic
  checkpoint only bounds plan/lineage depth for large iteration
  counts (the connected-components lesson applies there).

The reference never computes graph metrics; this is a north-star
addition (SURVEY §2.9) for corpus curation — rank domains/hosts by
link structure before sampling training data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
# rounds between rank/label checkpoints in pagerank and label_propagation
CHECKPOINT_INTERVAL = 5
# k_core raises rather than peel for more rounds than this
K_CORE_MAX_ROUNDS = 64


def _shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def pagerank(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration PageRank on a directed (src, dst) edge list.

    Every node is assumed to have out-degree ≥ 1 (symmetrize the edge
    list for undirected graphs — then dangling-mass redistribution is
    unnecessary and the formula stays the portable
    ``r' = (1-d) + d * Σ_in r/outdeg``). Returns (node, rank).
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # fold 1/outdeg into the edges once; repartition by src so each
    # round's join reuses this layout instead of re-shuffling edges.
    #
    # Materialization policy (round-11 measurement): an EAGER
    # localCheckpoint here is a pessimization for short fixed-round
    # runs — under AQE the checkpointed RDD comes back as
    # UnknownPartitioning(0), so every round's join re-Exchanges AND
    # re-Sorts the edge list (3 edge shuffles for 3 rounds; measured
    # 5.7 s vs 3.2 s at sf0.1). Left lazy, the whole run is ONE job and
    # AQE's shuffle-stage reuse materializes the src-partitioned edge
    # exchange once, exactly the "edges shuffle once" design intent.
    # For LONG runs the periodic ranks checkpoint splits the run into
    # one job per interval and stage reuse does not span jobs, so there
    # the eager checkpoint pays for itself — keep it in that regime.
    weighted = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .repartition(_shuffle_partitions(edges), "src")
    )
    if iterations > CHECKPOINT_INTERVAL:
        weighted = weighted.localCheckpoint(eager=True)
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    for i in range(1, iterations + 1):
        contribs = weighted.join(
            ranks, weighted["src"] == ranks["node"], "inner"
        ).select("dst", (F.col("rank") * F.col("w")).alias("contrib"))
        ranks = (
            contribs.groupBy("dst")
            .agg(
                (
                    F.lit(1.0 - DAMPING) + F.lit(DAMPING) * F.sum("contrib")
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
        )
        if i % CHECKPOINT_INTERVAL == 0 and i < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle / wedge census of an undirected graph.

    ``edges`` must hold each undirected edge exactly once (canonical
    ``u < v``, no self-loops). Returns a 1-row DataFrame:
    ``n_edges, n_wedges, n_triangles, global_cc`` where
    ``global_cc = 3·triangles / wedges``.

    Scale design (the part that matters at 100 TB):
    - Triangles are enumerated on a **degree-ordered orientation**
      (edge points from the (degree, node)-smaller endpoint to the
      larger). Every wedge is then generated at its lowest-degree
      vertex, which bounds per-vertex work by O(arboricity) instead of
      O(max-degree²) — the classic fix for hub-key blowup in
      key-ordered enumeration. The join that closes each wedge is a
      plain equi-join Catalyst can shuffle-hash; triangle count is
      orientation-invariant, so the simpler key-ordered SQL oracle
      agrees.
    - Wedge count is computed from the degree distribution
      (Σ deg·(deg-1)/2, orientation-independent), never enumerated.
    """
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    wedge_edge_counts = deg.agg(
        F.sum(F.expr("deg * (deg - 1)") / 2).cast("long").alias("n_wedges"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
    )
    # orient: src = (deg, node)-smaller endpoint. struct comparison is
    # lexicographic, so ties on degree break deterministically by id.
    u_lt_v = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = (
        edges.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
        .select(
            F.when(u_lt_v, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_lt_v, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_lt_v, F.col("dv")).otherwise(F.col("du")).alias("dd"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = oriented.select(
        F.col("src").alias("c"),
        F.col("dst").alias("x"),
        F.col("dd").alias("dx"),
    )
    e2 = oriented.select(
        F.col("src").alias("c"),
        F.col("dst").alias("y"),
        F.col("dd").alias("dy"),
    )
    # wedges at the low vertex; emit the closing pair in (deg, node)
    # order so it matches the oriented edge list exactly once
    wedges = (
        e1.join(e2, "c")
        .filter(
            F.struct(F.col("dx"), F.col("x")) < F.struct(F.col("dy"), F.col("y"))
        )
        .select("x", "y")
    )
    closing = oriented.select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count("*").alias("n_triangles")
    )
    return (
        wedge_edge_counts.crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("global_cc"),
        )
    )


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """k-core decomposition of an undirected (u, v) edge list by
    iterative peel: repeatedly drop nodes with degree < k until a
    fixpoint; return surviving (n, core_deg).

    The third iterative-graph pattern next to PageRank (fixed rounds)
    and connected components (label propagation): here the FRONTIER
    SHRINKS monotonically, so convergence piggybacks on the edge count
    — a 1-row action per round, the same monotone-certificate trick as
    connected_components (operators/graph.py:37 / dedup.py). Each round
    is two semi-joins against the (node)-keyed survivor set plus a
    degree aggregate; per-round localCheckpoint caps lineage (STATUS
    lesson 9). Peel rounds are data-dependent (worst case O(V)); the
    ``K_CORE_MAX_ROUNDS`` guard turns a pathological chain graph into an error
    rather than an endless driver loop.
    """
    cur = edges.select("u", "v").localCheckpoint(eager=True)
    n_edges = cur.count()
    for _ in range(K_CORE_MAX_ROUNDS):
        if n_edges == 0:
            break
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        nxt = (
            cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        if n_next == n_edges:
            break
        cur, n_edges = nxt, n_next
    else:
        raise RuntimeError(f"k_core did not converge in {K_CORE_MAX_ROUNDS} rounds")
    return (
        cur.select(F.col("u").alias("n"))
        .unionAll(cur.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("core_deg"))
    )


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, made deterministic): every node starts as its own label;
    each round every node adopts the MAJORITY label among its
    neighbors, ties broken by the SMALLEST label. Returns
    (node, community) after exactly ``rounds`` synchronized rounds.

    The deterministic tie-break + fixed round count make the result
    oracle-checkable by unrolling the rounds as chained CTEs (the
    q99-PageRank / q158-k-core pattern); classic async LPA with random
    tie-breaks is not reproducible across engines, which is why this
    variant exists. ``edges`` holds each undirected edge once as
    (u, v), canonical u < v; symmetrization happens here.

    Scale design: the symmetrized edge list is partitioned by ``src``
    ONCE and localCheckpoint'ed — each round shuffles only the
    O(nodes) label vector (join on src, then a (dst, label)-keyed
    count with map-side partial aggregation, then the per-dst argmax
    as a lexicographic struct-min, also partially aggregable). Labels
    checkpoint every ``CHECKPOINT_INTERVAL`` rounds to bound lineage,
    not every round (the pagerank lesson: eager per-round checkpoints
    serialize the job chain).
    """
    fwd = edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    sym = (
        fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(_shuffle_partitions(edges), "src")
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for i in range(1, rounds + 1):
        cnt = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy("dst", "lab")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax(count) with min-label tie-break == lexicographic min
        # of (-count, label): one partially-aggregable struct-min
        labels = (
            cnt.groupBy("dst")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("lab").alias("lab"))
                ).alias("s")
            )
            .select(F.col("dst").alias("node"), F.col("s.lab").alias("lab"))
        )
        if i % CHECKPOINT_INTERVAL == 0 and i < rounds:
            labels = labels.localCheckpoint(eager=True)
    return labels.select("node", F.col("lab").alias("community"))


def bfs_hops(edges: DataFrame, sources: DataFrame, max_hops: int) -> DataFrame:
    """Multi-source BFS: minimum hop distance (≤ ``max_hops``) from any
    source node, over a directed (src, dst) edge list (symmetrize
    outside for undirected graphs). Returns (node, hop) for every node
    reachable within ``max_hops``; sources themselves carry hop 0. The 5th
    iterative-graph pattern in this engine (PageRank = damped rounds,
    k-core = monotone peel, CC = min fixpoint, LPA = majority fixpoint,
    BFS = frontier expansion).

    Min-hop distance is iteration-order independent, so the result is
    deterministic and oracle-checkable: a full-relaxation unroll
    (each round re-relaxes EVERY settled node) computes the same set —
    the frontier optimization here is pure work avoidance.

    Scale design: the edge list is hash-partitioned by ``src`` once and
    localCheckpoint'ed; each round joins only the FRONTIER (nodes first
    reached last round — O(frontier), not O(visited)) against it, so
    per-round shuffle volume tracks the BFS wave, and the anti-join
    that drops already-settled nodes is frontier × visited on node
    keys. Each round's frontier feeds two consumers (next round's join
    + the running union), so it is checkpointed eagerly — the same
    two-consumer rule the CC/pagerank operators follow.

    ``sources`` must expose a ``node`` column (deduplicated here).
    """
    relations = (
        edges.select("src", "dst")
        .repartition(_shuffle_partitions(edges), "src")
        .localCheckpoint(eager=True)
    )
    frontier = (
        sources.select("node")
        .distinct()
        .withColumn("hop", F.lit(0))
        .localCheckpoint(eager=True)
    )
    settled = [frontier]
    visited = frontier.select("node")
    for i in range(1, max_hops + 1):
        frontier = (
            relations.join(
                frontier, relations["src"] == frontier["node"], "inner"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hop", F.lit(i))
            .localCheckpoint(eager=True)
        )
        settled.append(frontier)
        visited = visited.unionAll(frontier.select("node"))
    out = settled[0]
    for part in settled[1:]:
        out = out.unionAll(part)
    return out


def edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle SUPPORT — the truss-decomposition primitive:
    support(e) = number of triangles containing e. The k-truss is the
    maximal subgraph where every edge has support ≥ k−2 after iterative
    peeling; this operator computes the first (and dominant) step, the
    exact support census, whose histogram upper-bounds every truss
    level (peeling only removes support).

    ``edges`` must hold each undirected edge exactly once (canonical
    ``u < v``, no self-loops). Returns (u, v, support) for EVERY input
    edge, support 0 included.

    Scale design: triangles are enumerated once on the same
    degree-ordered orientation as :func:`triangle_stats` (per-vertex
    wedge work bounded by O(arboricity), hub-proof), then each triangle
    is exploded to its three edges — a fixed 3× expansion of the
    TRIANGLE set, not the edge set — and counted per canonical edge
    with one map-side-combinable aggregate. Support is a per-edge
    triangle count, orientation-invariant, so the naive key-ordered SQL
    oracle agrees edge-for-edge.
    """
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    u_lt_v = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = (
        edges.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
        .select(
            F.when(u_lt_v, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_lt_v, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_lt_v, F.col("dv")).otherwise(F.col("du")).alias("dd"),
        )
        .localCheckpoint(eager=True)  # feeds wedge, closing AND canonical map
    )
    e1 = oriented.select(
        F.col("src").alias("c"), F.col("dst").alias("x"), F.col("dd").alias("dx")
    )
    e2 = oriented.select(
        F.col("src").alias("c"), F.col("dst").alias("y"), F.col("dd").alias("dy")
    )
    triangles = (
        e1.join(e2, "c")
        .filter(
            F.struct(F.col("dx"), F.col("x")) < F.struct(F.col("dy"), F.col("y"))
        )
        .join(
            oriented.select(F.col("src").alias("x"), F.col("dst").alias("y")),
            ["x", "y"],
        )
        .select("c", "x", "y")
    )
    tri_edges = triangles.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("a"), F.col("x").alias("b")),
                F.struct(F.col("c").alias("a"), F.col("y").alias("b")),
                F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
            )
        ).alias("e")
    ).select(
        F.least("e.a", "e.b").alias("u"), F.greatest("e.a", "e.b").alias("v")
    )
    sup = tri_edges.groupBy("u", "v").agg(F.count("*").alias("support"))
    return (
        edges.select("u", "v")
        .join(sup, ["u", "v"], "left")
        .select("u", "v", F.coalesce("support", F.lit(0)).alias("support"))
    )
