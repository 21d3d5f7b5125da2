"""PageRank operator: correctness vs a dense numpy reference, and the
skyline query's level-compression logic vs brute-force dominance."""

from __future__ import annotations

import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from binance_data_ingestor_spark.operators.graph import CHECKPOINT_INTERVAL, pagerank


def _numpy_pagerank(edges, iterations, damping=0.85):
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    out = np.zeros(len(nodes))
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.ones(len(nodes))
    for _ in range(iterations):
        nxt = np.full(len(nodes), 1.0 - damping)
        for s, d in edges:
            nxt[idx[d]] += damping * r[idx[s]] / out[idx[s]]
        r = nxt
    return {n: r[idx[n]] for n in nodes}


def _run(spark, edges, iterations):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        row["node"]: row["rank"]
        for row in pagerank(df, iterations=iterations).collect()
    }
    want = _numpy_pagerank(edges, iterations)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-9), n
    return got


def test_pagerank_star(spark):
    # undirected star: hub 0 <-> leaves 1..4; hub rank must dominate
    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    got = _run(spark, edges, iterations=3)
    assert got[0] > got[1]
    assert got[1] == pytest.approx(got[4])


def test_pagerank_random_graph_matches_numpy(spark):
    rng = random.Random(42)
    base = {(rng.randrange(20), rng.randrange(20)) for _ in range(60)}
    edges = sorted({(s, d) for s, d in base if s != d})
    edges = sorted(set(edges) | {(d, s) for s, d in edges})  # symmetrize
    _run(spark, edges, iterations=4)
    # past CHECKPOINT_INTERVAL rounds: eagerly checkpointed edges and a
    # rank checkpoint after round 5
    assert 7 > CHECKPOINT_INTERVAL
    _run(spark, edges, iterations=7)


def test_pagerank_total_mass_conserved(spark):
    # symmetric graph, no dangling nodes: Σrank stays ≈ node count
    edges = [(i, (i + 1) % 6) for i in range(6)]
    edges += [(d, s) for s, d in edges]
    got = _run(spark, sorted(set(edges)), iterations=5)
    assert sum(got.values()) == pytest.approx(len(got), rel=1e-9)


def _brute_skyline(points):
    # keep p unless some q has (price<=, size>=) with one strict
    out = []
    for i, (pp, ps) in enumerate(points):
        dominated = any(
            (qp <= pp and qs >= ps and (qp < pp or qs > ps))
            for j, (qp, qs) in enumerate(points)
            if j != i
        )
        if not dominated:
            out.append((pp, ps))
    return sorted(out)


def test_skyline_matches_bruteforce(spark):
    from pyspark.sql import Window as W

    rng = random.Random(7)
    pts = [(rng.randrange(100), rng.randrange(50)) for _ in range(300)]
    df = spark.createDataFrame(
        [(i, p, s) for i, (p, s) in enumerate(pts)], "id long, price long, size long"
    )
    lvl = df.groupBy("price").agg(F.max("size").alias("msize"))
    w = W.orderBy("price").rowsBetween(W.unboundedPreceding, -1)
    run = lvl.withColumn("prev", F.max("msize").over(w))
    got = sorted(
        (r["price"], r["size"])
        for r in df.join(run, "price")
        .filter(
            (F.col("size") == F.col("msize"))
            & (F.col("prev").isNull() | (F.col("size") > F.col("prev")))
        )
        .collect()
    )
    assert got == _brute_skyline(pts)


def test_kcore_matches_python_peel(spark):
    """k_core vs a brute-force Python peel on random graphs — node set
    AND in-core degrees must match for several (graph, k) combos."""
    import random

    from binance_data_ingestor_spark.operators.graph import k_core

    for seed, k in [(1, 2), (2, 3), (3, 4)]:
        rng = random.Random(seed)
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(60), rng.randrange(60)) for _ in range(150)
                )
                if a != b
            }
        )
        # python reference: iterative peel to fixpoint
        cur = set(edges)
        while True:
            deg = {}
            for u, v in cur:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            nxt = {(u, v) for u, v in cur if u in keep and v in keep}
            if nxt == cur:
                break
            cur = nxt
        want_deg = {}
        for u, v in cur:
            want_deg[u] = want_deg.get(u, 0) + 1
            want_deg[v] = want_deg.get(v, 0) + 1

        df = spark.createDataFrame(edges, "u long, v long")
        got = {r.n: r.core_deg for r in k_core(df, k).collect()}
        assert got == want_deg, f"seed={seed} k={k}"


def test_kcore_raises_when_peel_exceeds_round_guard(spark, monkeypatch):
    from binance_data_ingestor_spark.operators import graph

    # a 2-core peel of a path takes 3 rounds; the guard allows 1
    monkeypatch.setattr(graph, "K_CORE_MAX_ROUNDS", 1)
    df = spark.createDataFrame([(i, i + 1) for i in range(4)], "u long, v long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        graph.k_core(df, 2)


# --------------------------------------------------------------------------
# Label propagation: deterministic majority/min-tie-break semantics vs a
# pure-Python synchronous reference, plus the canonical two-cliques case.
# --------------------------------------------------------------------------
def _python_lpa(edges, rounds):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    lab = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = {}
            for m in nbrs:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            nxt[n] = best[0]
        lab = nxt
    return lab


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge collapse to exactly two
    communities, each labeled by its smallest member."""
    from binance_data_ingestor_spark.operators.graph import label_propagation

    clique = lambda ns: [(a, b) for a in ns for b in ns if a < b]
    edges = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.node: r.community for r in label_propagation(df, 4).collect()}
    assert got == _python_lpa(edges, 4)
    assert {got[n] for n in (0, 1, 2)} == {0}
    assert {got[n] for n in (11, 12, 13)} == {10}


def test_label_propagation_matches_python_reference_randomized(spark):
    from binance_data_ingestor_spark.operators.graph import label_propagation

    for seed, rounds in [(7, 1), (13, 3), (42, 4)]:
        rng = random.Random(seed)
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(40), rng.randrange(40)) for _ in range(90)
                )
                if a != b
            }
        )
        df = spark.createDataFrame(edges, "u long, v long")
        got = {
            r.node: r.community for r in label_propagation(df, rounds).collect()
        }
        assert got == _python_lpa(edges, rounds), f"seed={seed} rounds={rounds}"


# ---------------------------------------------------------------------------
# bfs_hops
# ---------------------------------------------------------------------------


def _python_bfs(edges, sources, max_hops):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for h in range(1, max_hops + 1):
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = h
                    nxt.add(m)
        frontier = nxt
    return dist


def _run_bfs(spark, edges, sources, max_hops):
    from binance_data_ingestor_spark.operators.graph import bfs_hops

    df = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {
        row["node"]: row["hop"]
        for row in bfs_hops(df, src, max_hops).collect()
    }
    assert got == _python_bfs(edges, sources, max_hops)


def test_bfs_hops_path_graph(spark):
    # 0-1-2-3-4 chain (symmetrized): hops from {0} are the indices,
    # truncated at max_hops
    chain = [(i, i + 1) for i in range(4)]
    edges = chain + [(d, s) for s, d in chain]
    _run_bfs(spark, edges, [0], max_hops=3)


def test_bfs_hops_multi_source_takes_min(spark):
    chain = [(i, i + 1) for i in range(6)]
    edges = chain + [(d, s) for s, d in chain]
    # node 3 is 3 hops from 0 but 1 hop from 4 — min wins
    _run_bfs(spark, edges, [0, 4], max_hops=2)


def test_bfs_hops_random_graph_matches_python(spark):
    rng = random.Random(7)
    base = {(rng.randrange(30), rng.randrange(30)) for _ in range(90)}
    edges = sorted({(s, d) for s, d in base if s != d})
    edges = sorted(set(edges) | {(d, s) for s, d in edges})
    sources = [0, 7, 13]
    _run_bfs(spark, edges, sources, max_hops=3)


def test_bfs_hops_duplicate_sources_dedup(spark):
    edges = [(0, 1), (1, 0), (1, 2), (2, 1)]
    from binance_data_ingestor_spark.operators.graph import bfs_hops

    df = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(0,), (0,)], "node long")
    rows = bfs_hops(df, src, 2).collect()
    assert sorted((r["node"], r["hop"]) for r in rows) == [
        (0, 0),
        (1, 1),
        (2, 2),
    ]
