"""connected_components (operators/dedup.py): min-label propagation.

The near-dup clustering step — pairwise similarity edges in, dedup
groups out. Covers the shapes that stress the iteration: multiple
separate clusters, a long chain (diameter ≫ 1, forces several
propagation rounds), an empty edge set, and the round guard.
"""

import pytest
from pyspark.sql import functions as F

from binance_data_ingestor_spark.operators.dedup import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df).collect()
    return {r["doc_id"]: r["cluster_id"] for r in rows}


def test_two_clusters(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # path 1-2-3-...-9: diameter 8, worst case for min-label propagation
    got = _cc(spark, [(i, i + 1) for i in range(1, 9)])
    assert got == {i: 1 for i in range(1, 10)}


def test_chain_reversed_ids(spark):
    # min id at the far end of the chain; labels must flow the long way
    got = _cc(spark, [(9 - i, 10 - i) for i in range(1, 9)])
    assert got == {i: 1 for i in range(1, 10)}


def test_clique_single_round(spark):
    got = _cc(spark, [(1, 2), (1, 3), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_empty_edges(spark):
    df = (
        spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        .filter(F.col("id_a") < 0)
    )
    assert connected_components(df).count() == 0


def test_raises_when_unconverged_after_round_guard(spark, monkeypatch):
    from binance_data_ingestor_spark.operators import dedup

    # a 9-node path needs several rounds; the guard allows 1
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        dedup.connected_components(df)
