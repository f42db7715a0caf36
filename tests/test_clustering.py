"""connected_components convergence tests.

The near-dup pair graphs in TESTDATA are almost all 2-cliques, which
converge in one round — these tests force multi-round propagation (chains)
and check against a pure-Python union-find on random graphs.
"""

from __future__ import annotations

import random

import pytest

from flink_big_query_connector_spark.operators.dedup import connected_components


def _cc_reference(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r.doc_id: r.cluster_id for r in connected_components(df).collect()
    }


def test_chain_converges_to_min_label(spark):
    # 0-1-2-3-4-5: diameter 5 forces several propagation rounds
    edges = [(i, i + 1) for i in range(5)]
    got = _run(spark, edges)
    assert got == {i: 0 for i in range(6)}


def test_two_components_and_a_clique(spark):
    edges = [(1, 2), (2, 3), (1, 3), (10, 11)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_random_graphs_match_union_find(spark):
    # fixed-seed random graphs (a hypothesis sweep costs minutes of Spark
    # jobs; three seeded graphs cover mixed component shapes)
    rng = random.Random(7)
    for _ in range(3):
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(16), 2)))
                for _ in range(rng.randint(5, 20))
            }
        )
        assert _run(spark, edges) == _cc_reference(edges)


def test_empty_pair_graph_yields_empty_labels(spark):
    # r13 round structure: round 1 is a bare aggregate over the edge list
    # and the fused convergence check must see changed == 0 immediately
    # on an empty graph (no propagate-join round is ever built)
    assert _run(spark, []) == {}


def test_duplicate_and_reversed_pairs_collapse(spark):
    # the directed-edge distinct must make (a,b), (b,a) and repeats one
    # edge; labels still converge to the min id in one round
    edges = [(5, 2), (2, 5), (5, 2), (7, 9)]
    got = _run(spark, edges)
    assert got == {2: 2, 5: 2, 7: 7, 9: 7}


def test_deep_chain_multi_level_merge(spark, monkeypatch):
    """Force the r14 union-find funnel through several merge levels
    (fan=2 -> 32-way parallelism funnels 16 -> 8 -> 4 -> 2 -> 1) on a
    long chain — the diameter-shaped graph the old min-label propagation
    was worst at.  The funnel's level count is fixed at plan time, so a
    200-node chain and a 2-clique cost the same number of passes."""
    from flink_big_query_connector_spark.operators import dedup as d

    monkeypatch.setattr(d, "CC_MERGE_FAN", 2)
    edges = [(i, i + 1) for i in range(200)]
    got = _run(spark, edges)
    assert got == {i: 0 for i in range(201)}


def test_lsh_neardup_pairs_subset_of_exact_with_recall(spark):
    """The banded-LSH near-dup pair set must be a SUBSET of the exact
    all-pairs ground truth (no false positives survive the cosine
    verify), and on the high-similarity regime (cos >= 0.7, where the
    banded contract promises most of its recall) it must find a clear
    majority of the true pairs."""
    from flink_big_query_connector_spark.operators import dedup, similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b, r.cos)
        for r in dedup.embedding_neardup_pairs(
            emb, "vec_id", "embedding", 0.4
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos)
        for r in similarity.embedding_neardup_pairs_lsh(
            emb, "vec_id", "embedding", 0.4
        ).collect()
    }
    assert lsh <= exact
    hi_exact = {p for p in exact if p[2] >= 0.7}
    if hi_exact:
        hi_found = {p for p in lsh if p[2] >= 0.7}
        assert len(hi_found) >= 0.5 * len(hi_exact), (
            len(hi_found), len(hi_exact))


def test_single_slot_session_merges_across_partitions(spark, monkeypatch):
    """At ``defaultParallelism == 1`` there are no merge levels, but level
    1 still runs per input partition: the single-task pass must fuse a
    chain whose edges sit in different partitions."""
    from pyspark import SparkContext

    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: 1)
    )
    edges = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(4)
    assert df.rdd.getNumPartitions() >= 2
    got = {r.doc_id: r.cluster_id for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(9)}


def test_non_integral_ids_raise(spark):
    df = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    with pytest.raises(TypeError, match="integral"):
        connected_components(df)
    ints = spark.createDataFrame([(1, 2)], "id_a int, id_b short")
    got = {r.doc_id: r.cluster_id for r in connected_components(ints).collect()}
    assert got == {1: 1, 2: 1}
