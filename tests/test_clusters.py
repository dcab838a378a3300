"""Connected-components duplicate clustering (clusters.py, round 6).

The recursive-CTE oracle equivalence is covered by tools/verify_oracle.py
(l2h_neardup_clusters); these tests pin the algorithm itself on known
graphs, including shapes the sf fixtures can't produce (long chains,
adversarial orderings)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datalakejson_spark.functions.clusters import (
    connected_components,
    label_components,
)


def _components(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.component for r in connected_components(df).collect()}


def _labels(spark, nodes, edges):
    """Every-node labelling: ``label_components`` over a doc_id node table
    and a (doc_a, doc_b) pair list."""
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    edges_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = label_components(nodes_df, edges_df).collect()
    return {r.doc_id: r.cluster_id for r in out}


def test_cc_basic_components(spark):
    out = _components(
        spark, [(1, 2), (2, 3), (10, 11), (12, 11), (20, 21), (21, 20)]
    )
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_label_components_long_chain_and_singletons(spark):
    """A 40-node chain (diameter 39) plus edge-less nodes: one label for the
    whole chain, self-labels for the singletons. Min-label propagation
    needs one round per hop and gave up on this graph."""
    chain = [(i, i + 1) for i in range(39)]
    singletons = (100, 101, 102)
    out = _labels(spark, list(range(40)) + list(singletons), chain)
    assert out == {**{i: 0 for i in range(40)}, **{s: s for s in singletons}}


def test_cc_long_chain_converges_fast(spark):
    """A 64-node chain has diameter 63; star contraction must resolve it
    well inside the max_iter=20 guard (label propagation could not)."""
    out = _components(spark, [(i, i + 1) for i in range(63)])
    assert len(out) == 64 and set(out.values()) == {0}


def test_cc_descending_chain_and_duplicate_edges(spark):
    """Edge direction and duplicates must not matter: the same chain given
    high→low, with every edge doubled and some self-loops."""
    edges = [(i + 1, i) for i in range(20)]
    edges += edges + [(5, 5), (7, 7)]
    out = _components(spark, edges)
    assert len(out) == 21 and set(out.values()) == {0}


def test_cc_min_label_is_component_min(spark):
    """The label is the component MINIMUM even when the min is a leaf
    attached last — keeper selection depends on this."""
    out = _components(spark, [(50, 40), (40, 30), (30, 7)])
    assert out == {50: 7, 40: 7, 30: 7, 7: 7}


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_single_edge(spark):
    assert _components(spark, [(9, 3)]) == {9: 3, 3: 3}


def test_cc_two_cliques_bridged(spark):
    """Two 5-cliques joined by one bridge edge collapse to one component."""
    a = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    b = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    out = _components(spark, a + b + [(4, 10)])
    assert set(out.values()) == {0} and len(out) == 10


def test_l2h_cluster_invariants(spark):
    """Registered-query invariants at sf0.001: every document assigned
    exactly once; cluster_id is the min doc_id of its cluster; is_keeper
    marks exactly one doc per cluster; sizes are consistent."""
    from datalakejson_spark.functions.clusters import l2h_neardup_clusters

    rows = l2h_neardup_clusters(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len({r.doc_id for r in rows}) == 500
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.doc_id for m in members)
        assert sum(m.is_keeper for m in members) == 1
        assert all(m.cluster_size == len(members) for m in members)
    # the fixture's replica-tagged duplicates produce at least one real cluster
    assert any(len(m) > 1 for m in by_cluster.values())


def test_cc_agrees_with_transitive_closure_bruteforce(spark):
    """Cross-check the distributed algorithm against a driver-side
    union-find on a random-ish 200-edge graph."""
    import random

    rng = random.Random(6)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(200)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(80))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in edges:
        for n in (a, b):
            expected[n] = find(n)
    got = _components(spark, edges)
    assert got == expected


def test_star_cc_one_action_per_round(spark):
    """Loop-shape pin: each large/small-star round must cost ONE Spark
    action — the lazy localCheckpoint materializes inside the single
    star-forest test aggregation — not the older shape of two eager
    checkpoints + count + exceptAll (~4 jobs/round).
    Audited with AQE OFF so job ids reflect the loop's action structure,
    not AQE's per-stage job accounting."""
    from datalakejson_spark.functions.clusters import connected_components

    n = 9  # chain: worst case for round count too (star converges in O(log²))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    sc = spark.sparkContext
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("star-cc-job-count", "star CC job audit")
    try:
        out = connected_components(edges).collect()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert {r.node: r.component for r in out} == {i: 0 for i in range(n)}
    jobs = sc.statusTracker().getJobIdsForGroup("star-cc-job-count")
    # budget: ≤7 star-forest tests (chain of 9 closes in ~3 star rounds)
    # + 1 final collect; the older shape cost ~4 jobs per round and blows
    # past this bound.
    assert len(jobs) <= 8, len(jobs)
