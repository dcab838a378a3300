"""Duplicate-cluster resolution: distributed connected components (L2+).

Near-dup PAIRS (l2_minhash_lsh_pairs / l2f_simhash_pairs /
l2g_verified_neardup_pairs) are only half of deduplication: when A~B and
B~C, keeping "one of each pair" would still keep two of the {A,B,C}
cluster. This module closes that gap with the alternating
large-star/small-star connected-components algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) expressed in
pure DataFrame ops, then a cluster-level keeper selection.

Why this algorithm at 100 TB: each round is one groupBy + one join on the
same key (node id) — Catalyst reuses the exchange — and the edge set
shrinks monotonically toward a star forest, converging in O(log²ⁿ) rounds
(2-4 in practice for near-dup graphs, whose components are shallow). Label
propagation by contrast needs O(diameter) rounds, and a 100 TB duplicate
CHAIN (a→b→c→...) has unbounded diameter. Each round ends in one lazy
``localCheckpoint`` (materialized by the round's convergence job) — the
iterated plan would otherwise grow a lineage of 2ᵏ self-joins (same trap
as incremental_dedup's self-referencing append).

The component label is the component's MINIMUM node id — deterministic,
and directly usable as the dedup keeper (min doc_id wins, matching
l1_exact_dedup's keeper_id convention).

Oracle story: connected components IS ANSI-SQL-expressible via a recursive
CTE (min-label transitive closure), so l2h gets the full hash-checked
oracle, not a rows-only check — DuckDB computes the same min-reachable-id
labels over the same verified-pair edges.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.functions.dedup import _L2G_SQL
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table, spread_scan


def _canonical(edges: DataFrame) -> DataFrame:
    """Each undirected edge exactly once, oriented large→small (u > v),
    self-loops dropped, deduped — the loop-state representation. The
    symmetric view both star rounds consume is derived per round by a
    plain union of the two orientations, which needs NO distinct: the
    orientations are disjoint by construction (r16, guide §2.4)."""
    e = edges.filter(F.col("u") != F.col("v"))
    return e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()


def _large_star(adj_c: DataFrame) -> DataFrame:
    """Large-star round over the CANONICAL edge set: every node u links each
    STRICTLY LARGER neighbor v to m(u) = min(Γ(u) ∪ {u}). Output is again
    canonical — the emitted edge is (v, m) with m ≤ u < v."""
    adj = adj_c.union(adj_c.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = adj.groupBy("u").agg(F.min("v").alias("mv"))
    m = F.least(F.col("u"), F.col("mv"))
    return (
        adj.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(oriented: DataFrame) -> DataFrame:
    """Small-star round: the canonical (large→small) orientation is exactly
    the view this round keys by — every node u links its smaller neighbors
    — and itself — to m(u) = min(N≤(u) ∪ {u}). Output is canonical: both
    legs emit (x, m) with m strictly below x after the self-loop filter."""
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(mins, "u")
    to_min = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_link = mins.select("u", F.col("m").alias("v"))
    return (
        to_min.union(self_link).filter(F.col("u") != F.col("v")).distinct()
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Connected components over an undirected edge list: returns
    ``(node, component)`` for every node incident to an edge, where
    ``component`` is the minimum node id in the component. Isolated nodes
    (no edges) are absent — callers union them back as singletons.

    Alternates large-star/small-star until the edge set reaches its
    fixpoint (a star forest: every node points at its component min).
    ``max_iter`` is a diverged-input guard, not a tuning knob — the
    algorithm provably converges in O(log² n) rounds.

    r16 loop shape (guide §2.4/§1.2, VERDICT r15 item 3): the loop state is
    the CANONICAL (u > v) edge set — both star outputs are canonically
    oriented already, so the old per-round ``_symmetric().distinct()``
    passes (2 extra shuffles/round) were re-deduplicating sets that were
    disjoint by construction. One LAZY ``localCheckpoint`` per round (was:
    two eager ones = two extra jobs) materializes inside the convergence
    job, and convergence itself is ONE tagged-union aggregation — two
    distinct sets are equal iff no (u, v) row's +1/−1 tags fail to cancel —
    replacing the count job + exceptAll job (exceptAll alone shuffled both
    sides). Same fixpoint condition, exactly (set equality either way).
    Measured on the l2g pair graph: CC stage 1.57× sf0.1 / see
    OPTIMIZATION_r16.md for tiers (tools/ab.py cc)."""
    adj = _canonical(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint()
    for _ in range(max_iter):
        new_adj = _small_star(_large_star(adj)).localCheckpoint(eager=False)
        # fixpoint: set equality of the canonical edge sets, decided in ONE
        # aggregation (both inputs are distinct-deduped, so equal ⟺ every
        # (u,v) appears in both ⟺ the +1/−1 tags cancel everywhere); the
        # lazy checkpoint above materializes inside this same job.
        diff = (
            new_adj.select("u", "v", F.lit(1).alias("t"))
            .unionAll(adj.select("u", "v", F.lit(-1).alias("t")))
            .groupBy("u", "v")
            .agg(F.sum("t").alias("s"))
            .filter(F.col("s") != 0)
        )
        converged = diff.isEmpty()
        adj = new_adj
        if converged:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # converged star forest: every non-root points directly at the root
    # (canonical set: u is the member, v the smaller root)
    members = (
        adj.groupBy("u")
        .agg(F.min("v").alias("component"))
        .select(F.col("u").alias("node"), "component")
    )
    roots = (
        members.select(F.col("component").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    return members.union(roots)


_L2H_SQL = f"""
    WITH RECURSIVE pairs AS ({_L2G_SQL}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lbl) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        WHERE r.lbl < e.dst
    ),
    comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    assigned AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           CAST(doc_id = cluster_id AS BOOLEAN) AS is_keeper
    FROM assigned
"""


@register("l2h_neardup_clusters", survey="L2,J5,W3", extended=True, sql=_L2H_SQL)
def l2h_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level near-dup resolution, end to end: verified near-dup
    pairs (the l2g two-stage LSH→exact-Jaccard pipeline) become the edge
    list for large-star/small-star connected components; every document
    gets a cluster id (its component's min doc_id; singletons cluster with
    themselves), a cluster size, and a keeper flag (min doc_id per
    cluster). Downstream dedup is then one filter: ``is_keeper``.

    Scale: the pair stage is O(LSH collisions); the CC stage shuffles only
    the EDGE LIST (two bigint columns — document text never enters the
    loop), converging in O(log² n) rounds; the final assignment is one
    left join from documents onto the label table, broadcastable whenever
    the duplicate subset is small relative to the corpus (the usual case).
    Oracle: DuckDB computes identical labels via a recursive min-label
    transitive-closure CTE over the same pairs."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    from datalakejson_spark.functions.dedup import l2g_verified_neardup_pairs

    pairs = l2g_verified_neardup_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    assigned = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    from pyspark.sql import Window

    size_w = Window.partitionBy("cluster_id")
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(size_w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )
