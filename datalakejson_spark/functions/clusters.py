"""Duplicate-cluster resolution: distributed connected components (L2+).

Near-dup PAIRS (l2_minhash_lsh_pairs / l2f_simhash_pairs /
l2g_verified_neardup_pairs) are only half of deduplication: when A~B and
B~C, keeping "one of each pair" would still keep two of the {A,B,C}
cluster. This module closes that gap with the alternating
large-star/small-star connected-components algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) expressed in
pure DataFrame ops, then a cluster-level keeper selection. It is the
package's one connected-components implementation: l2h here, and l2e and
``prepare_training_corpus`` in llm_pipeline.py, all label documents
through ``label_components``.

Why this algorithm at 100 TB: each round is two windows over node id (one
exchange each, no join) plus one distinct, and the edge set shrinks
monotonically toward a star forest, converging in O(log²ⁿ) rounds (2-4 in
practice for near-dup graphs, whose components are shallow). Label
propagation by contrast needs O(diameter) rounds, and a 100 TB duplicate
CHAIN (a→b→c→...) has unbounded diameter. The loop stops as soon as the
canonical edge set is a star forest (no node is the member of two edges,
no member is also a root) — one aggregation, applied before the first
round and after each round. Each round ends in one lazy
``localCheckpoint`` (materialized by that test's job) — the iterated plan
would otherwise grow a lineage of 2ᵏ self-joins (same trap as
incremental_dedup's self-referencing append).

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
from pyspark.sql import DataFrame, SparkSession, Window

from datalakejson_spark.functions.dedup import _L2G_SQL
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table, spread_scan


def _canonical(edges: DataFrame) -> DataFrame:
    """Each undirected edge exactly once, oriented large→small (u > v),
    self-loops dropped, deduped — the loop-state representation. The
    symmetric view ``_star_stats`` annotates is a plain union of the two
    orientations, which needs NO distinct: the orientations are disjoint
    by construction."""
    e = edges.filter(F.col("u") != F.col("v"))
    return e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()


def _star_stats(adj_c: DataFrame) -> DataFrame:
    """The symmetric view of the canonical edge set, each row annotated with
    its ``u``'s neighbourhood: ``mv`` = min neighbour, ``n_small`` = number
    of smaller neighbours, ``n_large`` = number of larger ones. One window
    over ``u`` — one exchange — feeds both the star-forest test and the
    next large-star round."""
    adj = adj_c.union(adj_c.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return adj.select(
        "u",
        "v",
        F.min("v").over(w).alias("mv"),
        F.sum((F.col("v") < F.col("u")).cast("int")).over(w).alias("n_small"),
        F.sum((F.col("v") > F.col("u")).cast("int")).over(w).alias("n_large"),
    )


def _is_star_forest(stats: DataFrame) -> bool:
    """True iff the canonical edge set behind ``stats`` is a star forest:
    no node is the member side of two edges (two smaller neighbours), and
    no member is also a root (a member with a larger neighbour)."""
    n_small, n_large = F.col("n_small"), F.col("n_large")
    bad = (n_small > 1) | ((n_small == 1) & (n_large > 0))
    return not stats.agg(F.max(bad)).first()[0]


def _large_star(stats: DataFrame) -> DataFrame:
    """Large-star round: every node u links each STRICTLY LARGER neighbour v
    to m(u) = min(Γ(u) ∪ {u}). Output is canonical — (v, m) with m ≤ u < v —
    but not deduplicated: the small-star round's min ignores duplicates and
    its own distinct removes them."""
    return stats.filter(F.col("v") > F.col("u")).select(
        F.col("v").alias("u"), F.least("u", "mv").alias("v")
    )


def _small_star(oriented: DataFrame) -> DataFrame:
    """Small-star round over a canonical (u > v) edge list: every node u
    links its smaller neighbours — and itself — to m(u) = min(N≤(u) ∪ {u}).
    Output is the canonical, deduplicated edge set: both legs emit (x, m)
    with m strictly below x after the self-loop filter."""
    x = oriented.select("u", "v", F.min("v").over(Window.partitionBy("u")).alias("m"))
    to_min = x.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_link = x.select("u", F.col("m").alias("v"))
    return to_min.union(self_link).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Connected components over an undirected edge list: returns
    ``(node, component)`` for every node incident to an edge, where
    ``component`` is the minimum node id in the component. Isolated nodes
    (no edges) are absent — ``label_components`` gives every node of a
    node table its label.

    Alternates large-star/small-star until the canonical edge set is a
    star forest (every member points at its component min). ``max_iter``
    is a diverged-input guard, not a tuning knob — the algorithm provably
    converges in O(log² n) rounds.

    Loop shape: one lazily checkpointed ``_star_stats`` per round,
    materialized by the round's only action, the star-forest test; the
    next large-star round reads the same checkpoint. The test is exact as
    a stop rule: a star forest is a fixpoint of
    ``_small_star(_large_star(·))``, and that fixpoint is a star forest,
    so stopping at the first star forest yields the same labels as
    iterating to set equality — one round sooner, and with zero rounds
    for inputs that are already stars (disjoint pairs). The upstream edge
    list is computed once, inside the first test's job."""
    adj = _canonical(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    rounds = 0
    while True:
        stats = _star_stats(adj).localCheckpoint(eager=False)
        if _is_star_forest(stats):
            break
        if rounds == max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        adj = _small_star(_large_star(stats))
        rounds += 1
    # star forest: each member u has exactly one smaller neighbour, its root
    members = stats.filter(F.col("v") < F.col("u")).select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
    roots = stats.filter(F.col("n_small") == 0).select(
        F.col("u").alias("node"), F.col("u").alias("component")
    ).distinct()
    return members.union(roots)


def label_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """``(doc_id, cluster_id)`` for EVERY row of ``nodes`` (a ``doc_id``
    table): the min doc_id of its connected component over ``edges`` (a
    ``doc_a``/``doc_b`` pair list, as every pair producer emits), or its own
    id when no edge touches it. Only edge-incident nodes enter the star
    loop — in a near-dup corpus a small fraction of all documents — and
    singletons get their self-label in one left join (broadcastable
    whenever the duplicate subset is small relative to the corpus). Edge
    endpoints absent from ``nodes`` are dropped."""
    comp = connected_components(edges, src="doc_a", dst="doc_b")
    return (
        nodes.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    )


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
    loop), converging in O(log² n) rounds; the final assignment
    (``label_components``) is one left join from documents onto the label
    table.
    Oracle: DuckDB computes identical labels via a recursive min-label
    transitive-closure CTE over the same pairs."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    from datalakejson_spark.functions.dedup import l2g_verified_neardup_pairs

    pairs = l2g_verified_neardup_pairs(spark, sf_dir)
    assigned = label_components(docs, pairs)
    size_w = Window.partitionBy("cluster_id")
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(size_w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )
