"""Interleaved A/B micro-bench for candidate query optimizations.

Variant pairs run in ONE session, alternating A/B/A/B so position/thermal
noise cancels, min-of-N via the noop sink, and a collect-and-compare
equality gate BEFORE timing so a fast-but-wrong variant can never look good.
Cases are named by the query they measure (g6, cc, l2g); their results are
recorded in OPTIMIZATION_r16.md.

Usage: python tools/ab.py <case> [sf_dir] [reps]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F

from datalakejson_spark.registry import all_specs
from datalakejson_spark.session import get_spark
from datalakejson_spark.sources.tables import load_table


def timed(spark, label, fn, sf_dir, reps):
    outs = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        outs.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
    return outs


def rows_equal(spark, a_fn, b_fn, sf_dir) -> None:
    a = a_fn(spark, sf_dir)
    b = b_fn(spark, sf_dir)
    sa = [(f.name, f.dataType) for f in a.schema.fields]
    sb = [(f.name, f.dataType) for f in b.schema.fields]
    assert sa == sb, f"schema mismatch:\nA={a.schema}\nB={b.schema}"

    def k(row):
        return tuple((v is None, v) for v in row)

    ra = sorted(map(tuple, a.collect()), key=k)
    rb = sorted(map(tuple, b.collect()), key=k)
    assert ra == rb, (
        f"rows differ: {len(ra)} vs {len(rb)}; first diff: "
        f"{next(((x, y) for x, y in zip(ra, rb) if x != y), None)}"
    )
    print(f"  results equal ({len(ra)} rows)")


def ab(spark, name, a_fn, b_fn, sf_dir, reps=5, check=True):
    print(f"== {name} @ {sf_dir}")
    if check:
        rows_equal(spark, a_fn, b_fn, sf_dir)
    ta, tb = [], []
    timed(spark, f"{name}:warmA", a_fn, sf_dir, 1)
    timed(spark, f"{name}:warmB", b_fn, sf_dir, 1)
    for _ in range(reps):
        ta += timed(spark, f"{name}:A", a_fn, sf_dir, 1)
        tb += timed(spark, f"{name}:B", b_fn, sf_dir, 1)
    print(f"  A(base): min={min(ta):.3f} all={[round(t, 3) for t in ta]}")
    print(f"  B(opt):  min={min(tb):.3f} all={[round(t, 3) for t in tb]}")
    print(f"  speedup min/min: {min(ta) / min(tb):.2f}x")


# ---------------------------------------------------------------- variants --

from datalakejson_spark.operators.deterministic import SCALE, ds_expr


def _g6_native(spark, sf_dir):
    """Pre-r15 form: native ROLLUP (Expand 3x every input row)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup(
        F.expr("year(l_shipdate)").alias("year"),
        F.expr("month(l_shipdate)").alias("month"),
    ).agg(ds_expr("l_extendedprice").alias("gross"), F.count("*").alias("n_rows"))


def _g6_rollup_over_finest(spark, sf_dir):
    """Candidate: ONE scan structurally (single lineage, no union, no
    reliance on runtime ReusedExchange): aggregate to the finest
    (year, month) grain first — scaled-int sums stay scaled — then a native
    rollup over the ~84-row finest re-derives all three levels. The Expand
    multiplies 84 rows, not the fact table. Bit-identical: integer sums are
    associative, and rollup-of-sums over a grain equal to the rollup's
    finest grouping set reproduces ROLLUP over the raw rows exactly
    (including NULL-shipdate rows, which form their own finest group)."""
    li = load_table(spark, sf_dir, "lineitem")
    finest = li.groupBy(
        F.expr("year(l_shipdate)").alias("year"),
        F.expr("month(l_shipdate)").alias("month"),
    ).agg(
        F.expr(f"sum(CAST(round(l_extendedprice * {SCALE}.0) AS BIGINT))").alias(
            "_gs"
        ),
        F.count("*").alias("_n"),
    )
    return finest.rollup("year", "month").agg(
        (F.sum("_gs").cast("double") / float(SCALE)).alias("gross"),
        F.sum("_n").alias("n_rows"),
    )


def case_g6(spark, sf_dir, reps):
    base = all_specs()["g6_rollup_time_hierarchy"].fn
    ab(spark, "g6 union(r15) vs rollup-over-finest", base,
       _g6_rollup_over_finest, sf_dir, reps)
    ab(spark, "g6 union(r15) vs native rollup", base, _g6_native, sf_dir, reps)
    ab(spark, "g6 native vs rollup-over-finest", _g6_native,
       _g6_rollup_over_finest, sf_dir, reps)


# --- connected components (l2h star loop) ----------------------------------


def _cc_star_r15(edges, src="src", dst="dst", max_iter=20):
    """The PRE-r16 clusters.connected_components, inlined as the A/B base:
    symmetric loop state (per-round _symmetric().distinct() passes), two
    eager localCheckpoints per round, convergence via count + exceptAll."""

    def symmetric(e):
        e = e.filter(F.col("u") != F.col("v"))
        return e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()

    def large_star(adj):
        mins = adj.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("u"), F.col("mv"))
        return (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(adj):
        oriented = adj.filter(F.col("v") < F.col("u"))
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        joined = oriented.join(mins, "u")
        to_min = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_link = mins.select("u", F.col("m").alias("v"))
        return to_min.union(self_link).filter(F.col("u") != F.col("v")).distinct()

    adj = symmetric(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint()
    for _ in range(max_iter):
        stars = small_star(symmetric(large_star(adj))).localCheckpoint()
        new_adj = symmetric(stars).localCheckpoint()
        if new_adj.count() == adj.count() and new_adj.exceptAll(adj).isEmpty():
            adj = new_adj
            break
        adj = new_adj
    else:
        raise RuntimeError("no convergence")
    members = (
        adj.filter(F.col("v") < F.col("u"))
        .groupBy("u")
        .agg(F.min("v").alias("component"))
        .select(F.col("u").alias("node"), "component")
    )
    roots = (
        members.select(F.col("component").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    return members.union(roots)


def _l2h_r15_base(spark, sf_dir):
    from pyspark.sql import Window

    from datalakejson_spark.functions.dedup import l2g_verified_neardup_pairs
    from datalakejson_spark.sources.tables import spread_scan

    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = l2g_verified_neardup_pairs(spark, sf_dir)
    comp = _cc_star_r15(pairs, src="doc_a", dst="doc_b")
    assigned = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    )
    size_w = Window.partitionBy("cluster_id")
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(size_w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def case_cc(spark, sf_dir, reps):
    specs = all_specs()
    # floor: the pair stage alone (shared by base and candidate)
    pair_fn = specs["l2g_verified_neardup_pairs"].fn
    t = timed(spark, "l2g floor", pair_fn, sf_dir, 3)
    print(f"l2g pair stage alone: min={min(t):.3f} all={[round(x,3) for x in t]}")
    ab(spark, "l2h r15-CC(base) vs r16 canonical+fused", _l2h_r15_base,
       specs["l2h_neardup_clusters"].fn, sf_dir, reps)


# --- l2g verify-stage pruning ----------------------------------------------


def _l2g_pruned(spark, sf_dir):
    """Candidate: compute the verify-stage shingle sets ONLY for documents
    that actually appear in a candidate pair. The base shape evaluates
    shingle_sets over the WHOLE corpus twice (sa and sb are separate
    lineages under broadcast joins — no exchange, so no ReuseExchange);
    at 100 TB that is two full corpus shingle passes to verify ~0.1% of
    docs. The candidate set is lazily checkpointed so its LSH pipeline
    executes once even though three consumers reference it."""
    import pyspark.sql.functions as F

    from datalakejson_spark.functions.dedup import (
        JACCARD_DUP_THRESHOLD,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )
    from datalakejson_spark.sources.tables import spread_scan

    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    candidates = lsh_candidate_pairs(minhash_signatures(docs)).localCheckpoint(
        eager=False
    )
    cand_ids = (
        candidates.selectExpr("doc_a AS doc_id")
        .union(candidates.selectExpr("doc_b AS doc_id"))
        .distinct()
    )
    sets = shingle_sets(docs.join(cand_ids, "doc_id", "leftsemi"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)).cast("double")
    jac = inter / union
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_DUP_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def case_l2g(spark, sf_dir, reps):
    specs = all_specs()
    ab(spark, "l2g verify pruned to candidate ids",
       specs["l2g_verified_neardup_pairs"].fn, _l2g_pruned, sf_dir, reps)


CASES = {"g6": case_g6, "cc": case_cc, "l2g": case_l2g}


def main():
    case = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_spark("ab-r16")
    CASES[case](spark, sf_dir, reps)
    spark.stop()


if __name__ == "__main__":
    main()
