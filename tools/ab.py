"""Interleaved A/B micro-bench for candidate query optimizations.

Variant pairs run in ONE session, alternating A/B then B/A so
position/thermal noise cancels, min-of-N via the noop sink, and a collect-and-compare
equality gate BEFORE timing so a fast-but-wrong variant can never look good.
Cases are named by the query they measure (g6, cc, l2g).

The cc case times the registered l2e and l2h queries of this checkout (B)
against the same queries of a BASE checkout (A) — any other commit of
this repository, exported to its own directory, for example
``git archive <rev> | tar -x -C <base_dir>``. The base package is imported
under its own name in a private ``sys.modules`` swap (``base_specs``), so
both versions run in the same session.

Usage: python tools/ab.py <case> [sf_dir] [reps] [base_dir]
"""

from __future__ import annotations

import statistics
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
    for i in range(reps):  # alternate which side runs first
        if i % 2:
            tb += timed(spark, f"{name}:B", b_fn, sf_dir, 1)
        ta += timed(spark, f"{name}:A", a_fn, sf_dir, 1)
        if not i % 2:
            tb += timed(spark, f"{name}:B", b_fn, sf_dir, 1)
    print(f"  A(base): min={min(ta):.3f} all={[round(t, 3) for t in ta]}")
    print(f"  B(opt):  min={min(tb):.3f} all={[round(t, 3) for t in tb]}")
    print(f"  speedup min/min: {min(ta) / min(tb):.2f}x, "
          f"median/median: {statistics.median(ta) / statistics.median(tb):.2f}x, "
          f"B faster in {sum(b < a for a, b in zip(ta, tb))}/{reps} pairs")


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


# --- connected components (l2e / l2h) vs a base checkout -------------------

_PKG = "datalakejson_spark"


def _own_modules():
    return {k: m for k, m in sys.modules.items() if k == _PKG or k.startswith(_PKG + ".")}


def _install(modules):
    """Make ``modules`` the package's only entries in ``sys.modules``."""
    for k in _own_modules():
        del sys.modules[k]
    sys.modules.update(modules)


def base_specs(base_dir):
    """``all_specs()`` of the package checked out at ``base_dir``. Each fn
    runs with the base modules swapped into ``sys.modules``, so imports
    inside query bodies resolve to the base too; Python UDF bodies that
    pickle by reference still run the worker's own copy."""
    head = _own_modules()
    _install({})
    sys.path.insert(0, str(base_dir))
    try:
        from datalakejson_spark.registry import all_specs as base_all_specs

        specs = base_all_specs()
        base = _own_modules()
    finally:
        sys.path.remove(str(base_dir))
        _install(head)

    def swapped(fn):
        def run(spark, sf_dir):
            _install(base)
            try:
                return fn(spark, sf_dir)
            finally:
                _install(head)

        return run

    return {name: swapped(spec.fn) for name, spec in specs.items()}


def case_cc(spark, sf_dir, reps, base_dir=None):
    if base_dir is None:
        sys.exit("cc needs a base checkout: python tools/ab.py cc <sf_dir> <reps> <base_dir>")
    specs = all_specs()
    base = base_specs(base_dir)
    # floor: the pair stage alone (shared by base and candidate)
    pair_fn = specs["l2g_verified_neardup_pairs"].fn
    t = timed(spark, "l2g floor", pair_fn, sf_dir, 3)
    print(f"l2g pair stage alone: min={min(t):.3f} all={[round(x,3) for x in t]}")
    for q in ("l2e_dedup_clusters", "l2h_neardup_clusters"):
        ab(spark, f"{q} base vs this checkout", base[q], specs[q].fn, sf_dir, reps)


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
    spark = get_spark("ab")
    CASES[case](spark, sf_dir, reps, *sys.argv[4:])
    spark.stop()


if __name__ == "__main__":
    main()
