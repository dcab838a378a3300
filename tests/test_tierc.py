"""Tier C behavior tests beyond the oracle: LSH recall vs. exact baseline,
MinHash finds planted near-dups, SimHash locality, approx-count accuracy,
language-ID heuristic sanity."""

from __future__ import annotations

import pyspark.sql.functions as F

from datalakejson_spark.functions.dedup import (
    keep_first_distinct,
    lsh_candidate_pairs,
    minhash_signatures,
)
from datalakejson_spark.functions.similarity import brute_force_topk, lsh_bucket
from datalakejson_spark.functions.text import predict_lang
import pytest

SF = "/root/testdata/sf0.01"


def test_minhash_detects_planted_near_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    # plant: copy of doc 0 with one word changed (≈identical shingle set)
    base = docs.filter(F.col("doc_id") == 0).first()
    mutated = base.text.split(" ")
    mutated[len(mutated) // 2] = "MUTATED"
    planted = spark.createDataFrame(
        [(100000, " ".join(mutated), base.lang, base.source, base.n_chars)],
        docs.schema,
    )
    corpus = docs.unionByName(planted)
    pairs = lsh_candidate_pairs(minhash_signatures(corpus)).collect()
    assert any({p.doc_a, p.doc_b} == {0, 100000} for p in pairs)


def test_exact_dedup_keeps_one_copy(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1000)
    )
    kept = keep_first_distinct(doubled)
    assert kept.count() == 20
    # lowest id wins
    assert kept.agg(F.max("doc_id")).first()[0] < 1000


def test_lsh_ann_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = brute_force_topk(emb.filter(F.col("vec_id") < 8), emb, k=5)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    bucketed = lsh_bucket(emb)
    q = bucketed.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "table", "bucket"
    )
    c = bucketed.select(F.col("vec_id").alias("neighbor_id"), "table", "bucket")
    cand_pairs = {
        (r.query_id, r.neighbor_id)
        for r in q.join(c, ["table", "bucket"]).collect()
    }
    # Multi-table LSH (4 tables × 3 planes) must recover a solid share of the
    # true top-5 even for near-orthogonal random vectors.
    recall = len(exact_pairs & cand_pairs) / len(exact_pairs)
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_ivf_ann_recall_vs_exact(spark):
    """IVF with 16 cells / 4 probes must recover most of the true top-5 —
    probing 1/4 of the space."""
    from datalakejson_spark.functions.ivf import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = brute_force_topk(emb.filter(F.col("vec_id") < 8), emb, k=5)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx = ivf_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_approx_count_distinct_within_rsd(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = ev.select(F.count_distinct("user_id")).first()[0]
    approx = ev.select(F.approx_count_distinct("user_id", 0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.1


def test_langid_separates_scripts(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "这是一个中文测试文档 内容全部是中文字符"),
            (3, "Это русский текст для проверки определения языка"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r.pred_lang for r in predict_lang(df).collect()}
    assert out[1] == "en-like"
    assert out[2] == "zh"
    assert out[3] == "ru"


# ---------------------------------------------------------------------------
# LLM-pipeline completions (functions/llm_pipeline.py)
# ---------------------------------------------------------------------------
def test_connected_components_resolves_chains(spark):
    """a~b, b~c (no a~c edge) must land in ONE cluster — the reason pair
    lists aren't dedup decisions — and an edge-less node labels itself.
    l2e labels its documents through ``clusters.label_components``."""
    from datalakejson_spark.functions.clusters import label_components

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    out = {r.doc_id: r.cluster_id for r in label_components(nodes, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_match_pair_transitivity(spark):
    """Every LSH candidate pair must share a cluster; representatives are the
    cluster minima; cluster count + singleton docs add up."""
    from datalakejson_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from datalakejson_spark.functions.llm_pipeline import l2e_dedup_clusters

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cc = {r.doc_id: r.cluster_id for r in l2e_dedup_clusters(spark, SF).collect()}
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).collect()
    assert pairs, "fixture should produce at least one candidate pair"
    for p in pairs:
        assert cc[p.doc_a] == cc[p.doc_b], (p.doc_a, p.doc_b)
    reps = {c for c in cc.values()}
    assert all(cc[r] == r for r in reps)  # labels are cluster minima (fixpoint)


def test_decontamination_flags_overlap_only(spark):
    from datalakejson_spark.functions.llm_pipeline import l7_decontamination

    out = l7_decontamination(spark, SF)
    rows = out.collect()
    assert rows, "pseudo-benchmark should contaminate some train docs"
    # benchmark docs themselves are never flagged
    assert all(r.doc_id % 97 != 0 for r in rows)
    assert all(r.n_shared_shingles >= 1 for r in rows)


def test_token_shards_pack_in_order(spark):
    """Shard ids are non-decreasing in doc order and match a driver-side
    sequential recomputation (the two-phase prefix sum is exact, not
    approximate)."""
    from datalakejson_spark.functions.llm_pipeline import (
        SHARD_TOKEN_BUDGET,
        l8_token_shards,
    )

    rows = sorted(l8_token_shards(spark, SF).collect(), key=lambda r: r.doc_id)
    acc = 0
    for r in rows:
        assert r.shard_id == acc // SHARD_TOKEN_BUDGET, r
        acc += r.n_tokens
    assert rows[-1].shard_id > 0  # multiple shards actually produced


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """The every-node labelling behind l2e and corpus prep vs a driver-side
    union-find over seeded random graphs — the distributed star loop must
    produce exactly the canonical components, including long chains
    (worst-case diameter) and edge-less nodes."""
    import random

    from datalakejson_spark.functions.clusters import label_components

    for seed in (7, 23):
        rng = random.Random(seed)
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        edges += [(i, i + 1) for i in range(50, 58)]  # a guaranteed chain

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        expected = {x: min(y for y in range(n) if find(y) == find(x)) for x in range(n)}

        nodes_df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.doc_id: r.cluster_id
            for r in label_components(nodes_df, edges_df).collect()
        }
        assert got == expected, f"seed {seed}"


def test_prepare_training_corpus_end_to_end(spark):
    """The composed prep pipeline: output has no exact dups, no surviving
    near-dup pair, no benchmark overlap, and contiguous budget-packed
    shards."""
    import pyspark.sql.functions as F

    from datalakejson_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from datalakejson_spark.functions.llm_pipeline import (
        SHARD_TOKEN_BUDGET,
        prepare_training_corpus,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = prepare_training_corpus(docs)
    rows = sorted(out.collect(), key=lambda r: r.doc_id)
    assert rows, "pipeline should keep a non-trivial corpus"
    assert len(rows) < docs.count()  # something was actually filtered

    # no exact duplicates survive
    texts = [r.text for r in rows]
    assert len(texts) == len(set(texts))

    # no near-dup candidate pair survives (both ends in the output)
    kept = {r.doc_id for r in rows}
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).collect()
    assert all(not (p.doc_a in kept and p.doc_b in kept) for p in pairs)

    # benchmark slice gone
    assert all(r.doc_id % 97 != 0 for r in rows)

    # shards: monotone ids, exclusive-prefix packing law holds
    acc = 0
    for r in rows:
        assert r.shard_id == acc // SHARD_TOKEN_BUDGET
        acc += r.n_tokens


def test_connected_components_one_action_per_round(spark):
    """The every-node labelling must keep the star loop's one Spark action
    per round (the lazy localCheckpoint materializes inside the star-forest
    test) and add no per-round work for the singleton re-attach. Audited
    with AQE OFF: with AQE on every adaptive query stage is its own job id,
    which would make the job count a proxy for AQE internals instead of the
    loop's action structure."""
    from datalakejson_spark.functions.clusters import label_components

    n = 9  # a pure chain: the worst-case diameter for its size
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    sc = spark.sparkContext
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc-job-count", "connected components job audit")
    try:
        out = label_components(nodes, edges).collect()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert {r.doc_id: r.cluster_id for r in out} == {i: 0 for i in range(n)}
    jobs = sc.statusTracker().getJobIdsForGroup("cc-job-count")
    # budget: the star loop's rounds plus the final collect; a shape that
    # costs ~2 jobs per round blows well past this bound.
    assert len(jobs) <= n + 5, len(jobs)


def test_corpus_prep_with_external_benchmark(spark):
    """prepare_training_corpus/l7 accept a real eval-suite DataFrame: docs
    sharing 3-grams with it are dropped/flagged, and nothing else changes."""
    import pyspark.sql.functions as F

    from datalakejson_spark.functions.llm_pipeline import (
        l7_decontamination,
        prepare_training_corpus,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # eval suite = verbatim text of two corpus docs + one novel prompt
    sample = docs.orderBy("doc_id").limit(2).select("text")
    bench = sample.union(
        spark.createDataFrame(
            [("entirely novel benchmark prompt about nothing in corpus xyzzy",)],
            "text string",
        )
    )

    flagged = l7_decontamination(spark, SF, bench_docs=bench)
    flagged_ids = {r.doc_id for r in flagged.collect()}
    sampled_ids = {r.doc_id for r in docs.orderBy("doc_id").limit(2).collect()}
    assert sampled_ids <= flagged_ids  # verbatim members must be flagged

    out = prepare_training_corpus(docs, bench_docs=bench)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert not (kept & sampled_ids)  # contaminated docs removed
    # external mode must not ALSO apply the pseudo-slice cut: %97 docs that
    # share nothing with the external suite survive
    assert any(d % 97 == 0 for d in kept)


def test_shard_partitions_derived_from_input_size(spark):
    """VERDICT r03: the packing partition count scales with Catalyst's input
    size estimate instead of a constant 8."""
    from datalakejson_spark.functions.llm_pipeline import (
        SHARD_MIN_PARTITIONS,
        SHARD_TARGET_PARTITION_BYTES,
        _derive_shard_partitions,
    )

    small = spark.range(10).selectExpr("id AS doc_id", "id AS n_tokens")
    assert _derive_shard_partitions(small) == SHARD_MIN_PARTITIONS
    # a frame Catalyst sizes well past the target must fan out accordingly
    # (stats come from the logical plan — nothing here executes)
    wide = spark.range(200_000_000).selectExpr("id AS doc_id", "id AS n_tokens")
    derived = _derive_shard_partitions(wide)
    assert derived > SHARD_MIN_PARTITIONS
    est = int(wide._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert derived == min(1 << 16, est // SHARD_TARGET_PARTITION_BYTES + 1)


@pytest.mark.soak
def test_ann_recall_floor_at_1e5(spark):
    """VERDICT r11 #3: pin recall@5 at the largest locally-feasible pytest
    decade (10^5 clustered vectors; the 10^6 point lives in
    tools/ann_recall_curve_r12.jsonl / SCALE.md). The autotuned IVF setting
    (nlist=256, nprobe=16) measured 1.0 — pin >= 0.9; the LSH (8 planes,
    8 tables) setting measured 0.896-0.908 across decades — pin >= 0.75.
    Floors leave margin for quantizer/sample jitter, not for regressions:
    a broken prune path scores ~0.2 on this corpus."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from ann_recall_curve import recall_at_k, synth_clustered, topk_sets

    from datalakejson_spark.functions.ivf import autotune_ivf, ivf_topk
    from datalakejson_spark.functions.similarity import (
        brute_force_topk_np,
        lsh_ann_topk_np,
    )

    n = 100_000
    emb = synth_clustered(spark, n).localCheckpoint(eager=True)
    queries = emb.filter(F.col("vec_id") < 50)
    exact = topk_sets(brute_force_topk_np(queries, emb))
    assert len(exact) == 50

    nlist, nprobe = autotune_ivf(n)
    assert (nlist, nprobe) == (256, 16)
    ivf = topk_sets(ivf_topk(emb, queries, n_cells=nlist, nprobe=nprobe))
    ivf_recall = recall_at_k(ivf, exact)
    assert ivf_recall >= 0.9, f"autotuned IVF recall regressed: {ivf_recall}"

    lsh = topk_sets(lsh_ann_topk_np(emb, queries, n_planes=8, n_tables=8))
    lsh_recall = recall_at_k(lsh, exact)
    assert lsh_recall >= 0.75, f"LSH(8,8) recall regressed: {lsh_recall}"

    from datalakejson_spark.functions.similarity import autotune_lsh

    a_planes, a_tables = autotune_lsh(n)
    assert (a_planes, a_tables) == (6, 8)
    auto = topk_sets(
        lsh_ann_topk_np(emb, queries, n_planes=a_planes, n_tables=a_tables)
    )
    auto_recall = recall_at_k(auto, exact)  # measured 0.96 at this decade
    assert auto_recall >= 0.8, f"autotuned LSH recall regressed: {auto_recall}"
