"""Training-data pipeline completions: near-dup cluster resolution
(connected components over LSH candidate pairs), benchmark decontamination
(n-gram overlap against an eval set), and token-budget shard packing.

These extend SURVEY.md §2's L-tier (L1/L2/L4) with the three operations a
100 TB pretraining-data pipeline runs after candidate generation:

- Pair lists are not dedup decisions: near-dup candidates form CHAINS
  (a~b, b~c but not a~c). Deduplication must resolve them to clusters and
  keep one representative per cluster — connected components, computed by
  the large-star/small-star loop in clusters.py (O(log² n) rounds whatever
  the chain length). The DuckDB oracle computes the same labels as a
  recursive CTE — an exact cross-engine check of an iterative distributed
  algorithm.
- Benchmark contamination: training documents sharing word n-grams with an
  evaluation suite must be flagged/removed. The eval suite is tiny relative
  to the corpus → its shingle set is broadcast; the corpus is never
  shuffled, only scanned.
- Shard packing: sequential documents are packed into fixed-token-budget
  shards. A naive global-window cumulative sum is a single-task bottleneck;
  this implementation computes partition-local prefix sums plus a
  driver-side offset table of per-partition totals (bounded: one row per
  partition) — the classic two-phase scan, so the packing scales with
  partition count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.functions.clusters import label_components
from datalakejson_spark.functions.dedup import (
    _DUCK_SHINGLES,
    _L2_SQL,
    _SPARK_SHINGLES,
    lsh_candidate_pairs,
    minhash_signatures,
)
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table

SHARD_TOKEN_BUDGET = 256
# Target bytes of input per range partition in the shard-packing scan; the
# partition count is derived from Catalyst's size estimate so it scales with
# the data (8 tasks at sf0.01, thousands at 100 TB) instead of a constant.
SHARD_TARGET_PARTITION_BYTES = 64 << 20
SHARD_MIN_PARTITIONS = 8
# Pseudo eval-suite membership: a deterministic ~1% id slice standing in for
# the (externally supplied) benchmark table. Lazy on the Spark side — Column
# construction needs an active SparkContext in PySpark 4.
def _bench_pred():
    return F.col("doc_id") % 97 == 0


BENCH_PRED_DUCK = "doc_id % 97 = 0"


# --------------------------------------------------------------------------
# L2e: connected-component dedup clusters over MinHash-LSH candidate pairs
# --------------------------------------------------------------------------
_L2E_SQL = f"""
    WITH RECURSIVE pairs AS (
        SELECT * FROM ({_L2_SQL}) __lsh
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id,
           min(lbl) AS cluster_id,
           (min(lbl) = node) AS is_representative
    FROM reach
    GROUP BY node
"""


@register(
    "l2e_dedup_clusters",
    survey="L2,L1",
    extended=True,  # seat rotation r12: L2/L1 keep driver seats via l2/l1
    sql=_L2E_SQL,
)
def l2e_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve MinHash-LSH candidate pairs into dedup clusters: every
    document labeled with the min doc_id of its connected component;
    ``is_representative`` marks the one row per cluster a dedup pass keeps.
    The oracle recomputes the identical fixpoint via a recursive CTE, so the
    iterative Spark loop is exact-value-checked cross-engine."""
    from datalakejson_spark.sources.tables import spread_scan

    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    cc = label_components(docs, pairs)
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("is_representative"),
    )


# --------------------------------------------------------------------------
# L7: benchmark decontamination (n-gram overlap vs an eval suite)
# --------------------------------------------------------------------------
_L7_SQL = f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS shingle FROM tok
    ),
    bench AS (
        SELECT DISTINCT shingle FROM sh WHERE {BENCH_PRED_DUCK}
    )
    SELECT s.doc_id, count(DISTINCT s.shingle) AS n_shared_shingles
    FROM sh s JOIN bench b ON s.shingle = b.shingle
    WHERE NOT ({BENCH_PRED_DUCK.replace('doc_id', 's.doc_id')})
    GROUP BY s.doc_id
"""


@register(
    "l7_decontamination",
    survey="L4,L2",
    sql=_L7_SQL,
)
def l7_decontamination(
    spark: SparkSession, sf_dir: str, bench_docs: DataFrame | None = None
) -> DataFrame:
    """Training docs sharing ≥1 word-3-gram with the benchmark suite, with
    the count of shared shingles — the contamination filter run before
    pretraining. Scale shape: the benchmark shingle set is distinct'd and
    BROADCAST (eval suites are MBs; the corpus is TBs), so the corpus is
    scanned once and never shuffled on text.

    ``bench_docs``: the real evaluation suite as a (text, ...) DataFrame;
    default None keeps the deterministic pseudo-slice the oracle checks."""
    from datalakejson_spark.sources.tables import spread_scan

    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select("doc_id", F.split("text", " ").alias("w"))
    sh = tok.select(
        "doc_id", F.explode(F.array_distinct(F.expr(_SPARK_SHINGLES))).alias("shingle")
    )
    if bench_docs is None:
        bench = sh.filter(_bench_pred()).select("shingle").distinct()
        train = sh.filter(~_bench_pred())
    else:
        btok = bench_docs.select(F.split("text", " ").alias("w"))
        bench = btok.select(
            F.explode(F.array_distinct(F.expr(_SPARK_SHINGLES))).alias("shingle")
        ).distinct()
        train = sh
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared_shingles"))
    )


# --------------------------------------------------------------------------
# L8: token-budget shard packing (two-phase distributed prefix sum)
# --------------------------------------------------------------------------
def _derive_shard_partitions(df: DataFrame) -> int:
    """Range-partition count for the packing scan, from Catalyst's logical
    size estimate (no job): ~SHARD_TARGET_PARTITION_BYTES of input per task,
    floored at SHARD_MIN_PARTITIONS — 8 tasks at sf0.01, thousands at 100 TB
    (VERDICT r03: a fixed count is correct at any scale but under-parallel)."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate unavailable: fall back to cores
        return max(SHARD_MIN_PARTITIONS, df.sparkSession.sparkContext.defaultParallelism)
    return int(
        max(SHARD_MIN_PARTITIONS, min(1 << 16, size // SHARD_TARGET_PARTITION_BYTES + 1))
    )


def pack_token_shards(
    df: DataFrame,
    shard_token_budget: int = SHARD_TOKEN_BUDGET,
    shard_partitions: int | None = None,
) -> DataFrame:
    """Append ``shard_id = floor(exclusive-prefix-tokens / budget)`` to a
    frame with (doc_id, n_tokens, ...), packing rows in global doc_id order.

    The prefix sum is the scale-critical part. A bare
    ``Window.orderBy(doc_id)`` has no partition key → Spark coalesces to ONE
    task. Shape here: range-repartition by doc_id + sortWithinPartitions
    (ONE exchange — a window partitioned on spark_partition_id would add a
    second, hash-on-pid exchange), then a vectorized per-partition running
    sum via mapInPandas seeded with the per-partition offsets from the
    (tiny, one-row-per-partition) totals job — the standard two-phase
    parallel scan. ``localCheckpoint(eager=False)`` pins the sampled range
    boundaries across the totals job and the main job without the
    unbounded-lifetime ``.persist()`` leak (ADVICE r03); the checkpoint
    materializes inside the totals job itself. The result depends only on
    the global doc_id order, never on where the boundaries fall."""
    n_parts = shard_partitions or _derive_shard_partitions(df)
    parts = (
        df.repartitionByRange(n_parts, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = {
        r["pid"]: r["total"]
        for r in parts.groupBy("pid").agg(F.sum("n_tokens").alias("total")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):  # range partitions are ordered by pid
        offsets[pid] = acc
        acc += totals[pid]
    out_cols = df.columns + ["shard_id"]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in parts.schema.fields
        if f.name != "pid"
    ) + ", shard_id long"
    budget = int(shard_token_budget)

    def pack(batches):
        run = None  # exclusive prefix carried across Arrow batches
        for pdf in batches:
            if not len(pdf):
                continue
            if run is None:
                run = int(offsets.get(int(pdf["pid"].iloc[0]), 0))
            excl = pdf["n_tokens"].cumsum() - pdf["n_tokens"] + run
            out = pdf.drop(columns=["pid"])
            out["shard_id"] = (excl // budget).astype("int64")
            run += int(pdf["n_tokens"].sum())
            yield out

    return parts.mapInPandas(pack, schema).select(*out_cols)


@register(
    "l8_token_shards",
    survey="L4,W3,O2",
    sql=f"""
    -- floor() is DOUBLE in DuckDB; cast to match Spark's BIGINT (r01 lesson)
    SELECT doc_id, n_tokens,
           CAST(floor(
               coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {SHARD_TOKEN_BUDGET}.0
           ) AS BIGINT) AS shard_id
    FROM (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    """,
)
def l8_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in doc_id order) into fixed-token-budget training
    shards: shard_id = floor(exclusive-prefix-tokens / budget) — the
    two-phase parallel scan in ``pack_token_shards``."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pack_token_shards(toks)


# --------------------------------------------------------------------------
# The end-to-end corpus preparation pipeline (composition of verified parts)
# --------------------------------------------------------------------------
def prepare_training_corpus(
    docs: DataFrame,
    shard_token_budget: int = SHARD_TOKEN_BUDGET,
    shard_partitions: int | None = None,
    bench_docs: DataFrame | None = None,
    min_chars: int = 100,
    min_tokens: int = 20,
    word_len_range: tuple[float, float] = (2.0, 12.0),
) -> DataFrame:
    """The full pretraining-data prep flow, each stage an operator verified
    on its own elsewhere in this package:

    1. exact dedup        — one keeper per identical text (md5 groupBy, L1)
    2. near-dup dedup     — MinHash-LSH pairs → connected components → keep
                            each cluster's representative (L2/L2e)
    3. quality gate       — Gopher/C4-style length + word-shape predicates,
                            pushed into the scan (L6)
    4. decontamination    — drop docs sharing word-3-grams with the
                            (pseudo) benchmark slice (L7)
    5. shard packing      — two-phase prefix sum over token counts (L8)

    Input: (doc_id, text, n_chars, ...). Output: (doc_id, text, n_tokens,
    shard_id) for the surviving corpus, packed in doc_id order. Every stage
    is shuffle-bounded: dedup keys are hashes, CC shuffles only
    the (bigint, bigint) edge list, the benchmark set broadcasts, and the
    prefix sum is partition-parallel — no stage is O(corpus²) or
    single-task.

    ``bench_docs``: the real evaluation suite as a (text, ...) DataFrame —
    its word-3-gram shingles are broadcast against the corpus. Default None
    keeps the deterministic pseudo-slice (a ~1% doc_id cut of the corpus
    itself) so the oracle-checked result is unchanged.

    ``min_chars``/``min_tokens``/``word_len_range``: quality-gate thresholds
    (defaults are the oracle-checked l6 values); tune per corpus."""
    from datalakejson_spark.functions.dedup import (
        keep_first_distinct,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # 1. exact dedup
    corpus = keep_first_distinct(docs)

    # 2. near-dup clusters → representatives only
    pairs = lsh_candidate_pairs(minhash_signatures(corpus))
    cc = label_components(corpus, pairs)
    reps = cc.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    corpus = corpus.join(reps, "doc_id", "left_semi")

    # 3. quality gate (same predicates as l6_quality_filter)
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    avg_word_len = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double") / F.greatest(n_tokens, F.lit(1))
    corpus = corpus.withColumn("n_tokens", n_tokens.cast("long")).filter(
        (F.col("n_chars") >= min_chars)
        & (F.col("n_tokens") >= min_tokens)
        & avg_word_len.between(*word_len_range)
    )

    # 4. decontamination: drop any train doc sharing a shingle with the eval
    #    suite; with the pseudo-slice default the slice itself is dropped too
    tok = corpus.select("doc_id", F.split("text", " ").alias("w"))
    sh = tok.select(
        "doc_id", F.explode(F.array_distinct(F.expr(_SPARK_SHINGLES))).alias("shingle")
    )
    if bench_docs is None:
        bench_shingles = sh.filter(_bench_pred()).select("shingle").distinct()
        corpus = corpus.filter(~_bench_pred())
    else:
        btok = bench_docs.select(F.split("text", " ").alias("w"))
        bench_shingles = btok.select(
            F.explode(F.array_distinct(F.expr(_SPARK_SHINGLES))).alias("shingle")
        ).distinct()
    contaminated = (
        sh.join(F.broadcast(bench_shingles), "shingle").select("doc_id").distinct()
    )
    corpus = corpus.join(contaminated, "doc_id", "left_anti")

    # 5. shard packing (two-phase prefix sum, shared with l8_token_shards)
    return pack_token_shards(
        corpus.select("doc_id", "text", "n_tokens"),
        shard_token_budget=shard_token_budget,
        shard_partitions=shard_partitions,
    )
