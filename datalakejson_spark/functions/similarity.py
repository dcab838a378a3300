"""Similarity search over embedding columns (SURVEY.md §2.12 L3).

Baseline: exact brute-force cosine top-k — a broadcast join of the (small)
query set against all candidates, dot products computed JVM-side with
higher-order array functions (zip_with + aggregate), ranked per query.

Scale path: random-hyperplane LSH bucketing (``lsh_bucket_topk``) — candidates
are pre-bucketed by sign-pattern so each query probes one bucket (plus
neighbors), turning O(n·q) into O(n/2^planes · q). Bucketing is deterministic
(md5-derived hyperplanes), so results are reproducible; recall is tested
against the exact baseline in tests/test_tierc.py.

Floating-point determinism: every element is cast float→double *before*
arithmetic and both engines fold the array left-to-right, so dot products are
bit-identical; ranking keys round to 6 dp with an id tie-break.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table, spread_scan

N_QUERIES = 8
TOP_K = 5
N_PLANES = 3  # hyperplanes per LSH table → 8 buckets/table


def cosine_expr(a: str, b: str):
    """dot(a,b)/(|a||b|) as a JVM-side column expression (no UDF)."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def norm(x):
        return F.sqrt(
            F.aggregate(
                F.transform(x, lambda p: p.cast("double") * p.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    return dot(F.col(a), F.col(b)) / (norm(F.col(a)) * norm(F.col(b)))


def stack_embeddings(col: pd.Series) -> np.ndarray:
    """(batch, dim) float64 matrix from an Arrow list column — one bulk
    conversion, not a per-row Python list materialization (the difference is
    seconds per million rows on every vectorized pass below)."""
    return np.array(col.tolist(), dtype=np.float64)


@F.pandas_udf(DoubleType())  # DataType instance: a "double" DDL string would
def cosine_np(a: pd.Series, b: pd.Series) -> pd.Series:  # parse at import,
    # which needs a live SparkContext before any session exists
    """Vectorized cosine for (query, candidate) pair tables — one Arrow batch
    becomes two stacked matrices and an einsum, replacing the interpreted
    per-row zip_with/aggregate on the scale path. Rounded to 6 dp like
    ``cosine_expr`` so rankings are comparable across paths."""
    x = stack_embeddings(a)
    y = stack_embeddings(b)
    dots = np.einsum("ij,ij->i", x, y)
    norms = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
    return pd.Series(np.round(dots / norms, 6))


_DUCK_DOT = (
    "list_aggregate([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) "
    "for i in range(1, len(q.embedding) + 1)], 'sum')"
)
_DUCK_NORM_Q = (
    "sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) "
    "for x in q.embedding], 'sum'))"
)
_DUCK_NORM_C = (
    "sqrt(list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) "
    "for x in c.embedding], 'sum'))"
)

_L3_SQL = f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({_DUCK_DOT} / ({_DUCK_NORM_Q} * {_DUCK_NORM_C}), 6) AS cosine
        FROM embeddings q
        JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored
    )
    WHERE rn <= {TOP_K}
"""


def _norm_sql(col: str) -> str:
    """|x| as a SQL string — the identical expression tree cosine_expr uses,
    exposed so the norms can be projected ONCE per row instead of once per
    (query, candidate) pair (same IEEE op sequence → bit-identical values).
    ``0.0D`` is the SQL double literal matching F.lit(0.0)."""
    return (
        f"sqrt(aggregate(transform({col}, p -> CAST(p AS DOUBLE)"
        f" * CAST(p AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
    )


def _norm_expr(col: str):
    """Column form of :func:`_norm_sql` (one parsed SQL string: the Python
    lambda form costs ~15 py4j round-trips per query build, guide §5)."""
    return F.expr(_norm_sql(col))


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, score every candidate.
    Output: (query_id, neighbor_id, cosine, rn).

    r15: the vector norms are projected per ROW before the pair join — the
    interpreted higher-order norm lambdas used to re-run per PAIR (q× the
    work on the candidate side). Same expression tree, same fold order, so
    every cosine is bit-identical; only the dot product remains per-pair.

    r16 (guide §5): the whole chain is built from selectExpr SQL strings —
    the Column-builder form cost ~100 ms of py4j round-trips per query
    build (micro-profiled: the join+cosine+window block alone was 61 ms,
    29.7 ms as SQL). Identical operators, identical values; the
    WindowGroupLimit/TopK plan shape is pinned in tests/test_plans.py."""
    q = F.broadcast(
        queries.selectExpr(
            "vec_id AS query_id",
            "embedding AS q_emb",
            f"{_norm_sql('embedding')} AS q_norm",
        )
    )
    c = candidates.selectExpr(
        "vec_id AS neighbor_id",
        "embedding AS c_emb",
        f"{_norm_sql('embedding')} AS c_norm",
    )
    dot = (
        "aggregate(zip_with(q_emb, c_emb, (p, q) -> CAST(p AS DOUBLE)"
        " * CAST(q AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )
    scored = q.join(c, F.expr("neighbor_id != query_id")).selectExpr(
        "query_id",
        "neighbor_id",
        f"round(({dot}) / (q_norm * c_norm), 6) AS cosine",
    )
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cosine",
        "row_number() OVER (PARTITION BY query_id"
        " ORDER BY cosine DESC, neighbor_id) AS rn",
    ).filter(f"rn <= {k}")


# --------------------------------------------------------------------------
# Arrow/BLAS scale path for the exact baseline (round 12)
#
# brute_force_topk keeps every (query, candidate) pair as a row and evaluates
# the dot product with interpreted higher-order expressions — exactly right
# for the small oracle-checked driver queries, but at 10^6+ candidates the
# q x n pair table itself is the bottleneck. The vectorized form never
# materializes pairs: each Arrow batch is one (batch x dim) @ (dim x q)
# matmul against the broadcast query matrix, each PARTITION emits only its
# top-(k+1) rows per query, and a global window merges the bounded partials.
# The scan is a single narrow pass (no shuffle of embeddings); only
# n_partitions x q x (k+1) small rows move.
# --------------------------------------------------------------------------


def brute_force_topk_np(
    queries: DataFrame, candidates: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmuls (same contract and
    same (query_id, neighbor_id, cosine, rn) output as ``brute_force_topk``;
    tests pin the two paths equal). Per-batch partial top-k uses the FINAL
    ordering key (cosine rounded to 6 dp desc, neighbor_id asc), so the
    global merge is exact — a candidate dropped in-batch is provably ranked
    below k in every total order the window could assign."""
    spark = candidates.sparkSession
    qrows = (  # bounded by contract: the query set is the broadcast side
        queries.select("vec_id", "embedding").orderBy("vec_id").collect()
    )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((q_ids, qn))

    def part(batches):
        ids, qmat = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cm = stack_embeddings(pdf["embedding"])
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = np.round(cm @ qmat.T, 6)  # (batch, q), final ranking key
            out_q, out_n, out_c = [], [], []
            for j in range(len(ids)):
                col = sims[:, j]
                keep = cids != ids[j]
                # total order = (-cosine, neighbor_id); lexsort keys reversed
                order = np.lexsort((cids[keep], -col[keep]))[: k + 1]
                sel_ids, sel_cos = cids[keep][order], col[keep][order]
                out_q.extend([ids[j]] * len(order))
                out_n.extend(sel_ids.tolist())
                out_c.extend(sel_cos.tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    partials = candidates.select("vec_id", "embedding").mapInPandas(
        part, "query_id bigint, neighbor_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return partials.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


@register(
    "l3d_exact_topk_vectorized",
    survey="L3,D5",
    # driver tier since r13 (seat rotation): gives D5 (mapInPandas) its own
    # driver-verified row
    sql="""
    -- The vectorized path's contract: the Spark side computes top-k twice
    -- (JVM higher-order expressions vs Arrow/numpy matmul partial top-k +
    -- merge) and emits, per query, whether the vectorized set returned
    -- exactly k rows containing every NON-BOUNDARY member of the JVM
    -- top-k. Boundary members (rounded cosine within 2e-6 of the k-th) are
    -- excused: the two paths evaluate the dot product in different fp
    -- orders and round differently (np.round half-even on the binary value
    -- vs F.round HALF_UP on the decimal expansion), so a 1-ulp difference
    -- can flip a 6-dp key at the boundary — rank-for-rank equality is not
    -- a soundly testable contract across them. The oracle asserts the
    -- boolean for every query.
    SELECT CAST(vec_id AS BIGINT) AS query_id, true AS matches_jvm_topk
    FROM embeddings
    WHERE vec_id < 8
    """,
)
def l3d_exact_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/BLAS exact top-k checked against the JVM expression path:
    emits (query_id, matches_jvm_topk) — k rows returned, every clearly-
    above-threshold JVM neighbor recovered, ties at the 6-dp boundary
    excused (see the registered SQL comment)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    jvm = brute_force_topk(queries, emb)
    vec = brute_force_topk_np(queries, emb).select("query_id", "neighbor_id")
    kth = jvm.groupBy("query_id").agg(F.min("cosine").alias("kth_cosine"))
    required = (
        jvm.join(kth, "query_id")
        .filter(F.col("cosine") >= F.col("kth_cosine") + 2e-6)
        .select("query_id", "neighbor_id")
    )
    n_req = required.groupBy("query_id").agg(F.count("*").alias("n_req"))
    n_hit = (
        required.join(vec, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    n_vec = vec.groupBy("query_id").agg(F.count("*").alias("n_vec"))
    base = queries.select(F.col("vec_id").cast("bigint").alias("query_id"))
    return (
        base.join(n_req, "query_id", "left")
        .join(n_hit, "query_id", "left")
        .join(n_vec, "query_id", "left")
        .select(
            "query_id",
            (
                (F.coalesce(F.col("n_hit"), F.lit(0))
                 == F.coalesce(F.col("n_req"), F.lit(0)))
                & (F.coalesce(F.col("n_vec"), F.lit(0)) == TOP_K)
            ).alias("matches_jvm_topk"),
        )
    )


@register("l3_cosine_topk", survey="L3,J8,W5,F5", sql=_L3_SQL)
def l3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 8 vectors — the
    oracle-checked baseline for similarity search. The candidate side gets
    the adaptive unsplittable-input repartition (guide §2.5): the fixture is
    one row group, so every per-pair dot product would otherwise run on one
    task; a real-scale scan makes it a no-op."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), spread_scan(emb, "vec_id")
    )


# --------------------------------------------------------------------------
# Scale path: deterministic random-hyperplane LSH (multi-table)
# --------------------------------------------------------------------------
N_TABLES = 4  # L independent hash tables; candidate = same bucket in ANY table


def _plane_sign(table: int, plane: int, dim_col):
    """Deterministic pseudo-random ±1 weight for (table, plane, dimension):
    parity of the first hex digit of md5('t<table>:p<plane>:<dim>')."""
    h = F.md5(F.concat(F.lit(f"t{table}:p{plane}:"), dim_col.cast("string")))
    digit = F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1
    return F.when(digit % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def _bucket_expr(table: int, n_planes: int):
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.transform(F.col("embedding"), lambda _, i: _plane_sign(table, p, i)),
                lambda v, s: v.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append((proj > 0).cast("int") * (1 << p))
    return sum(bits)


def lsh_bucket(
    df: DataFrame, n_planes: int = N_PLANES, n_tables: int = N_TABLES
) -> DataFrame:
    """Explode each vector into ``n_tables`` (table, bucket) rows — the
    classic multi-table random-hyperplane LSH. Fewer planes per table →
    higher per-table collision probability; multiple tables → recall
    1-(1-p^planes)^tables. With near-orthogonal random vectors (the hard
    case), 4 tables × 3 planes holds ~60%+ recall while pruning ~7/8 of the
    candidate space per table."""
    per_table = F.array(
        *[
            F.struct(F.lit(t).alias("table"), _bucket_expr(t, n_planes).alias("bucket"))
            for t in range(n_tables)
        ]
    )
    return df.withColumn("tb", F.explode(per_table)).select(
        *df.columns, F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )


def ann_recall_check(
    ann: DataFrame, emb: DataFrame, queries: DataFrame
) -> DataFrame:
    """Join an ANN top-k result against the exact brute-force top-k and emit
    (query_id, found_true_neighbor): did the index recover at least one true
    nearest neighbor for this query? Both sides are deterministic, so this
    makes an approximation's recall contract oracle-checkable (the oracle
    asserts the boolean is true for every query)."""
    exact = brute_force_topk(queries, emb)
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    base = queries.select(F.col("vec_id").cast("bigint").alias("query_id"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        (F.coalesce(F.col("n_hits"), F.lit(0)) >= 1).alias("found_true_neighbor"),
    )


@register(
    "l3b_ann_lsh_topk",
    survey="L3",
    extended=True,  # seat rotation r12: L3 keeps driver seats via l3 + l3c
    sql="""
    -- The ANN result set is approximation-defined, so the checkable contract
    -- is RECALL: the Spark side joins the LSH top-k against the exact
    -- brute-force top-k and emits, per query, whether the index recovered at
    -- least one true nearest neighbor; the oracle asserts that holds for
    -- every query. (Overall recall >= 0.4 is separately asserted in
    -- tests/test_tierc.py.)
    SELECT CAST(vec_id AS BIGINT) AS query_id, true AS found_true_neighbor
    FROM embeddings
    WHERE vec_id < 8
    """,
)
def l3b_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k (queries only score candidates sharing a bucket in
    at least one LSH table), verified against the exact baseline inside the
    query: emits (query_id, found_true_neighbor) so the index's recall
    contract is oracle-checkable."""
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    queries_raw = emb.filter(F.col("vec_id") < N_QUERIES)
    return ann_recall_check(_lsh_ann_topk(emb), emb, queries_raw)


def _lsh_ann_topk(emb: DataFrame) -> DataFrame:
    """The raw LSH ANN top-k (query_id, neighbor_id, cosine, rn) — used by the
    registered recall-check query, tests, and bench."""
    bucketed = lsh_bucket(emb)
    queries = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "table",
        "bucket",
    )
    cands = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "table",
        "bucket",
    )
    candidates = (
        F.broadcast(queries)
        .join(cands, ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_emb", "neighbor_id", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])  # met in ≥1 table → once
    )
    scored = candidates.withColumn(
        "cosine", F.round(cosine_expr("q_emb", "c_emb"), 6)
    ).select("query_id", "neighbor_id", "cosine")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K)


# --------------------------------------------------------------------------
# Seeded-numpy LSH scale path (round 12)
#
# The expression bucketer above derives each ±1 hyperplane weight from an
# md5 computed PER ELEMENT PER ROW — fine at driver scales (it keeps the
# oracle-checked plan pure-JVM with zero Python), but at 10^6 vectors x
# 4 tables x p planes x 64 dims that is ~10^9 interpreted md5 calls per
# bucketing pass. The vectorized form draws the (tables x planes x dim)
# Gaussian hyperplane tensor ONCE from a seeded RNG on the driver and
# buckets each Arrow batch with a single matmul + sign-packing. Both are
# valid, deterministic LSH families; recall curves for both are measured in
# tools/ann_recall_curve.py and SCALE.md.
# --------------------------------------------------------------------------
LSH_SEED = 7


def autotune_lsh(
    n_vectors: int, target_bucket_rows: int = 2000, n_tables: int = 8
) -> tuple[int, int]:
    """(n_planes, n_tables) for a corpus of ``n_vectors`` (round 12).

    Unlike IVF (where recall is set by nprobe/nlist and scan fraction is
    the knob), LSH recall at FIXED planes is decade-stable — collision
    probability depends on angles, not corpus size (measured 0.896 → 0.908
    for (8, 8) across 10^5 → 10^6) — but candidate volume per query grows
    linearly with n at fixed planes. The tunable cost invariant is the
    expected bucket size n / 2^planes: planes = round(log2(n / target)),
    clamped to [2, 24], holds candidates per query ≈ tables × target at
    any scale. Tables is then the recall knob (1-(1-p^planes)^tables).
    Measured (tools/ann_recall_curve_r12.jsonl, phase lsh_autotuned):
    10^5 → (6, 8) recall 0.960, 670k candidate pairs; 10^6 → (9, 8) recall
    0.864, 1.09M pairs — the pair count stays the same order across the
    decade (uneven clustered buckets keep it from exactly flat) while the
    fixed-planes pair count would have grown 10×. Floors pinned in
    tests/test_tierc.py::test_ann_recall_floor_at_1e5."""
    import math

    planes = round(math.log2(max(2.0, n_vectors / target_bucket_rows)))
    return max(2, min(24, planes)), n_tables


def lsh_planes(
    dim: int, n_planes: int, n_tables: int, seed: int = LSH_SEED
) -> np.ndarray:
    """The (n_tables, n_planes, dim) Gaussian hyperplane tensor, fully
    determined by (dim, n_planes, n_tables, seed) — every executor and every
    run derives identical buckets."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def lsh_bucket_np(
    df: DataFrame,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    seed: int = LSH_SEED,
) -> DataFrame:
    """Vectorized multi-table bucketing: each input row explodes into
    ``n_tables`` rows with a ``bucket`` in [0, 2^n_planes). One narrow
    mapInPandas pass — the table is never shuffled to be bucketed."""
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("table", IntegerType()), StructField("bucket", IntegerType())]
    )
    cols = [f.name for f in df.schema.fields]
    weights = 1 << np.arange(n_planes)

    def run(batches):
        pl = None  # derived from the actual dim, deterministically, per worker
        for pdf in batches:
            if not len(pdf):
                continue
            x = stack_embeddings(pdf["embedding"])
            if pl is None:
                pl = lsh_planes(x.shape[1], n_planes, n_tables, seed)
            frames = []
            for t in range(pl.shape[0]):
                bits = (x @ pl[t].T) > 0  # (batch, n_planes)
                buckets = (bits * weights).sum(axis=1).astype(np.int32)
                f = pdf[cols].copy()
                f["table"] = np.int32(t)
                f["bucket"] = buckets
                frames.append(f)
            yield pd.concat(frames, ignore_index=True)

    return df.mapInPandas(run, out_schema)


def lsh_ann_candidates(
    emb: DataFrame,
    queries: DataFrame,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    seed: int = LSH_SEED,
) -> DataFrame:
    """The deduped (query_id, q_emb, neighbor_id, c_emb) candidate pairs under
    the vectorized bucketer (same bucket in ANY table → one pair) — factored
    out so the recall sweep can measure candidate volume independently of
    scoring."""
    bucketed = lsh_bucket_np(emb, n_planes, n_tables, seed)
    q = lsh_bucket_np(queries, n_planes, n_tables, seed).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "table",
        "bucket",
    )
    cands = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "table",
        "bucket",
    )
    return (
        F.broadcast(q)
        .join(cands, ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_emb", "neighbor_id", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def lsh_ann_topk_np(
    emb: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    seed: int = LSH_SEED,
) -> DataFrame:
    """LSH ANN with the vectorized bucketer: same candidate semantics as
    ``_lsh_ann_topk`` (same bucket in ANY table → scored once), with the
    candidate scoring done by the vectorized cosine so no interpreted
    higher-order expression touches the (query x candidate) pair table.
    Output: (query_id, neighbor_id, cosine, rn)."""
    candidates = lsh_ann_candidates(emb, queries, n_planes, n_tables, seed)
    scored = candidates.select(
        "query_id", "neighbor_id", cosine_np("q_emb", "c_emb").alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
