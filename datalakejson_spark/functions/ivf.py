"""IVF (inverted-file) approximate nearest-neighbor search (SURVEY.md §2.12
L3 scale path, complementing the hyperplane LSH in similarity.py).

Classic IVF: a coarse k-means quantizer partitions the vector space into
cells; each vector is assigned to its nearest centroid (the "inverted
list"). A query probes only the ``nprobe`` cells whose centroids are closest,
then exact-reranks. Search cost drops from O(n) to O(n · nprobe / k).

Spark mapping, designed for the 100 TB shape:

- The coarse quantizer is a driver-side seeded numpy Lloyd's over a bounded
  deterministic sample (a coarse quantizer needs rough cells, not a converged
  clustering — FAISS trains IVF quantizers on samples too). This replaced a
  pyspark.ml KMeans fit that cost ~10 s of JVM/ML overhead per index build at
  sf0.01 while producing equivalent cells.
- Cell assignment is a pure JVM-side expression: argmin over the k centroid
  literals via array_min of (distance, cell) structs — embarrassingly
  parallel, NO shuffle, no Python in the executor path. At 16 cells × 64 dims
  this stays inside whole-stage codegen.
- The probe is a broadcast of (query × nprobe cells); candidates are joined
  on cell id, then exact-reranked within the probed cells only.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import IntegerType, StructField, StructType

from datalakejson_spark.footers import row_count
from datalakejson_spark.functions.similarity import (
    TOP_K,
    cosine_expr,
    cosine_np,
    stack_embeddings,
)
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table
from datalakejson_spark.session import local_df

N_CELLS = 16
N_PROBE = 4
_SAMPLE_CAP = 4096  # quantizer training sample (driver-side, bounded)


#: hard ceiling on the quantizer training sample regardless of nlist — at
#: dim 64 float64 this is ~134 MB on the driver, the bound that keeps the
#: one collect() in the IVF build safe at any corpus size.
_SAMPLE_MAX = 262_144


def train_quantizer(
    emb: DataFrame,
    k: int = N_CELLS,
    seed: int = 42,
    iters: int = 10,
    sample_cap: int | None = None,
    init: list[list[float]] | None = None,
) -> list[list[float]]:
    """Seeded Lloyd's k-means on a bounded deterministic sample, driver-side.

    The sample is the md5-prefix trick (engine-portable determinism, same as
    o3_deterministic_sample) capped at ``sample_cap`` rows (default: enough
    for ~32 training points per requested cell, floored at ``_SAMPLE_CAP``
    and ceilinged at ``_SAMPLE_MAX``) — at any data scale this collects
    thousands of small vectors, never the table. FAISS trains IVF coarse
    quantizers on samples of the same order.

    ``init`` warm-starts Lloyd's from the given centroids instead of a
    random sample draw — the delta-retrain path (:func:`retrain_ivf_delta`)
    seeds with the PERSISTED centroids so centroid i of the result is the
    drifted descendant of cell i: the old→new correspondence is by
    construction, no matching problem, and ``||new_i − old_i||`` IS the
    per-cell drift measurement. A centroid whose neighborhood lost all
    sample mass keeps its old position (zero movement) rather than
    teleporting.
    """
    if sample_cap is None:
        sample_cap = min(max(_SAMPLE_CAP, 32 * k), _SAMPLE_MAX)
    frac_col = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10)
    sample = (
        emb.select("vec_id", "embedding", frac_col.cast("long").alias("h"))
        .orderBy("h", "vec_id")
        .limit(sample_cap)
        .select("embedding")
        .collect()
    )
    x = np.array([r[0] for r in sample], dtype=np.float64)
    rng = np.random.RandomState(seed)
    if init is not None:
        cents = np.array(init, dtype=np.float64).copy()
    else:
        cents = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        # assign: (n, k) squared distances via ||x||^2 - 2 x.c + ||c||^2
        d2 = ((x**2).sum(1)[:, None] - 2 * x @ cents.T + (cents**2).sum(1)[None, :])
        labels = d2.argmin(1)
        # scatter-add means: O(n·d) per iteration regardless of k — the
        # per-cell boolean-mask loop this replaced was O(k·n) and dominated
        # the nlist=1024 build (round 12)
        sums = np.zeros_like(cents)
        np.add.at(sums, labels, x)
        counts = np.bincount(labels, minlength=len(cents))
        nonempty = counts > 0
        cents[nonempty] = sums[nonempty] / counts[nonempty, None]
    return [[float(v) for v in c] for c in cents]


def _dist2_to_literal(centroid: list[float]):
    """Squared euclidean distance from the ``embedding`` column to a centroid
    literal — JVM-side zip_with/aggregate, no UDF."""
    lit = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(
            "embedding", lit, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_cells(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Add the ``cell`` column: argmin over centroid distances, computed as
    array_min over (distance, cell) structs. Pure map-side expression — the
    inverted-list build shuffles nothing."""
    cell = F.array_min(
        F.array(
            *[
                F.struct(_dist2_to_literal(c).alias("d"), F.lit(i).alias("cell"))
                for i, c in enumerate(centroids)
            ]
        )
    )["cell"]
    return emb.withColumn("cell", cell)


def assign_cells_np(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Vectorized cell assignment for large nlist (round 12).

    The expression form above unrolls one zip_with/aggregate PER CENTROID
    into the plan — at nlist = 16 that stays inside a small interpreted
    expression; at nlist ≈ √n (1000+ cells) the plan itself becomes the
    bottleneck (64k+ literal nodes, O(k·d) interpreted ops per row). Here
    the centroid matrix ships once per worker and each Arrow batch is a
    single ||x||²-2xCᵀ+||c||² BLAS argmin. Still a pure map — no shuffle."""
    cmat = np.array(centroids, dtype=np.float64)
    c2 = (cmat**2).sum(axis=1)
    out_schema = StructType(
        list(emb.schema.fields) + [StructField("cell", IntegerType())]
    )
    cols = [f.name for f in emb.schema.fields]

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = stack_embeddings(pdf["embedding"])
            d2 = (x**2).sum(axis=1)[:, None] - 2.0 * (x @ cmat.T) + c2[None, :]
            out = pdf[cols].copy()
            out["cell"] = d2.argmin(axis=1).astype(np.int32)
            yield out

    return emb.mapInPandas(run, out_schema)


#: past this many cells the per-centroid expression unrolling costs more
#: than the Arrow round-trip — ivf_topk switches to assign_cells_np.
_VECTORIZE_CELLS_ABOVE = 32


def default_nprobe(n_cells: int) -> int:
    """The ONE spelling of the nprobe default: probe ~1/16 of cells,
    floored at 4 — nprobe must scale WITH nlist (at nlist=1024, recall@5
    falls 1.0 → 0.984 → 0.596 across nprobe 64 → 4 → 1; SCALE.md,
    tools/ann_recall_curve_r12.jsonl). Both autotune_ivf and the
    persisted-index probe derive from here so they can never drift apart
    (ADVICE r12 — the two-spellings-of-one-default trap)."""
    return max(4, n_cells // 16)


def autotune_ivf(n_vectors: int) -> tuple[int, int]:
    """(n_cells, nprobe) for a corpus of ``n_vectors`` (round 12).

    nlist ∝ √n (the classic IVF balance point: cell scan cost n/nlist vs
    probe-selection cost nlist), snapped to a power of two and clamped to
    [16, 65536]; nprobe = max(4, nlist/16), i.e. probe ~6% of cells.
    Measured (tools/ann_recall_curve_r12.jsonl, SCALE.md): on clustered
    corpora the autotuned setting holds recall@5 = 1.0 at BOTH 10^5
    ((256, 16)) and 10^6 ((1024, 64)) while scanning ~6% of rows; dropping
    nprobe matters more as nlist grows — at nlist=1024 recall falls
    1.0 → 0.984 → 0.596 across nprobe 64 → 4 → 1 — which is why nprobe
    scales WITH nlist here instead of being a constant. The floor is
    regression-pinned in tests/test_tierc.py::test_ann_recall_floor_at_1e5."""
    nlist = 1 << max(4, min(16, round(math.log2(max(1.0, math.sqrt(n_vectors))))))
    return nlist, default_nprobe(nlist)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    n_cells: int = N_CELLS,
    nprobe: int = N_PROBE,
    vectorized: bool | None = None,
) -> DataFrame:
    """Approximate top-k neighbors for each query vector.

    ``queries`` must be a subset of ``emb`` rows (vec_id, embedding).
    ``vectorized=None`` auto-selects the assignment path (expressions for
    small nlist, Arrow/BLAS above ``_VECTORIZE_CELLS_ABOVE``).
    Output: (query_id, neighbor_id, cosine, rn).
    """
    centroids = train_quantizer(emb, k=n_cells)
    if vectorized is None:
        vectorized = n_cells > _VECTORIZE_CELLS_ABOVE
    assigner = assign_cells_np if vectorized else assign_cells
    assigned = assigner(emb, centroids)
    return ivf_probe_topk(
        assigned, centroids, queries, k=k, nprobe=nprobe,
        vectorized_score=vectorized,
    )


def probe_cells(
    queries: DataFrame, centroids: list[list[float]], nprobe: int = N_PROBE
) -> DataFrame:
    """(query_id, q_emb, cell) — each query's ``nprobe`` nearest cells by
    euclidean centroid distance. The centroid set is tiny (≤65536 by
    autotune's clamp) → broadcast crossJoin, one row per (query, probed
    cell); everything downstream joins or prunes on these rows."""
    spark = queries.sparkSession
    cent_df = local_df(
        spark,
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    dist2 = F.aggregate(
        F.zip_with(
            "q_emb",
            "centroid",
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    probe_w = Window.partitionBy("query_id").orderBy("cell_dist", "cell")
    return (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("cell_dist", dist2)
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_emb", "cell")
    )


def ivf_probe_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = N_PROBE,
    vectorized_score: bool = False,
    probes: DataFrame | None = None,
    dedup_candidates: bool = False,
) -> DataFrame:
    """Probe + exact-rerank over a pre-assigned inverted file — factored out
    so an index built once (train + assign are the expensive passes) can be
    probed at many nprobe settings (the recall-curve sweep does exactly
    that). ``vectorized_score`` swaps the interpreted cosine expression for
    the Arrow/einsum pandas UDF — same 6-dp rounding, same ranking; use it
    when the probed candidate set is large (nlist small relative to n or
    nprobe high). ``probes`` lets a caller that already computed (and maybe
    collected) the probe table reuse it instead of re-planning it."""
    if probes is None:
        probes = probe_cells(queries, centroids, nprobe)
    cands = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), "cell"
    )
    score = (
        cosine_np("q_emb", "c_emb")
        if vectorized_score
        else F.round(cosine_expr("q_emb", "c_emb"), 6)
    )
    pairs = (
        F.broadcast(probes)
        .join(cands, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    if dedup_candidates:
        # duplicate-tolerant like the LSH probe: a probe that races a
        # maintenance publish can see a vector TWICE (compacted file moved
        # in, subsumed original not yet deleted) — the copies carry the
        # same embedding, so keeping one of each (query, neighbor) pair is
        # exact, and without it the window would emit duplicate top-k rows
        # (round 13). Persisted-index probes only: the in-memory path can
        # never race maintenance, and the dedup is its own exchange.
        pairs = pairs.dropDuplicates(["query_id", "neighbor_id"])
    scored = pairs.withColumn("cosine", score).select(
        "query_id", "neighbor_id", "cosine"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


@register(
    "l3c_ann_ivf_topk",
    survey="L3",
    extended=True,  # seat rotation r13: L3's driver seats are l3 (exact) +
    # l3e (persisted IVF, which row-for-row-pins parity with this in-memory
    # path in tests/test_ivf_index.py); this stays local-sweep-verified
    sql="""
    -- The ANN result set is approximation-defined, so the checkable contract
    -- is RECALL: the Spark side joins the IVF top-k against the exact
    -- brute-force top-k and emits, per query, whether the index recovered at
    -- least one true nearest neighbor; the oracle asserts that holds for
    -- every query. (Overall recall >= 0.4 is separately asserted in
    -- tests/test_tierc.py.)
    SELECT CAST(vec_id AS BIGINT) AS query_id, true AS found_true_neighbor
    FROM embeddings
    WHERE vec_id < 8
    """,
)
def l3c_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN for the first 8 query vectors, verified against the exact
    baseline inside the query: emits (query_id, found_true_neighbor) so the
    index's recall contract is oracle-checkable."""
    from datalakejson_spark.functions.similarity import ann_recall_check
    from datalakejson_spark.sources.tables import spread_scan

    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_recall_check(ivf_topk(emb, queries), emb, queries)


# --------------------------------------------------------------------------
# Persisted IVF index (round 12): the inverted file as a CELL-PARTITIONED
# parquet table. In-memory ivf_topk rebuilds quantizer + assignment per
# session — fine for one-off queries, wrong for a serving corpus. Persisted,
# the expensive passes run once (build) or per-delta (append), and a probe
# becomes a PARTITION-PRUNED scan: the reader lists only the nprobe cell
# directories each query needs, so probe I/O is n x nprobe / nlist rows no
# matter how big the corpus grows — the same "touch only what the key can
# reach" posture as the dedup index's range sidecars, expressed through
# Spark's native partition pruning instead of custom sidecars.
# --------------------------------------------------------------------------
_IVF_META = "_IVF.json"


def _write_ivf_meta(index_dir: str, meta: dict) -> None:
    from datalakejson_spark.functions.index_maintenance import write_index_meta

    write_index_meta(index_dir, meta, _IVF_META)


def load_ivf_meta(index_dir: str) -> dict:
    from datalakejson_spark.functions.index_maintenance import load_index_meta

    return load_index_meta(
        index_dir, _IVF_META, "build_ivf_index(emb, index_dir)"
    )


def build_ivf_index(
    emb: DataFrame,
    index_dir: str,
    n_cells: int | None = None,
    seed: int = 42,
    measure_recall: bool = False,
    recall_queries: int = 32,
    extra_meta: dict | None = None,
) -> dict:
    """Train the quantizer, assign every vector, and persist the inverted
    file under ``index_dir`` as parquet PARTITIONED BY cell (one file per
    cell: the frame is hash-repartitioned on cell first, so each cell lands
    wholly in one task — without that, partitionBy fans out tasks x cells
    small files). ``n_cells=None`` autotunes nlist from the corpus count.
    The centroid matrix + layout knobs persist in ``_IVF.json`` (atomic
    write), so probes and appends across sessions share one quantizer.
    Returns the meta dict.

    ``measure_recall=True`` additionally records ``baseline_recall`` in the
    meta: recall@k of the fresh index on a deterministic probe set against
    the exact top-k (:func:`ivf_recall_probe`) — the reference point the
    drift-retrain trigger (:func:`ivf_needs_retrain`) compares against.
    One extra exact pass over the corpus (Arrow/BLAS, no shuffle); skip it
    for throwaway indexes.

    A (re)build is a new index identity: any staged deltas or applied-batch
    markers left from the previous life are cleared — publishing an old
    stage into freshly-built cells would resurrect rows the rebuild
    deliberately replaced."""
    import os
    import shutil

    n = emb.count()
    if n_cells is None:
        n_cells, _ = autotune_ivf(n)
    centroids = train_quantizer(emb, k=n_cells, seed=seed)
    assigner = (
        assign_cells_np if n_cells > _VECTORIZE_CELLS_ABOVE else assign_cells
    )
    (
        assigner(emb, centroids)
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(os.path.join(index_dir, "cells"))
    )
    meta = {
        "n_cells": n_cells,
        "seed": seed,
        "n_vectors": n,
        "dim": len(centroids[0]) if centroids else 0,
        # appends must match the persisted parquet type exactly: a float
        # index appended with array<double> rows fails every later read
        # with PARQUET_COLUMN_DATA_TYPE_MISMATCH (parquet never merges
        # element types) — the append path casts deltas to this
        "embedding_type": emb.schema["embedding"].dataType.simpleString(),
        "centroids": centroids,
        # extra_meta lands in the SAME atomic meta write as the index
        # identity — the streaming bootstrap records its batch id here so a
        # replayed bootstrap batch is recognizable with no marker-write
        # crash window (review catch, round 13)
        **(extra_meta or {}),
    }
    # new index identity: stale stages/applied markers/tombstones from a
    # previous life must never publish into (or suppress appends to, or
    # filter probes of) the rebuilt cells. NOTE for rebuild-from-the-index
    # flows: read the corpus through drop_tombstoned (or after a vacuum) —
    # a raw read of cells/ resurrects logically-deleted rows.
    for sub in (_IVF_STAGING, _IVF_APPLIED, "_tombstones"):
        shutil.rmtree(os.path.join(index_dir, sub), ignore_errors=True)
    # the advisory count lives in its own sidecar (ADVICE r13 — appends
    # must never rewrite quantizer meta); written before the meta so the
    # meta's appearance is the build's publish point
    from datalakejson_spark.functions.index_maintenance import write_index_count

    write_index_count(index_dir, n)
    _write_ivf_meta(index_dir, meta)
    if measure_recall:
        meta["baseline_recall"] = ivf_recall_probe(
            emb.sparkSession, index_dir, n_queries=recall_queries
        )
        meta["recall_queries"] = recall_queries
        _write_ivf_meta(index_dir, meta)
    return meta


def ivf_index_append(
    spark: SparkSession,
    new_emb: DataFrame,
    index_dir: str,
    batch_id: str | None = None,
) -> int:
    """Assign a delta against the EXISTING quantizer and append it into the
    cell partitions — the classic IVF posture (cells stay fixed between
    retrains; drift is measured by :func:`ivf_needs_retrain`, and a retrain
    is build_ivf_index again, or :func:`retrain_ivf_delta` when the drift
    is localized). Returns rows appended (0 for an already-applied replay).

    The append is STAGED (round 13): assigned rows land under
    ``_staging/<token>/cells/`` with a ``_COMMITTED`` marker, then publish
    by idempotent per-cell file moves (:func:`_publish_ivf_staged`) — the
    same crash contract as the dedup index's appends, so a kill at any
    point replays to exactly the committed state. ``batch_id`` (streaming
    foreachBatch) makes the append EXACTLY-ONCE across replays: the stage
    token is deterministic (``batch-<id>``), publish records an
    applied-batch marker after all moves complete, and a replay that finds
    the marker skips — without it a replayed micro-batch would duplicate
    its vectors in the cells and every later top-k would emit duplicate
    neighbor rows. The marker is looked up under ``batch_id`` alone, the
    one spelling its caller writes (``b{N}``, or ``<stream>-b{N}`` from a
    stream-namespaced loop). The row count stays advisory observability
    and lives in its OWN sidecar (ADVICE r13): the previous whole-meta
    refresh was an unfenced read-modify-write that could revert a
    concurrent split's centroid flip, orphaning the new cell — this path
    never writes the quantizer meta at all now.

    Small-file accumulation per cell (one file per touched cell per
    append) is the known cadence disease — cured in the loop by
    :func:`ivf_needs_compaction` + :func:`compact_ivf_cells`, mirroring
    the dedup index's tiered fold."""
    import json
    import os
    import shutil
    import uuid as _uuid

    from datalakejson_spark.plans.killpoints import fire

    _publish_ivf_staged(index_dir)  # roll forward a crashed predecessor
    # meta AFTER the publish (review catch, round 13): a rolled-forward
    # SPLIT flips the quantizer, and assigning this delta against the
    # pre-split centroids — or worse, writing the stale snapshot back at
    # the end — would revert the flip and orphan the new cell forever
    meta = load_ivf_meta(index_dir)
    if batch_id is not None and ivf_batch_applied(index_dir, batch_id):
        return 0
    if "embedding_type" in meta:
        new_emb = new_emb.withColumn(
            "embedding", F.col("embedding").cast(meta["embedding_type"])
        )
    _reject_tombstoned_appends(new_emb, index_dir)
    n_new = new_emb.count()
    token = f"batch-{batch_id}" if batch_id is not None else _uuid.uuid4().hex
    stage = os.path.join(index_dir, _IVF_STAGING, token)
    from datalakejson_spark.functions.index_maintenance import (
        settle_committed_replay,
    )

    if settle_committed_replay(index_dir, stage, _IVF_CELLS, _IVF_META):
        # a COMMITTED previous attempt: published (possibly by another
        # process we just waited out) — never rmtree'd and re-staged
        return 0
    assigner = (
        assign_cells_np
        if meta["n_cells"] > _VECTORIZE_CELLS_ABOVE
        else assign_cells
    )
    (
        assigner(new_emb, meta["centroids"])
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(os.path.join(stage, _IVF_CELLS))
    )
    if batch_id is not None:
        with open(os.path.join(stage, "_BATCH.json"), "w") as fh:
            json.dump({"batch_id": str(batch_id)}, fh)
    fire("ivf:append_staged")  # no marker yet: crash = no append happened
    commit_stage(stage, _IVF_CELLS)
    fire("ivf:append_committed")  # committed, not yet published
    out = _publish_ivf_staged(index_dir).get(os.path.basename(stage))
    if out == "corrupt":
        raise RuntimeError(
            f"append batch stage {stage} was committed but lost staged "
            "files before publish (manifest tripwire) — no rows landed; "
            "retry the batch"
        )
    from datalakejson_spark.functions.index_maintenance import bump_index_count

    bump_index_count(index_dir, n_new)
    return n_new


def _reject_tombstoned_appends(new_emb: DataFrame, index_dir: str) -> None:
    """Appending a logically-deleted id would create an INVISIBLE row (the
    probes' tombstone filter is by id) — fail loudly with the upsert
    recipe instead. Cost: zero when no tombstones exist; one bounded
    semi-join count against the broadcast tombstone set otherwise."""
    import pyspark.sql.functions as _F

    from datalakejson_spark.functions.index_maintenance import load_tombstones
    from datalakejson_spark.session import local_df

    ids, _ = load_tombstones(index_dir)
    if not ids:
        return
    ids_df = local_df(
        new_emb.sparkSession, [(int(i),) for i in sorted(ids)], "vec_id bigint"
    )
    clash = (
        new_emb.select("vec_id")
        .join(_F.broadcast(ids_df), "vec_id", "leftsemi")
        .limit(5)
        .collect()
    )
    if clash:
        raise ValueError(
            f"append into {index_dir} contains tombstoned vec_ids "
            f"{sorted(r[0] for r in clash)}… — a tombstoned id stays "
            "invisible to probes, so the new row would be lost. Vacuum "
            "first (vacuum_ivf_deletes / vacuum_lsh_deletes) or use the "
            "upsert verb (ivf_index_upsert), which is delete → vacuum → "
            "append."
        )


def ivf_index_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    k: int = TOP_K,
    nprobe: int | None = None,
) -> DataFrame:
    """Approximate top-k against a persisted index. The probed cell ids are
    collected (bounded: ≤ queries x nprobe ints) and the probed cells' FILE
    LIST is pinned into the scan (explicit paths + basePath, plus the cell
    IN-list as a partition filter — `.explain` still shows PartitionFilters,
    and only those cell directories are read). ``nprobe=None`` applies the
    autotune rule to the persisted nlist. Output:
    (query_id, neighbor_id, cosine, rn).

    Race posture vs concurrent maintenance (ADVICE r13 — the meta/listing
    TOCTOU): the quantizer meta is RE-READ after the probe plan and file
    listing are built, and the plan is rebuilt if a split/retrain flipped
    it in between; conversely, a flip that lands after the re-check can
    only DELETE files this plan already pinned — deletes are ordered
    strictly after the meta flip — so the scan surfaces a missing-file
    error that :func:`probe_retrying` re-plans from, never a silent miss
    (a directory-listing scan would quietly read the post-delete layout
    with pre-flip centroids and drop every re-homed vector)."""
    import os

    from datalakejson_spark.functions.index_maintenance import (
        live_partition_files,
    )

    _publish_ivf_staged(index_dir)  # committed deltas become visible first
    # meta is loaded AFTER the publish (review catch, round 13): rolling a
    # committed SPLIT forward flips the quantizer, and probing the
    # post-split layout with pre-split centroids would silently drop every
    # vector re-homed to the new cell (no error for probe_retrying to see)
    meta = load_ivf_meta(index_dir)
    cells_root = os.path.join(index_dir, _IVF_CELLS)
    for _attempt in range(3):
        eff_nprobe = (
            default_nprobe(meta["n_cells"]) if nprobe is None else nprobe
        )
        probes = probe_cells(
            queries, meta["centroids"], eff_nprobe
        ).localCheckpoint(
            eager=True  # computed once: feeds the cell collect AND the join
        )
        cells = sorted(
            r[0] for r in probes.select("cell").distinct().collect()
        )
        live = live_partition_files(index_dir, _IVF_CELLS)
        paths = [
            os.path.join(cells_root, f"cell={c}", f)
            for c in cells
            for f in live.get(f"cell={c}", [])
        ]
        if _attempt == 2:
            break  # plan/meta consistency over freshness on exhaustion:
            # probes and paths above were built from THIS meta, and a
            # third consecutive mid-plan flip is already pathological —
            # the pinned file list still turns any staleness into a
            # retryable missing-file error, never a silent miss
        fresh = load_ivf_meta(index_dir)
        if (
            fresh["n_cells"] == meta["n_cells"]
            and fresh["centroids"] == meta["centroids"]
        ):
            break
        meta = fresh  # quantizer flipped under the plan: rebuild it
    if not paths:
        return local_df(
            spark,
            [],
            "query_id bigint, neighbor_id bigint, cosine double, rn int",
        )
    from datalakejson_spark.functions.index_maintenance import drop_tombstoned

    inverted = drop_tombstoned(
        spark.read.option("basePath", cells_root)
        .parquet(*paths)
        .filter(F.col("cell").isin(cells)),
        index_dir,
    )
    return ivf_probe_topk(
        inverted,
        meta["centroids"],
        queries,
        k=k,
        nprobe=eff_nprobe,
        vectorized_score=True,
        probes=probes,
        dedup_candidates=True,  # live index: maintenance windows duplicate
    )


def _l3e_plan(spark: SparkSession, sf_dir: str) -> str:
    """The PRE-checkpoint physical plan of the l3e probe, for the plan
    guard (VERDICT r13: the query's returned plan is a checkpointed-RDD
    scan — bounded at queries x k rows, required because the scratch index
    is deleted before returning — which made the probe's ArrowEvalPython
    invisible to test_no_python_eval_in_registered_queries). Rebuilds the
    same scratch index, plans the same probe pipeline, and returns the
    plan string before any checkpoint truncates it."""
    import shutil
    import tempfile

    from datalakejson_spark.functions.similarity import ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    idx = tempfile.mkdtemp(prefix="l3e_plan_")
    try:
        build_ivf_index(emb, idx, n_cells=N_CELLS)
        ann = ivf_index_topk(spark, queries, idx, nprobe=N_PROBE)
        full = ann_recall_check(ann, emb, queries)
        return full._jdf.queryExecution().executedPlan().toString()
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@register(
    "l3e_ann_ivf_persisted",
    survey="L3,S6,X1",
    plan_fn=_l3e_plan,
    # driver tier since r13 (seat rotation): the persisted build-once/
    # probe-many serving shape is the L3 path that matters at scale
    sql="""
    -- Same recall contract as l3c: the persisted-index probe must recover,
    -- for every query, at least one true nearest neighbor from the exact
    -- brute-force top-k; the oracle asserts the boolean per query. The
    -- persistence layer (cell-partitioned parquet + partition-pruned probe
    -- + cross-session quantizer meta) is what this adds over l3c; parity
    -- with the in-memory path is pinned row-for-row in
    -- tests/test_ivf_index.py.
    SELECT CAST(vec_id AS BIGINT) AS query_id, true AS found_true_neighbor
    FROM embeddings
    WHERE vec_id < 8
    """,
)
def l3e_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a persisted cell-partitioned IVF index in a scratch dir, probe
    it with partition pruning, and verify recall against the exact baseline
    — the end-to-end serving shape (build once / probe many) of L3.

    The scratch index is removed before returning (ADVICE r12: mkdtemp
    with no cleanup leaked one index copy per sweep/bench/plan-walk
    invocation): the probe result is eagerly materialized with
    localCheckpoint — bounded at queries x k rows — so the returned plan
    no longer reads the deleted directory."""
    import shutil
    import tempfile

    from datalakejson_spark.functions.similarity import ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    idx = tempfile.mkdtemp(prefix="l3e_ivf_")
    try:
        build_ivf_index(emb, idx, n_cells=N_CELLS)
        ann = ivf_index_topk(spark, queries, idx, nprobe=N_PROBE).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    return ann_recall_check(ann, emb, queries)


def _l3g_plan(spark: SparkSession, sf_dir: str) -> str:
    """PRE-checkpoint physical plan of the l3g lifecycle probe (same plan
    guard contract as _l3e_plan — the scratch index is deleted before the
    query returns, so the returned plan is a checkpointed-RDD scan)."""
    import shutil
    import tempfile

    from datalakejson_spark.functions.similarity import ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    idx = tempfile.mkdtemp(prefix="l3g_plan_")
    try:
        build_ivf_index(emb, idx, n_cells=N_CELLS)
        ann = ivf_index_topk(spark, queries, idx, nprobe=N_PROBE)
        live = emb.filter(~(F.col("vec_id") % 97 == 9))
        full = ann_recall_check(ann, live, queries)
        return full._jdf.queryExecution().executedPlan().toString()
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@register(
    "l3g_ann_ivf_lifecycle",
    survey="L3,S6,X1",
    plan_fn=_l3g_plan,
    # driver tier since r15 (seat rotation, VERDICT r14 #7): the persisted
    # index's DELETE lifecycle — logical tombstone, measured-trigger-style
    # physical vacuum, probe over the survivors — had no driver-visible leg
    sql="""
    -- The lifecycle contract, oracle-checkable as two booleans per query:
    -- after deleting the vec_id % 97 == 9 slice and physically vacuuming
    -- it, the probe must still recover a true nearest neighbor from the
    -- exact brute-force top-k over the LIVE corpus (found_true_neighbor),
    -- and must never surface a deleted id (no_deleted_neighbor). The
    -- deleted slice avoids the query ids (vec_id < 8).
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           true AS found_true_neighbor,
           true AS no_deleted_neighbor
    FROM embeddings
    WHERE vec_id < 8
    """,
)
def l3g_ann_ivf_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-IVF DELETE lifecycle end-to-end (round 15): build the
    cell-partitioned index, logically delete a deterministic ~1% slice
    (``vec_id % 97 == 9``), physically vacuum it (only the affected cells
    rewrite — index_maintenance.vacuum_deleted), then probe and verify BOTH
    halves of the delete contract against the exact baseline: every query
    still recovers a true live nearest neighbor, and no deleted vector
    surfaces. Same scratch-dir + eager-checkpoint shape as l3e (the index
    is removed before returning; _l3g_plan exposes the real plan to the
    plan guard)."""
    import shutil
    import tempfile

    from datalakejson_spark.functions.similarity import ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    doomed_pred = F.col("vec_id") % 97 == 9
    idx = tempfile.mkdtemp(prefix="l3g_ivf_")
    try:
        build_ivf_index(emb, idx, n_cells=N_CELLS)
        doomed = [
            int(r[0])
            for r in emb.filter(doomed_pred).select("vec_id").collect()
        ]
        ivf_index_delete(idx, doomed)
        vacuum_ivf_deletes(spark, idx)
        ann = ivf_index_topk(spark, queries, idx, nprobe=N_PROBE).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    live = emb.filter(~doomed_pred)
    base = ann_recall_check(ann, live, queries)
    deleted_hits = (
        ann.filter(F.col("neighbor_id") % 97 == 9)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_deleted"))
    )
    return base.join(deleted_hits, "query_id", "left").select(
        "query_id",
        "found_true_neighbor",
        F.col("n_deleted").isNull().alias("no_deleted_neighbor"),
    )


# --------------------------------------------------------------------------
# Persisted-index MAINTENANCE plane (round 13). Round 12 shipped the index
# and named its own disease (each append job adds one file per touched cell;
# a long append cadence accumulates small files per cell, and cells stay
# frozen between manual rebuilds while drifting data degrades recall
# silently). The cure mirrors the dedup index's loop policy, re-expressed
# for a partition-keyed layout:
#
# - Appends and compactions ride the one staged-publish protocol every
#   persisted store shares (datalakejson_spark/publish.py: ``_staging/
#   <token>/`` stages, a manifest-verified commit marker, idempotent file
#   moves, ``_SUBSUMED`` snapshots with publish-race loser detection), so
#   every crash window leaves either the old layout or a
#   harmlessly-duplicated cell (duplicate rows change nothing for a top-k
#   probe over distinct vec_ids... they'd duplicate result rows — which is
#   why appends are exactly-once via applied-batch markers, not
#   at-least-once).
# - Run counting reuses the dedup index's generation identity (the job
#   UUID Spark embeds in part filenames): each append is one run per
#   touched cell, a compacted cell is ONE run however many rows it holds —
#   so the trigger measures appends-since-last-compaction, never raw file
#   count (the r11 trap).
# - Recall drift is MEASURED, not guessed: a deterministic probe set is
#   re-evaluated against the exact top-k over the current corpus, and the
#   retrain trigger compares to the build-time baseline recorded in
#   ``_IVF.json``.
# --------------------------------------------------------------------------
_IVF_STAGING = "_staging"
_IVF_APPLIED = "_applied"
_IVF_CELLS = "cells"


# The machinery itself lives in functions/index_maintenance.py (the ANN
# indexes' store steps) on top of datalakejson_spark/publish.py. These
# wrappers keep the historical IVF-default spellings that tests and tools
# pin; they are thin delegations, never a second implementation.
def _ivf_live_files(
    index_dir: str, subdir: str = _IVF_CELLS
) -> dict[str, list[str]]:
    from datalakejson_spark.functions.index_maintenance import (
        live_partition_files,
    )

    return live_partition_files(index_dir, subdir)


def _publish_ivf_staged(
    index_dir: str, subdir: str = _IVF_CELLS
) -> dict[str, str]:
    from datalakejson_spark.functions.index_maintenance import publish_staged

    return publish_staged(index_dir, subdir, _IVF_META)


def ivf_batch_applied(index_dir: str, batch_id: str) -> bool:
    from datalakejson_spark.functions.index_maintenance import batch_applied

    return batch_applied(index_dir, batch_id)


def ivf_needs_compaction(
    index_dir: str, max_runs_per_cell: int = 8, subdir: str = _IVF_CELLS
) -> bool:
    from datalakejson_spark.functions.index_maintenance import needs_compaction

    return needs_compaction(index_dir, max_runs_per_cell, subdir)


def compact_ivf_cells(
    spark: SparkSession,
    index_dir: str,
    max_runs_per_cell: int = 8,
    subdir: str = _IVF_CELLS,
    part_col: str = "cell",
) -> dict[str, tuple[int, int]]:
    """Tiered per-cell fold — see index_maintenance.compact_partitions for
    the policy and crash contract."""
    from datalakejson_spark.functions.index_maintenance import (
        compact_partitions,
    )

    return compact_partitions(
        spark, index_dir, max_runs_per_cell, subdir, part_col, _IVF_META
    )


def ivf_recall_probe(
    spark: SparkSession,
    index_dir: str,
    n_queries: int = 32,
    k: int = TOP_K,
    nprobe: int | None = None,
) -> float:
    """MEASURED recall@k of the persisted index on the CURRENT corpus: a
    deterministic sample of ``n_queries`` indexed vectors (md5-ordered, the
    same engine-portable trick as the quantizer sample) is answered both
    exactly (Arrow/BLAS brute force over the full index — an admin-check
    cost, one narrow scan, no shuffle of embeddings) and through the index
    probe; recall = fraction of exact top-k pairs the probe recovered.

    Sampling from the current corpus is the point: cells are frozen between
    retrains, so as appended data drifts away from the quantizer's training
    distribution, newly-sampled queries increasingly sit near cell
    boundaries the probe misses — recall measured HERE is the quantity that
    silently degrades (the round-12 verdict's named gap)."""
    import os

    from datalakejson_spark.functions.index_maintenance import drop_tombstoned
    from datalakejson_spark.functions.similarity import brute_force_topk_np

    _publish_ivf_staged(index_dir)
    # tombstoned vectors are invisible to probes, so the EXACT side must
    # exclude them too — else every deleted near-neighbor would count as a
    # probe miss and the drift trigger would fire on deletes
    emb = drop_tombstoned(
        spark.read.parquet(os.path.join(index_dir, _IVF_CELLS)).select(
            "vec_id", "embedding"
        ),
        index_dir,
    )
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    queries = (
        emb.withColumn("_h", h)
        .orderBy("_h", "vec_id")
        .limit(n_queries)
        .drop("_h")
        .localCheckpoint(eager=True)  # one sample feeds both sides
    )
    exact = brute_force_topk_np(queries, emb, k=k).select(
        "query_id", "neighbor_id"
    )
    ann = ivf_index_topk(spark, queries, index_dir, k=k, nprobe=nprobe).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(ann, ["query_id", "neighbor_id"], "leftsemi").count()
    total = exact.count()
    return hits / total if total else 1.0


#: absolute recall floor used when an index has no recorded baseline —
#: below this the index is failing its approximation contract outright
#: (the r12 nprobe=1 collapse measured 0.596; SCALE.md).
RETRAIN_RECALL_FLOOR = 0.6
#: measured-drift tolerance: retrain when current recall falls more than
#: this below the build-time baseline.
RETRAIN_DRIFT_TOLERANCE = 0.15


def ivf_needs_retrain(
    spark: SparkSession,
    index_dir: str,
    drift_tolerance: float = RETRAIN_DRIFT_TOLERANCE,
    floor: float = RETRAIN_RECALL_FLOOR,
    n_queries: int | None = None,
) -> tuple[bool, float]:
    """The drift-retrain trigger: ``(needs_retrain, current_recall)``.

    MEASURED, not guessed — the trigger never fires on row counts or append
    cadence (appends matching the training distribution keep recall flat
    forever and deserve no retrain; a modest volume of out-of-distribution
    appends can crater it). It re-runs the recall probe on the current
    corpus and compares to the ``baseline_recall`` recorded at build time
    (``measure_recall=True``): retrain when current < baseline −
    ``drift_tolerance``, or below the absolute ``floor`` either way. With
    no recorded baseline only the floor applies. The remedy is
    :func:`retrain_ivf_delta` when the drift is localized (moves only the
    cells whose centroid drifted — O(moved rows)), or
    :func:`build_ivf_index` over the current corpus for global drift — a
    full compaction AND a fresh quantizer by construction."""
    meta = load_ivf_meta(index_dir)
    if n_queries is None:
        n_queries = int(meta.get("recall_queries", 32))
    current = ivf_recall_probe(spark, index_dir, n_queries=n_queries)
    baseline = meta.get("baseline_recall")
    needs = current < floor or (
        baseline is not None and current < baseline - drift_tolerance
    )
    return needs, current


from datalakejson_spark.functions.index_maintenance import (  # noqa: E402
    APPLIED_RETENTION_S as _APPLIED_RETENTION_S,
    VectorStore,
    probe_retrying,
)
from datalakejson_spark.publish import (  # noqa: E402
    await_publish, commit_stage, write_subsumed,
)


def ivf_cell_rows(index_dir: str) -> dict[int, int]:
    """Rows per cell from the live parquet footers — driver-side, no Spark
    job (cell count bounded by autotune, files per cell by the tiered
    compactor)."""
    import os

    root = os.path.join(index_dir, _IVF_CELLS)
    return {
        int(cell.split("=", 1)[1]): row_count(
            os.path.join(root, cell, f) for f in files
        )
        for cell, files in _ivf_live_files(index_dir).items()
    }


def ivf_overloaded_cells(
    index_dir: str, factor: float = 2.0, min_rows: int = 4096
) -> list[int]:
    """Cells whose MEASURED row count exceeds ``factor x`` the mean (and an
    absolute floor, so tiny indexes never split on noise) — the localized
    symptom a cell SPLIT cures without a corpus retrain: skewed or locally
    drifted data piling into one cell degrades that cell's probe cost
    linearly while every other cell stays healthy."""
    rows = ivf_cell_rows(index_dir)
    if not rows:
        return []
    mean = sum(rows.values()) / max(1, len(rows))
    return sorted(
        c
        for c, r in rows.items()
        if r >= min_rows and r > factor * max(mean, 1.0)
    )


def split_ivf_cell(
    spark: SparkSession, index_dir: str, cell: int, seed: int = 43
) -> int | None:
    """Split one overloaded cell in two — the LOCALIZED re-assignment delta
    (round 13): a 2-means over the cell's own vectors yields two
    sub-centroids, the cell's rows re-assign between the old id and a new
    one, and every other cell is never read or written. Cost O(cell), vs
    the O(corpus) full retrain — the right verb when drift or skew is
    localized (ivf_overloaded_cells), while global drift stays
    ivf_needs_retrain/build_ivf_index's business.

    Crash/concurrency contract rides the staged publish with TWO
    extensions: the stage's ``_SPLIT.json`` claims the new-centroid SLOT
    (two racing splits fence — the loser discards before any move), and
    the quantizer meta flips BETWEEN the moves and the subsumed deletes,
    so every window is probe-exact under the pair dedup: before the flip,
    old-meta probes see the full original files (plus harmless duplicate
    halves after the moves); after the flip, both halves are live before
    anything is deleted. Returns the new cell id, or None when the cell
    was too small/uniform to split or the publish lost a race (rerun)."""
    import json
    import os
    import shutil

    from datalakejson_spark.publish import is_missing_file_error
    from datalakejson_spark.functions.index_maintenance import (
        begin_copier_stage,
    )
    from datalakejson_spark.plans.killpoints import fire

    _publish_ivf_staged(index_dir)
    meta = load_ivf_meta(index_dir)
    cells_root = os.path.join(index_dir, _IVF_CELLS)
    # copier marker BEFORE the pin (round 15): this split's halves are
    # copies of the cell's rows — including any tombstoned ones, since the
    # split deliberately does not filter (the probe filter covers them) —
    # so a concurrent vacuum's tombstone retirement must see this stage
    # from the instant the source listing below could go stale
    stage = begin_copier_stage(index_dir)
    live = _ivf_live_files(index_dir)
    fire("ivf:copier_pinned")
    cell_dir = f"cell={cell}"
    names = live.get(cell_dir) or []
    if not names:
        shutil.rmtree(stage, ignore_errors=True)
        return None
    paths = [os.path.join(cells_root, cell_dir, n) for n in names]
    try:
        rows_df = (
            spark.read.option("basePath", cells_root)
            .parquet(*paths)
            .drop("cell")
        )
        sub_centroids = train_quantizer(rows_df, k=2, seed=seed)
        if len(sub_centroids) < 2 or sub_centroids[0] == sub_centroids[1]:
            shutil.rmtree(stage, ignore_errors=True)
            return None  # too small or degenerate: nothing to split
        new_cell = len(meta["centroids"])
        assigned = assign_cells(rows_df, sub_centroids).withColumn(
            "cell",
            F.when(F.col("cell") == 0, F.lit(cell)).otherwise(F.lit(new_cell)),
        )
        (
            assigned.repartition("cell")
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(os.path.join(stage, _IVF_CELLS))
        )
    except Exception as exc:  # noqa: BLE001 — narrowed to the race below
        if not is_missing_file_error(exc):
            raise
        # a concurrent maintenance publish deleted a listed file between
        # this split's listing and its reads: clean race loser, same
        # contract as compact_ivf_cells (review catch, round 13)
        shutil.rmtree(stage, ignore_errors=True)
        return None
    fire("ivf:split_staged")  # no marker yet: crash = old layout+meta win
    with open(os.path.join(stage, "_SPLIT.json"), "w") as fh:
        json.dump(
            {"cell": cell, "new_cell": new_cell, "centroids": sub_centroids},
            fh,
        )
    write_subsumed(stage, [f"{cell_dir}/{n}" for n in names])
    commit_stage(stage, _IVF_CELLS)
    fire("ivf:split_committed")  # committed, not yet published
    outcome = await_publish(
        VectorStore(index_dir, _IVF_CELLS, _IVF_META), os.path.basename(stage)
    )
    if outcome != "published":
        # "raced" can mean another runner rolled OUR stage forward — check
        # the evidence (our sub-centroid in our slot) before reporting a
        # loss, else the caller's rerun would split the cell twice
        meta_now = load_ivf_meta(index_dir)
        if (
            len(meta_now["centroids"]) > new_cell
            and meta_now["centroids"][new_cell] == sub_centroids[1]
        ):
            return new_cell
        return None  # lost a race (slot or snapshot): rerun against the winner
    return new_cell


#: delta-retrain movement threshold, as a fraction of the mean
#: nearest-neighbor distance between the persisted centroids: a centroid
#: that moved less than this fraction of the typical inter-cell spacing
#: cannot have re-homed a meaningful share of its rows (assignment is
#: argmin over the centroid set — residency only changes near the Voronoi
#: boundary, which sits at half the inter-centroid distance).
RETRAIN_MOVE_TOLERANCE = 0.25


def _mean_nn_spacing(cents: np.ndarray) -> float:
    """Mean nearest-neighbor distance over a centroid set, computed with a
    CHUNKED min-reduction in the gram form (``||a||² + ||b||² − 2a·b`` per
    ≤chunk-row block, row-min, next block): O(chunk·k) driver memory with
    the chunk sized so the distance buffer stays ≤64 MB. The naive
    ``(old[:,None,:] - old[None,:,:])**2`` broadcast is O(k²·d) — at
    autotune's own nlist=65536 upper clamp (the ~4·10⁹-vector regime the
    100 TB posture implies) that intermediate is ~550 GB at d=16, an
    assured driver OOM (VERDICT r14). Same O(k²·d) flops, BLAS-backed."""
    k = len(cents)
    if k < 2:
        return 0.0
    cents = np.asarray(cents, dtype=np.float64)
    sq = (cents**2).sum(axis=1)
    chunk = max(1, min(1024, (8 << 20) // k))  # chunk·k·8B ≤ 64 MB
    nn = np.empty(k, dtype=np.float64)
    for s in range(0, k, chunk):
        e = min(k, s + chunk)
        d2 = sq[s:e, None] + sq[None, :] - 2.0 * (cents[s:e] @ cents.T)
        d2[np.arange(e - s), np.arange(s, e)] = np.inf  # mask self
        np.maximum(d2, 0.0, out=d2)  # gram-form fp negatives
        nn[s:e] = d2.min(axis=1)
    return float(np.sqrt(nn).mean())


def retrain_ivf_delta(
    spark: SparkSession,
    index_dir: str,
    rel_tolerance: float = RETRAIN_MOVE_TOLERANCE,
    seed: int = 42,
    measure_recall: bool = False,
) -> dict:
    """LOCALIZED drift repair (round 14, VERDICT r13 #1 — the last
    O(corpus) remedy): when :func:`ivf_needs_retrain` fires, a full
    ``build_ivf_index`` rewrites every cell even if the drift that cratered
    recall is concentrated in a corner of the space. This verb instead:

    1. retrains the quantizer over the CURRENT corpus sample, WARM-STARTED
       from the persisted centroids (:func:`train_quantizer` with ``init``)
       — centroid i of the result is cell i's drifted descendant, so the
       per-cell drift is just ``||new_i − old_i||``, no matching problem;
    2. selects the cells whose centroid moved beyond ``rel_tolerance`` x
       the mean nearest-neighbor centroid spacing (cells the drift never
       touched move ~0 under the warm start and are NEVER read or written);
    3. re-assigns ONLY the moved cells' rows against the blended final set
       (new positions for moved cells, untouched positions for the rest)
       and publishes through the staged machinery — cost O(moved cells'
       rows), vs O(corpus) for the full rebuild, with the same crash
       contract as cell splits (meta flips between moves and deletes;
       every window probe-exact under the candidate-pair dedup).

    Concurrency fence: the stage records the quantizer GENERATION it was
    planned against (``base_gen``); any split or competing retrain that
    flips the meta first advances the generation and this stage discards
    itself before any move (publish outcome "lost" → rerun). A replay of
    an already-flipped retrain is recognized by its token and rolls the
    moves/deletes forward idempotently.

    Returns ``{"outcome": "published"|"lost"|"noop", "moved_cells": [...],
    "rows_moved": int, "max_move": float, "tolerance": float}``.
    ``measure_recall=True`` re-measures recall on the repaired index and
    re-records it as the drift trigger's ``baseline_recall`` — the same
    admin-cadence contract as ``build_ivf_index(measure_recall=True)``
    (drift that appends made PERMANENT caps achievable recall below the
    original baseline; the repaired measurement is the honest new
    reference, exactly as after a full rebuild). Global drift that a
    localized repair cannot cure stays build_ivf_index's business — the
    trigger re-fires on the refreshed baseline if recall keeps sliding.
    """
    import json
    import os
    import shutil

    from datalakejson_spark.publish import is_missing_file_error
    from datalakejson_spark.functions.index_maintenance import (
        live_partition_files,
    )
    from datalakejson_spark.plans.killpoints import fire

    _publish_ivf_staged(index_dir)
    meta = load_ivf_meta(index_dir)
    old = np.array(meta["centroids"], dtype=np.float64)
    k = len(old)
    cells_root = os.path.join(index_dir, _IVF_CELLS)
    from datalakejson_spark.functions.index_maintenance import drop_tombstoned

    summary = {
        "moved_cells": [],
        "rows_moved": 0,
        "max_move": 0.0,
        "tolerance": 0.0,
    }
    # "current corpus" means the LIVE corpus: logically-deleted vectors
    # neither train the new quantizer nor survive the moved-cell rewrite.
    # The read + training sample collect sit inside the same missing-file
    # race handler as every sibling maintenance verb (ADVICE r14): a
    # concurrent compaction/vacuum/split publish deleting a file mid-sample
    # makes this run a clean race loser, not an exception.
    try:
        corpus = drop_tombstoned(
            spark.read.parquet(cells_root).select("vec_id", "embedding"),
            index_dir,
        )
        new = np.array(
            train_quantizer(corpus, k=k, seed=seed, init=meta["centroids"]),
            dtype=np.float64,
        )
    except Exception as exc:  # noqa: BLE001 — narrowed to the race below
        if not is_missing_file_error(exc):
            raise
        return {**summary, "outcome": "lost"}
    # tolerance: fraction of the mean nearest-neighbor spacing of the OLD
    # centroids — chunked min-reduction, O(chunk·k) driver memory even at
    # autotune's nlist=65536 clamp (see _mean_nn_spacing)
    mean_nn = _mean_nn_spacing(old)
    tol = rel_tolerance * mean_nn
    move = np.sqrt(((new - old) ** 2).sum(axis=1))
    moved = [int(i) for i in np.nonzero(move > tol)[0]]
    summary = {
        "moved_cells": moved,
        "rows_moved": 0,
        "max_move": float(move.max()) if k else 0.0,
        "tolerance": tol,
    }
    if not moved:
        return {**summary, "outcome": "noop"}
    final = old.copy()
    final[moved] = new[moved]
    final_list = [[float(v) for v in c] for c in final]
    from datalakejson_spark.functions.index_maintenance import (
        begin_copier_stage,
    )

    # copier marker BEFORE the pin (round 15): the moved-cell rewrite
    # copies live rows — a concurrent vacuum's tombstone retirement must
    # see this stage from the instant the listing below could go stale
    stage = begin_copier_stage(index_dir)
    token = os.path.basename(stage)
    live = live_partition_files(index_dir, _IVF_CELLS)
    fire("ivf:copier_pinned")
    names = {
        c: live.get(f"cell={c}", []) for c in moved if live.get(f"cell={c}")
    }
    if not names:
        shutil.rmtree(stage, ignore_errors=True)
        return {**summary, "outcome": "noop"}  # moved cells hold no rows
    paths = [
        os.path.join(cells_root, f"cell={c}", n)
        for c, files in sorted(names.items())
        for n in files
    ]
    try:
        from datalakejson_spark.functions.index_maintenance import (
            drop_tombstoned,
        )

        rows_df = drop_tombstoned(
            spark.read.option("basePath", cells_root)
            .parquet(*paths)
            .drop("cell"),
            index_dir,
        )
        n_moved = rows_df.count()
        assigner = (
            assign_cells_np if k > _VECTORIZE_CELLS_ABOVE else assign_cells
        )
        (
            assigner(rows_df, final_list)
            .repartition("cell")
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(os.path.join(stage, _IVF_CELLS))
        )
    except Exception as exc:  # noqa: BLE001 — narrowed to the race below
        if not is_missing_file_error(exc):
            raise
        # a concurrent maintenance publish deleted a listed file between
        # this retrain's listing and its reads: clean race loser, same
        # contract as compact/split
        shutil.rmtree(stage, ignore_errors=True)
        return {**summary, "outcome": "lost"}
    fire("ivf:retrain_staged")  # no marker yet: crash = old layout+meta win
    with open(os.path.join(stage, "_RETRAIN.json"), "w") as fh:
        json.dump(
            {
                "token": token,
                "base_gen": meta.get("gen", 0),
                "centroids": final_list,
                "moved": moved,
            },
            fh,
        )
    write_subsumed(
        stage, [f"cell={c}/{n}" for c, files in names.items() for n in files]
    )
    commit_stage(stage, _IVF_CELLS)
    fire("ivf:retrain_committed")  # committed, not yet published
    outcome = await_publish(VectorStore(index_dir, _IVF_CELLS, _IVF_META), token)
    if outcome != "published":
        if load_ivf_meta(index_dir).get("retrain_token") == token:
            pass  # another runner rolled our stage forward: published
        elif outcome == "pending":
            # a wedged contender holds the flip mutex: the committed stage
            # WILL roll forward on a later publish — surface "pending" so
            # the caller does not rerun the verb on top of it
            return {**summary, "outcome": "pending"}
        else:
            return {**summary, "outcome": "lost"}  # gen fence: rerun vs winner
    summary.update(rows_moved=int(n_moved), outcome="published")
    if measure_recall:
        nq = int(meta.get("recall_queries", 32))
        recall = ivf_recall_probe(spark, index_dir, n_queries=nq)
        fresh = load_ivf_meta(index_dir)
        if fresh.get("retrain_token") == token:  # ours is still the live flip
            fresh["baseline_recall"] = recall
            fresh["recall_queries"] = nq
            _write_ivf_meta(index_dir, fresh)
        summary["recall"] = recall
    return summary


def ivf_index_delete(index_dir: str, ids) -> int:
    """LOGICAL delete (SURVEY L3 lifecycle, round 14): tombstone the ids —
    every later probe anti-filters them immediately; the PHYSICAL removal
    is :func:`vacuum_ivf_deletes` behind the measured
    :func:`ivf_needs_vacuum` trigger. Idempotent (re-deleting is
    harmless), race-free (one immutable tombstone file per call). A
    tombstoned id cannot be re-appended until vacuumed — the probe filter
    is by id, so the revived row would be invisible; ivf_index_append
    checks and fails loudly, and :func:`ivf_index_upsert` is the
    delete-vacuum-append composition."""
    from datalakejson_spark.functions.index_maintenance import add_tombstones

    return add_tombstones(index_dir, ids)


def ivf_needs_vacuum(index_dir: str) -> tuple[bool, dict]:
    from datalakejson_spark.functions.index_maintenance import needs_vacuum

    return needs_vacuum(index_dir)


def vacuum_ivf_deletes(spark: SparkSession, index_dir: str) -> dict:
    """Physically remove tombstoned vectors: rewrite ONLY the cells that
    hold them (staged, snapshot-fenced), then retire exactly the tombstone
    files covered — see index_maintenance.vacuum_deleted."""
    from datalakejson_spark.functions.index_maintenance import vacuum_deleted

    return vacuum_deleted(spark, index_dir, _IVF_CELLS, "cell", _IVF_META)


def ivf_index_upsert(
    spark: SparkSession, rows: DataFrame, index_dir: str
) -> int:
    """Replace-by-id: tombstone the incoming ids, vacuum them physically
    (only the cells holding them rewrite), then append the new rows
    against the existing quantizer. An admin-verb composition — the
    streaming path stays append-only by design.

    The vacuum RERUNS until this call's ids are physically gone (round 15
    — found by the 10^6 delete soak): vacuum_deleted is a clean RACE LOSER
    against a concurrent compaction/split publish (tombstones kept, caller
    reruns — its own contract), so a single vacuum pass under a racing
    compactor can leave the ids tombstoned and the closing append would
    reject them loudly. Bounded retries; still-tombstoned after that is a
    real error, not a swallowed one."""
    from datalakejson_spark.functions.index_maintenance import load_tombstones

    ids = {int(r[0]) for r in rows.select("vec_id").distinct().collect()}
    ivf_index_delete(index_dir, ids)
    for _ in range(8):
        vacuum_ivf_deletes(spark, index_dir)
        if not (load_tombstones(index_dir)[0] & ids):
            break
    else:
        raise RuntimeError(
            f"ivf_index_upsert: {len(ids)} ids still tombstoned after 8 "
            f"vacuum attempts at {index_dir} — a maintenance publisher is "
            "winning every race; retry when the index quiesces"
        )
    return ivf_index_append(spark, rows, index_dir)


def ivf_maintenance_tick(
    spark: SparkSession,
    index_dir: str,
    max_runs_per_cell: int = 8,
    overload_factor: float = 2.0,
    overload_min_rows: int = 4096,
    max_splits: int = 4,
    drift_check: bool = False,
    drift_tolerance: float = RETRAIN_DRIFT_TOLERANCE,
) -> dict:
    """One pass of the persisted-IVF ops loop: every maintenance verb the
    index has, applied in cost order, each gated on ITS OWN measured
    trigger — the single entry point an operator (or a cron) runs on a
    cadence, mirroring the dedup index's drain-loop policy.

    1. roll committed stages forward (crash recovery is free here);
    2. vacuum when the measured tombstone trigger fires (O(affected
       cells) rewrite — logical deletes stay probe-filtered until then);
    3. tiered fold when any cell crossed ``max_runs_per_cell`` write
       generations (O(appended tail));
    4. split each measured-overloaded cell, up to ``max_splits`` per tick
       (O(cell) each — skew repair without touching healthy cells);
    5. with ``drift_check=True``: measure recall (an exact corpus pass —
       that is why it is opt-in per tick, matching the streams'
       ``retrain_check_every`` cadence), and when the trigger fires run
       the LOCALIZED delta retrain (O(moved rows), baseline re-recorded).
       If recall still fails the trigger afterwards the drift is global:
       the tick RECOMMENDS ``build_ivf_index`` in its report and never
       runs it — a full rebuild is an explicit admin decision, exactly
       like the dedup index's major compaction.

    Returns a report dict listing what ran, what it measured, and what it
    recommends; {"actions": []} means a healthy index cost one directory
    scan."""
    from datalakejson_spark.functions.index_maintenance import (
        compact_tombstones,
    )

    actions: list[dict] = []
    report: dict = {"actions": actions, "recommend_rebuild": False}
    _publish_ivf_staged(index_dir)
    folded = compact_tombstones(index_dir)
    if folded:
        actions.append({"verb": "fold_tombstones", "files": folded})
    vac_needed, _vac_stats = ivf_needs_vacuum(index_dir)
    if vac_needed:
        vac = vacuum_ivf_deletes(spark, index_dir)
        actions.append({"verb": "vacuum", **vac})
    if ivf_needs_compaction(index_dir, max_runs_per_cell):
        folded = compact_ivf_cells(
            spark, index_dir, max_runs_per_cell=max(1, max_runs_per_cell // 2)
        )
        actions.append({"verb": "compact", "cells": len(folded)})
    overloaded = ivf_overloaded_cells(
        index_dir, factor=overload_factor, min_rows=overload_min_rows
    )
    for cell in overloaded[:max_splits]:
        new_cell = split_ivf_cell(spark, index_dir, cell)
        actions.append({"verb": "split", "cell": cell, "new_cell": new_cell})
    if drift_check:
        needs, recall = ivf_needs_retrain(
            spark, index_dir, drift_tolerance=drift_tolerance
        )
        report["recall"] = recall
        if needs:
            res = retrain_ivf_delta(spark, index_dir, measure_recall=True)
            actions.append(
                {
                    "verb": "delta_retrain",
                    "outcome": res["outcome"],
                    "moved_cells": len(res["moved_cells"]),
                    "rows_moved": res["rows_moved"],
                    "recall": res.get("recall"),
                }
            )
            still_needs, recall2 = ivf_needs_retrain(
                spark, index_dir, drift_tolerance=drift_tolerance
            )
            report["recall"] = recall2
            if still_needs:
                # localized repair could not cure it: the drift is global
                # (or the floor is breached) — full rebuild is the remedy,
                # and it is an admin decision, not a tick side effect
                report["recommend_rebuild"] = True
    return report
