"""Persisted LSH ANN index (SURVEY.md §2.12 L3, round 13): the
random-hyperplane LSH of similarity.py as a build-once / probe-many index,
mirroring the persisted IVF index (functions/ivf.py) — bucket-partitioned
parquet with partition-pruned probes.

Layout: ``{index_dir}/buckets/tb=N/part-*.parquet`` where ``tb = table *
2^planes + bucket`` (one composite partition key instead of a nested
table=/bucket= tree: a single IN-list partition filter, one directory level,
and the same ``<col>=`` shape the shared maintenance plane already speaks).
``_LSH.json`` persists the family definition (planes, tables, seed, dim) so
probes and appends across sessions derive the SAME hyperplane tensor — the
tensor itself is fully determined by (dim, planes, tables, seed), so only
those four numbers need to persist (similarity.lsh_planes).

Probe cost: each query hashes driver-side (numpy, identical matmul+sign to
the executor-side bucketer), collects its bounded ``tables`` bucket ids,
and the scan reads ONLY those tb partitions — probe I/O ≈ q x tables x
(n / 2^planes) rows at any corpus size, the LSH twin of the IVF
PartitionFilters posture. The autotune rule (similarity.autotune_lsh) keeps
n / 2^planes ≈ constant as the corpus grows, so probe cost stays flat.

Maintenance is SHARED with the IVF index: staged exactly-once appends,
publish-race fencing, tiered per-partition compaction, all via
functions/index_maintenance.py on top of the one staged-publish protocol in
datalakejson_spark/publish.py.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datalakejson_spark.footers import row_count
from datalakejson_spark.functions.index_maintenance import (
    batch_applied,
    bump_index_count,
    compact_partitions,
    live_partition_files,
    load_index_meta,
    needs_compaction,
    publish_staged,
    write_index_count,
    write_index_meta,
)
from datalakejson_spark.functions.similarity import (
    LSH_SEED,
    N_TABLES,
    TOP_K,
    autotune_lsh,
    cosine_np,
    lsh_bucket_np,
    lsh_planes,
)
from datalakejson_spark.publish import commit_stage
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table

_LSH_META = "_LSH.json"
_BUCKETS = "buckets"


def _write_lsh_meta(index_dir: str, meta: dict) -> None:
    write_index_meta(index_dir, meta, _LSH_META)


def load_lsh_meta(index_dir: str) -> dict:
    return load_index_meta(
        index_dir, _LSH_META, "build_lsh_index(emb, index_dir)"
    )


def _with_tb(bucketed: DataFrame, n_planes: int) -> DataFrame:
    """Collapse (table, bucket) into the composite partition key."""
    return bucketed.withColumn(
        "tb",
        (F.col("table").cast("int") * (1 << n_planes) + F.col("bucket")).cast(
            "int"
        ),
    ).drop("table", "bucket")


def build_lsh_index(
    emb: DataFrame,
    index_dir: str,
    n_planes: int | None = None,
    n_tables: int = N_TABLES,
    seed: int = LSH_SEED,
    extra_meta: dict | None = None,
) -> dict:
    """Bucket every vector under the seeded-Gaussian family and persist the
    exploded (vector x table) rows as parquet PARTITIONED BY tb (one file
    per bucket: repartition("tb") first, same reasoning as the IVF build).
    ``n_planes=None`` autotunes from the corpus count
    (similarity.autotune_lsh: planes = log2(n / target_bucket_rows), the
    knob that keeps probe cost flat across corpus decades). Like
    build_ivf_index, a (re)build is a new index identity: stale stages and
    applied-batch markers are cleared."""
    import os
    import shutil

    n = emb.count()
    if n_planes is None:
        n_planes, n_tables = autotune_lsh(n, n_tables=n_tables)
    dim = len(emb.select("embedding").first()[0])
    (
        _with_tb(lsh_bucket_np(emb, n_planes, n_tables, seed), n_planes)
        .repartition("tb")
        .write.partitionBy("tb")
        .mode("overwrite")
        .parquet(os.path.join(index_dir, _BUCKETS))
    )
    meta = {
        "n_planes": n_planes,
        "n_tables": n_tables,
        "seed": seed,
        "dim": dim,
        "n_vectors": n,
        "embedding_type": emb.schema["embedding"].dataType.simpleString(),
        # same contract as build_ivf_index: extra_meta (e.g. the streaming
        # bootstrap batch id) lands in the same atomic meta write
        **(extra_meta or {}),
    }
    for sub in ("_staging", "_applied", "_tombstones"):
        shutil.rmtree(os.path.join(index_dir, sub), ignore_errors=True)
    # advisory count sidecar before the meta — same contract as the IVF
    # build (the meta's appearance is the publish point)
    write_index_count(index_dir, n)
    _write_lsh_meta(index_dir, meta)
    return meta


def lsh_index_append(
    spark: SparkSession,
    new_emb: DataFrame,
    index_dir: str,
    batch_id: str | None = None,
) -> int:
    """Bucket a delta under the PERSISTED family definition and append it
    into the tb partitions — staged, exactly-once under ``batch_id``,
    riding the shared publish machinery (see ivf_index_append for the
    crash-window ledger and the one marker spelling; identical here with
    subdir="buckets")."""
    import json
    import os
    import shutil
    import uuid as _uuid

    from datalakejson_spark.plans.killpoints import fire

    publish_staged(index_dir, _BUCKETS, _LSH_META)
    meta = load_lsh_meta(index_dir)
    if batch_id is not None and batch_applied(index_dir, batch_id):
        return 0
    if "embedding_type" in meta:
        new_emb = new_emb.withColumn(
            "embedding", F.col("embedding").cast(meta["embedding_type"])
        )
    from datalakejson_spark.functions.ivf import _reject_tombstoned_appends

    _reject_tombstoned_appends(new_emb, index_dir)
    n_new = new_emb.count()
    token = f"batch-{batch_id}" if batch_id is not None else _uuid.uuid4().hex
    stage = os.path.join(index_dir, "_staging", token)
    from datalakejson_spark.functions.index_maintenance import (
        settle_committed_replay,
    )

    if settle_committed_replay(index_dir, stage, _BUCKETS, _LSH_META):
        return 0  # committed previous attempt published, never re-staged
    (
        _with_tb(
            lsh_bucket_np(
                new_emb, meta["n_planes"], meta["n_tables"], meta["seed"]
            ),
            meta["n_planes"],
        )
        .repartition("tb")
        .write.partitionBy("tb")
        .mode("overwrite")
        .parquet(os.path.join(stage, _BUCKETS))
    )
    if batch_id is not None:
        with open(os.path.join(stage, "_BATCH.json"), "w") as fh:
            json.dump({"batch_id": str(batch_id)}, fh)
    fire("lsh:append_staged")
    commit_stage(stage, _BUCKETS)
    fire("lsh:append_committed")
    out = publish_staged(index_dir, _BUCKETS, _LSH_META).get(
        os.path.basename(stage)
    )
    if out == "corrupt":
        raise RuntimeError(
            f"append batch stage {stage} was committed but lost staged "
            "files before publish (manifest tripwire) — no rows landed; "
            "retry the batch"
        )
    # advisory counter bump in the sidecar ONLY (ADVICE r13: writing back
    # the meta dict loaded at entry could clobber a concurrent rebuild's
    # fresh family definition, silently zeroing recall — the append path
    # never writes _LSH.json now, mirroring the IVF fix)
    bump_index_count(index_dir, n_new)
    return n_new


def lsh_index_delete(index_dir: str, ids) -> int:
    """Logical delete — the LSH twin of ivf_index_delete (one immutable
    tombstone file; probes anti-filter immediately; physical removal is
    :func:`vacuum_lsh_deletes` behind the measured needs_vacuum
    trigger)."""
    from datalakejson_spark.functions.index_maintenance import add_tombstones

    return add_tombstones(index_dir, ids)


def lsh_needs_vacuum(index_dir: str) -> tuple[bool, dict]:
    from datalakejson_spark.functions.index_maintenance import needs_vacuum

    return needs_vacuum(index_dir)


def vacuum_lsh_deletes(spark: SparkSession, index_dir: str) -> dict:
    """Physically remove tombstoned vectors from every tb partition that
    holds them (a vector lives in ``n_tables`` partitions) — see
    index_maintenance.vacuum_deleted."""
    from datalakejson_spark.functions.index_maintenance import vacuum_deleted

    return vacuum_deleted(spark, index_dir, _BUCKETS, "tb", _LSH_META)


def lsh_index_upsert(
    spark: SparkSession, rows: DataFrame, index_dir: str
) -> int:
    """Replace-by-id — the LSH twin of ivf_index_upsert (round 15, closing
    the one verb asymmetry between the persisted indexes): tombstone the
    incoming ids, vacuum them physically from every tb partition, then
    append the new rows under the persisted family definition. The vacuum
    RERUNS until this call's ids are physically gone (vacuum_deleted is a
    clean race loser against a concurrent fold's publish — same soak-found
    hazard as the IVF verb, same bounded-retry remedy)."""
    from datalakejson_spark.functions.index_maintenance import load_tombstones

    ids = {int(r[0]) for r in rows.select("vec_id").distinct().collect()}
    lsh_index_delete(index_dir, ids)
    for _ in range(8):
        vacuum_lsh_deletes(spark, index_dir)
        if not (load_tombstones(index_dir)[0] & ids):
            break
    else:
        raise RuntimeError(
            f"lsh_index_upsert: {len(ids)} ids still tombstoned after 8 "
            f"vacuum attempts at {index_dir} — a maintenance publisher is "
            "winning every race; retry when the index quiesces"
        )
    return lsh_index_append(spark, rows, index_dir)


def lsh_needs_compaction(index_dir: str, max_runs_per_bucket: int = 8) -> bool:
    return needs_compaction(index_dir, max_runs_per_bucket, _BUCKETS)


def compact_lsh_buckets(
    spark: SparkSession, index_dir: str, max_runs_per_bucket: int = 8
) -> dict[str, tuple[int, int]]:
    """Tiered per-bucket fold — the shared compact_partitions over tb."""
    return compact_partitions(
        spark, index_dir, max_runs_per_bucket, _BUCKETS, "tb", _LSH_META
    )


def _query_tbs(meta: dict, qm: np.ndarray) -> np.ndarray:
    """(q, tables) composite bucket ids for a query matrix, computed
    DRIVER-SIDE with the identical matmul + sign-packing the executor-side
    bucketer (similarity.lsh_bucket_np) runs — same float64 ops on the same
    seeded tensor give bit-identical buckets, so the probe's partition list
    is exactly the partitions the candidates live in."""
    pl = lsh_planes(meta["dim"], meta["n_planes"], meta["n_tables"], meta["seed"])
    weights = 1 << np.arange(meta["n_planes"])
    out = np.empty((len(qm), meta["n_tables"]), dtype=np.int64)
    for t in range(meta["n_tables"]):
        bits = (qm @ pl[t].T) > 0
        out[:, t] = t * (1 << meta["n_planes"]) + (bits * weights).sum(axis=1)
    return out


def lsh_index_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    k: int = TOP_K,
) -> DataFrame:
    """Approximate top-k against a persisted LSH index. Each query's
    ``n_tables`` bucket ids are computed driver-side (bounded: the query
    set is the broadcast side by contract) and pushed into the scan as a
    PARTITION filter — only those tb directories are read, so probe I/O is
    q x tables x (corpus / 2^planes) rows no matter how big the corpus
    grows. Candidates sharing a bucket in ANY table score once
    (dropDuplicates, same semantics as similarity.lsh_ann_topk_np — parity
    pinned row-for-row in tests/test_lsh_index.py). Output:
    (query_id, neighbor_id, cosine, rn).

    Race posture vs concurrent maintenance (the IVF probe's round-14
    contract, mirrored): the family meta is RE-READ after the bucket file
    list is pinned and the probe re-plans if a rebuild changed the family
    in between; a maintenance delete landing after the re-check hits a
    PINNED file path and surfaces as a missing-file error probe_retrying
    re-plans from — never a silently smaller candidate set."""
    import os

    from datalakejson_spark.session import local_df

    publish_staged(index_dir, _BUCKETS, _LSH_META)
    meta = load_lsh_meta(index_dir)
    buckets_root = os.path.join(index_dir, _BUCKETS)
    qrows = queries.select("vec_id", "embedding").orderBy("vec_id").collect()
    q_ids = [int(r[0]) for r in qrows]
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)

    def _family(m: dict) -> tuple:
        return (m["n_planes"], m["n_tables"], m["seed"], m["dim"])

    for _attempt in range(3):
        tbs = _query_tbs(meta, qm)
        wanted = sorted({int(tb) for row in tbs for tb in row})
        live = live_partition_files(index_dir, _BUCKETS)
        paths = [
            os.path.join(buckets_root, f"tb={tb}", f)
            for tb in wanted
            for f in live.get(f"tb={tb}", [])
        ]
        if _attempt == 2:
            break  # plan/meta consistency over freshness on exhaustion —
            # same contract as the IVF probe: tbs/paths were built from
            # THIS meta, and the pinned paths make staleness a retryable
            # error, never a silently smaller candidate set
        fresh = load_lsh_meta(index_dir)
        if _family(fresh) == _family(meta):
            break
        meta = fresh  # family flipped under the plan (rebuild): re-hash
    probe = local_df(
        spark,
        [
            (q_ids[i], [float(v) for v in qm[i]], int(tb))
            for i in range(len(q_ids))
            for tb in sorted(set(tbs[i].tolist()))
        ],
        "query_id bigint, q_emb array<double>, tb int",
    )
    if not paths:
        return local_df(
            spark,
            [],
            "query_id bigint, neighbor_id bigint, cosine double, rn int",
        )
    from datalakejson_spark.functions.index_maintenance import drop_tombstoned

    cands = drop_tombstoned(
        spark.read.option("basePath", buckets_root)
        .parquet(*paths)
        .filter(F.col("tb").isin(wanted)),
        index_dir,
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "tb",
    )
    pairs = (
        F.broadcast(probe)
        .join(cands, "tb")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_emb", "neighbor_id", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = pairs.select(
        "query_id", "neighbor_id", cosine_np("q_emb", "c_emb").alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def _l3f_plan(spark: SparkSession, sf_dir: str) -> str:
    """The PRE-checkpoint physical plan of the l3f probe, for the plan
    guard — same contract as ivf._l3e_plan (VERDICT r13: the returned
    checkpointed-RDD plan hid the probe's cosine_np ArrowEvalPython from
    the Python-eval guard)."""
    import shutil
    import tempfile

    from datalakejson_spark.functions.similarity import ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    idx = tempfile.mkdtemp(prefix="l3f_plan_")
    try:
        build_lsh_index(emb, idx)
        ann = lsh_index_topk(spark, queries, idx)
        full = ann_recall_check(ann, emb, queries)
        return full._jdf.queryExecution().executedPlan().toString()
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@register(
    "l3f_ann_lsh_persisted",
    survey="L3,S6,X1",
    # driver tier since r14 (seat rotation): the persisted-LSH serving path
    # had no driver seat; L2's l2_minhash_lsh_pairs rotated to extended
    # (L2 keeps its driver row via l7_decontamination)
    plan_fn=_l3f_plan,
    sql="""
    -- Same recall contract as l3b/l3e: the persisted-index probe must
    -- recover, for every query, at least one true nearest neighbor from
    -- the exact brute-force top-k; the oracle asserts the boolean per
    -- query. What this adds over l3b is the persistence layer:
    -- bucket-partitioned parquet, a cross-session family definition in
    -- _LSH.json, and a partition-pruned probe (PartitionFilters pinned in
    -- tests/test_lsh_index.py).
    SELECT CAST(vec_id AS BIGINT) AS query_id, true AS found_true_neighbor
    FROM embeddings
    WHERE vec_id < 8
    """,
)
def l3f_ann_lsh_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a persisted bucket-partitioned LSH index in a scratch dir,
    probe it with partition pruning, and verify recall against the exact
    baseline — the LSH twin of l3e. The scratch index is removed before
    returning (the probe result is eagerly materialized, bounded at
    queries x k rows)."""
    import shutil
    import tempfile

    from datalakejson_spark.functions.similarity import ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    idx = tempfile.mkdtemp(prefix="l3f_lsh_")
    try:
        build_lsh_index(emb, idx)  # autotuned planes, 8 tables
        ann = lsh_index_topk(spark, queries, idx).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    return ann_recall_check(ann, emb, queries)


def _l3h_plan(spark: SparkSession, sf_dir: str) -> str:
    """PRE-checkpoint physical plan of the l3h lifecycle probe (same plan
    guard contract as _l3f_plan)."""
    import shutil
    import tempfile

    from datalakejson_spark.functions.similarity import ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    idx = tempfile.mkdtemp(prefix="l3h_plan_")
    try:
        build_lsh_index(emb, idx)
        ann = lsh_index_topk(spark, queries, idx)
        live = emb.filter(~(F.col("vec_id") % 97 == 9))
        full = ann_recall_check(ann, live, queries)
        return full._jdf.queryExecution().executedPlan().toString()
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@register(
    "l3h_ann_lsh_lifecycle",
    survey="L3,S6,X1",
    extended=True,  # the driver tier carries the lifecycle via l3g (IVF);
    # this keeps the LSH delete lifecycle oracle-verified locally
    plan_fn=_l3h_plan,
    sql="""
    -- The LSH twin of l3g's lifecycle contract: after deleting the
    -- vec_id % 97 == 9 slice and physically vacuuming it from every tb
    -- partition, the probe must still recover a true nearest neighbor
    -- from the exact brute-force top-k over the LIVE corpus, and must
    -- never surface a deleted id. The deleted slice avoids the query ids.
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           true AS found_true_neighbor,
           true AS no_deleted_neighbor
    FROM embeddings
    WHERE vec_id < 8
    """,
)
def l3h_ann_lsh_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-LSH DELETE lifecycle end-to-end (round 15, the l3g
    twin): build the bucket-partitioned index, logically delete the
    deterministic ~1% slice, physically vacuum every tb-partition copy,
    probe, and verify both halves of the delete contract against the
    exact baseline over the live corpus."""
    import shutil
    import tempfile

    from datalakejson_spark.functions.similarity import ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    doomed_pred = F.col("vec_id") % 97 == 9
    idx = tempfile.mkdtemp(prefix="l3h_lsh_")
    try:
        build_lsh_index(emb, idx)
        doomed = [
            int(r[0])
            for r in emb.filter(doomed_pred).select("vec_id").collect()
        ]
        lsh_index_delete(idx, doomed)
        vacuum_lsh_deletes(spark, idx)
        ann = lsh_index_topk(spark, queries, idx).localCheckpoint(eager=True)
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


def lsh_maintenance_tick(
    spark: SparkSession,
    index_dir: str,
    max_runs_per_bucket: int = 8,
    retune_check: bool = True,
    target_bucket_rows: int = 2000,
) -> dict:
    """One pass of the persisted-LSH ops loop — the LSH twin of
    ivf_maintenance_tick, with the verbs this plane has: roll committed
    stages forward, vacuum on the measured tombstone trigger, tiered fold
    on the run-count trigger, and (footer-only, so on by default) the
    candidate-volume retune reading. A needed re-plane is REPORTED
    (``recommend_replanes``) and never run — a rebuild with autotuned
    planes is an explicit admin decision."""
    actions: list[dict] = []
    report: dict = {"actions": actions, "recommend_replanes": None}
    publish_staged(index_dir, _BUCKETS, _LSH_META)
    from datalakejson_spark.functions.index_maintenance import (
        compact_tombstones,
        needs_vacuum,
    )

    folded = compact_tombstones(index_dir)
    if folded:
        actions.append({"verb": "fold_tombstones", "files": folded})
    if needs_vacuum(index_dir)[0]:
        vac = vacuum_lsh_deletes(spark, index_dir)
        actions.append({"verb": "vacuum", **vac})
    if lsh_needs_compaction(index_dir, max_runs_per_bucket):
        folded = compact_lsh_buckets(
            spark, index_dir, max_runs_per_bucket=max(1, max_runs_per_bucket // 2)
        )
        actions.append({"verb": "compact", "buckets": len(folded)})
    if retune_check:
        needs, stats = lsh_needs_retune(
            index_dir, target_bucket_rows=target_bucket_rows
        )
        report["mean_bucket_rows"] = stats["mean_rows"]
        if needs:
            report["recommend_replanes"] = stats["recommended_planes"]
    return report


def lsh_bucket_stats(index_dir: str) -> dict:
    """MEASURED per-bucket row statistics from the live parquet footers —
    driver-side, no Spark job (partition count is bounded by
    tables x 2^planes, file count per partition by the tiered compactor).
    Returns {"partitions", "total_rows", "mean_rows", "max_rows"}."""
    import os

    root = os.path.join(index_dir, _BUCKETS)
    per_tb = {
        tb: row_count(os.path.join(root, tb, f) for f in files)
        for tb, files in live_partition_files(index_dir, _BUCKETS).items()
    }
    counts = [c for c in per_tb.values() if c > 0]
    total = sum(counts)
    return {
        "partitions": len(counts),
        "total_rows": total,
        "mean_rows": (total / len(counts)) if counts else 0.0,
        "max_rows": max(counts) if counts else 0,
    }


def lsh_needs_retune(
    index_dir: str,
    target_bucket_rows: int = 2000,
    factor: float = 4.0,
) -> tuple[bool, dict]:
    """The LSH health trigger, MEASURED like the IVF recall-drift one but
    on the quantity that actually degrades for LSH: candidate VOLUME.
    Recall at fixed planes is decade-stable (collision probability depends
    on angles, not corpus size — SCALE.md, r12 curve), but every query
    scans ~tables x mean_bucket_rows candidates, so a corpus that outgrows
    its planes pays linearly growing probes while returning the same
    answers — a silent cost regression, not a wrong answer. Fires when the
    measured mean bucket size exceeds ``factor x target_bucket_rows`` (the
    autotune invariant it was built to hold); the cure is a rebuild with
    autotuned planes (``build_lsh_index(..., n_planes=None)``), which the
    returned stats spell out (``recommended_planes``). Returns
    ``(needs_retune, stats)``."""
    meta = load_lsh_meta(index_dir)
    stats = lsh_bucket_stats(index_dir)
    per_vector_rows = max(1, stats["total_rows"] // max(1, meta["n_tables"]))
    rec_planes, _ = autotune_lsh(
        per_vector_rows, target_bucket_rows, meta["n_tables"]
    )
    stats.update(
        {
            "planes": meta["n_planes"],
            "recommended_planes": rec_planes,
            "target_bucket_rows": target_bucket_rows,
        }
    )
    return stats["mean_rows"] > factor * target_bucket_rows, stats
