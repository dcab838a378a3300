"""Curated-lake compaction and replay vacuuming (the standard companion to
high-fan-out partitioned appends; SCALE.md ingest notes).

Micro-batch appends to ``year=/month=/day=/mode=`` create one file per task
per batch; over months that's thousands of small files per partition, and at
100 TB the scan cost becomes dominated by file-open overhead. Compaction
rewrites the affected partitions into target-size files.

Every curated-lake write (ingest, compaction, optimize, vacuum) rides the
one staged publish, datalakejson_spark/publish.py, as :class:`CuratedStore`:

- a call first rolls crashed stages forward, lists the selected partitions'
  files once and reads exactly those. All rewrites go into ONE stage whose
  ``_SUBSUMED.json`` names exactly the files read, so a file published
  after the listing survives;
- a crash before the commit leaves the old files (the stage is reclaimed
  once aged); after it, the next compact, vacuum or ingest_batch rolls the
  stage forward. Between the moves and the subsumed deletes a reader sees
  the rewritten rows twice, never missing (both copies share an
  ``ingest_run_id``, so deduplicate_replays keeps both) until that pass;
- of two calls that read the same files, the first publish wins and the
  other's stage is discarded as lost; it reports no rewrite;
- idempotent: an already-compacted partition is not rewritten.
"""

from __future__ import annotations

import math
import os
import time
import uuid
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import SparkSession, Window

from datalakejson_spark import publish
from datalakejson_spark.plans.killpoints import fire
from datalakejson_spark.plans.schema_evolution import read_parquet_union

TARGET_FILE_BYTES = 128 * 1024 * 1024  # parquet sweet spot


class CuratedStore(publish.Store):
    """The curated lake on the staged publish: ``<curated>/_staging/<token>``
    stages publish to the same relative paths. Publishes serialize on the
    PUBLISH slot: unlike the dedup index, the lake cannot tolerate a
    doubled row, because ``deduplicate_replays`` cannot tell apart copies
    that share an ``ingest_run_id``."""

    serialize = True

    def flip(self, stage: str) -> None:
        fire("compact:publishing")  # moved in, subsumed files not yet deleted


def partition_files(curated_dir: str) -> dict[str, list[str]]:
    """``{leaf partition dir: [its data file names]}`` from one
    :func:`publish.staged_files` listing, which prunes hidden (``_``/``.``)
    directories such as in-flight stages the way Spark's file index does."""
    out: dict[str, list[str]] = {}
    for rel in publish.staged_files(curated_dir):
        part, name = os.path.split(rel)
        if "=" in os.path.basename(part):
            out.setdefault(os.path.join(curated_dir, part), []).append(name)
    return out


def list_partition_dirs(curated_dir: str) -> list[str]:
    """All leaf hive-partition directories under the curated root."""
    return sorted(partition_files(curated_dir))


def partition_file_stats(partition_dir: str) -> tuple[int, int]:
    """(n_files, total_bytes) of data files in one partition."""
    files = [
        p for p in Path(partition_dir).iterdir()
        if p.name.endswith(".parquet") and not p.name.startswith(("_", "."))
    ]
    return len(files), sum(p.stat().st_size for p in files)


def _rewrite_partitions(curated_dir: str, partition_filter, rewrite) -> dict:
    """The one maintenance write: ``rewrite(part, names, dst)`` reads
    exactly ``names`` of each selected partition and writes the replacement
    under ``dst``, returning a falsy report to leave the partition alone.
    Returns ``{partition: report}``, all ``False`` if the stage did not
    publish in this call (lost, or pending behind a held slot)."""
    store = CuratedStore(curated_dir)
    publish.publish_staged(store)
    token = f"compact-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}"
    stage = os.path.join(store.staging, token)
    out, subsumed = {}, []
    for part, names in partition_files(curated_dir).items():
        if partition_filter and not partition_filter(part):
            continue
        rel = os.path.relpath(part, curated_dir)
        out[part] = rewrite(part, names, os.path.join(stage, rel))
        if out[part]:
            subsumed += [os.path.join(rel, n) for n in names]
    if not subsumed:
        return out
    fire("compact:staged")  # no marker yet: a crash keeps the old layout
    publish.write_subsumed(stage, subsumed)
    publish.commit_stage(stage)
    fire("compact:committed")  # the next publish pass rolls it forward
    if publish.await_publish(store, token) != "published":
        return dict.fromkeys(out, False)
    return out


def compact(
    spark: SparkSession,
    curated_dir: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    partition_filter=None,
    zorder_cols: list[str] | None = None,
) -> dict[str, bool]:
    """Rewrite every (selected) partition into ceil(bytes/target) files;
    returns {partition: rewritten?}.

    With ``zorder_cols`` the rewrite also re-clusters each partition on the
    space-filling curve (plans/layout.py) — Delta's ``OPTIMIZE ... ZORDER
    BY`` shape: compaction is the natural moment to fix layout, because the
    rows are being rewritten anyway and micro-batch appends destroy
    clustering as fast as ingest runs. A re-cluster is worth a rewrite even
    when the file count is already at target, so ``zorder_cols`` drops the
    already-compacted early-out."""

    def rewrite(part: str, names: list[str], dst: str) -> bool:
        total_bytes = sum(os.path.getsize(os.path.join(part, n)) for n in names)
        n_out = max(1, math.ceil(total_bytes / target_file_bytes))
        if n_out >= len(names) and not zorder_cols:
            return False  # already at or below target granularity
        df = read_parquet_union(spark, part, names)  # every evolved column
        if zorder_cols:
            from datalakejson_spark.plans.layout import cluster_write

            cluster_write(df, dst, zorder_cols, n_files=n_out)
        else:
            df.repartition(n_out).write.mode("overwrite").parquet(dst)
        return True

    return _rewrite_partitions(curated_dir, partition_filter, rewrite)


def optimize_table(
    spark: SparkSession,
    curated_dir: str,
    zorder_cols: list[str],
    target_file_bytes: int = TARGET_FILE_BYTES,
    partition_filter=None,
) -> dict[str, bool]:
    """OPTIMIZE-with-ZORDER for the curated lake: compact small files AND
    re-cluster every (selected) partition on ``zorder_cols`` in one staged
    publish, with compaction's guarantees. Run it after the ingest drain,
    like plain compaction."""
    return compact(
        spark,
        curated_dir,
        target_file_bytes,
        partition_filter,
        zorder_cols=zorder_cols,
    )


def vacuum_replays(spark: SparkSession, curated_dir: str) -> dict[str, int]:
    """Physically delete crash-replay rows that ``deduplicate_replays``
    (plans/ingest.py) filters at read time: for each source file keep only
    its newest ``ingest_run_id``'s rows. Without this, a lake that ever
    replayed keeps paying the dead rows' scan cost forever.

    Runs partition-local (no global shuffle): per partition, a window max
    over ``source_s3_path`` decides survivors. Equivalent to the global
    rule because a source file's transform is deterministic — every attempt
    lands rows in the same partition set, so the newest run present in a
    partition IS the file's globally newest run. The rewrites publish as
    one staged stage, with compaction's guarantees (module docstring).

    Returns {partition_dir: n_rows_removed} for rewritten partitions."""

    def rewrite(part: str, names: list[str], dst: str) -> int:
        df = read_parquet_union(spark, part, names)  # every evolved column
        if "ingest_run_id" not in df.columns or "source_s3_path" not in df.columns:
            return 0
        w = Window.partitionBy("source_s3_path")
        annotated = df.withColumn("_max_run", F.max("ingest_run_id").over(w))
        n_stale = annotated.filter(F.col("ingest_run_id") != F.col("_max_run")).count()
        if n_stale:
            annotated.filter(F.col("ingest_run_id") == F.col("_max_run")).drop(
                "_max_run"
            ).write.mode("overwrite").parquet(dst)
        return n_stale

    out = _rewrite_partitions(curated_dir, None, rewrite)
    return {part: n for part, n in out.items() if n}
