"""Curated-lake compaction (the standard companion to high-fan-out
partitioned appends; SCALE.md ingest notes).

Micro-batch appends to ``year=/month=/day=/mode=`` create one file per task
per batch; over months that's thousands of small files per partition, and at
100 TB the scan cost becomes dominated by file-open overhead. Compaction
rewrites the affected partitions into target-size files. Guarantees:

- per-partition atomic: each partition is rewritten to a staging directory
  and swapped in with two renames, so readers see old-or-new, never partial;
- idempotent: re-running compaction on an already-compacted partition is a
  no-op rewrite;
- bounded: caller selects the partitions (typically "closed" ones — older
  than the late-data horizon).
"""

from __future__ import annotations

import math
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import SparkSession

from datalakejson_spark.plans.ingest import read_curated

TARGET_FILE_BYTES = 128 * 1024 * 1024  # parquet sweet spot


def list_partition_dirs(curated_dir: str) -> list[str]:
    """All leaf hive-partition directories under the curated root.

    Hidden subtrees (``_``/``.`` prefix — e.g. a concurrent runner's
    ``_ingest_staging/<run_id>`` curated stage, r16) are pruned the same
    way Spark's file index hides them: compacting a file while its writer
    is about to publish it would race the move."""
    leaves = []
    for base, dirs, files in os.walk(curated_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(f.endswith(".parquet") for f in files) and "=" in os.path.basename(base):
            leaves.append(base)
    return sorted(leaves)


def partition_file_stats(partition_dir: str) -> tuple[int, int]:
    """(n_files, total_bytes) of data files in one partition."""
    files = [
        p for p in Path(partition_dir).iterdir()
        if p.name.endswith(".parquet") and not p.name.startswith(("_", "."))
    ]
    return len(files), sum(p.stat().st_size for p in files)


def compact_partition(
    spark: SparkSession,
    partition_dir: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 2,
    zorder_cols: list[str] | None = None,
) -> bool:
    """Rewrite one partition into ceil(bytes/target) files. Returns True if
    a rewrite happened.

    With ``zorder_cols`` the rewrite also re-clusters the partition on the
    space-filling curve (plans/layout.py) — Delta's ``OPTIMIZE ... ZORDER
    BY`` shape: compaction is the natural moment to fix layout, because the
    rows are being rewritten anyway and micro-batch appends destroy
    clustering as fast as ingest runs. A re-cluster is worth a rewrite even
    when the file count is already at target, so ``zorder_cols`` drops the
    already-compacted early-out."""
    n_files, total_bytes = partition_file_stats(partition_dir)
    if n_files < min_files and not zorder_cols:
        return False
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    if n_out >= n_files and not zorder_cols:
        return False  # already at or below target granularity

    # the union of the files' schemas, as for the whole lake: a plain read
    # takes one footer's schema, and the rewrite would drop a column that a
    # later file added by schema evolution
    df = read_curated(spark, partition_dir)
    # staging/retired names are '.'-prefixed siblings: Spark's partition
    # discovery ignores dot/underscore-prefixed paths, so a crash that leaves
    # them behind (or a reader racing the swap) can never surface a duplicate
    # 'mode=train.__compact' partition. The instant between the two renames
    # is the only window (partition briefly absent, never doubled).
    parent, leaf = os.path.split(partition_dir.rstrip("/"))
    staging = os.path.join(parent, f".__compact_{time.time_ns()}_{leaf}")
    if zorder_cols:
        from datalakejson_spark.plans.layout import cluster_write

        cluster_write(df, staging, zorder_cols, n_files=n_out)
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(staging)

    retired = os.path.join(parent, f".__retired_{time.time_ns()}_{leaf}")
    os.rename(partition_dir, retired)  # swap 1: move old out of the way
    os.rename(staging, partition_dir)  # swap 2: move new into place
    shutil.rmtree(retired, ignore_errors=True)
    return True


def compact(
    spark: SparkSession,
    curated_dir: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    partition_filter=None,
    zorder_cols: list[str] | None = None,
) -> dict[str, bool]:
    """Compact every (selected) partition; returns {partition: rewritten?}."""
    out = {}
    for part in list_partition_dirs(curated_dir):
        if partition_filter and not partition_filter(part):
            continue
        out[part] = compact_partition(
            spark, part, target_file_bytes, zorder_cols=zorder_cols
        )
    return out


def optimize_table(
    spark: SparkSession,
    curated_dir: str,
    zorder_cols: list[str],
    target_file_bytes: int = TARGET_FILE_BYTES,
    partition_filter=None,
) -> dict[str, bool]:
    """OPTIMIZE-with-ZORDER for the curated lake: compact small files AND
    re-cluster every (selected) partition on ``zorder_cols`` in one pass of
    partition-atomic rewrites. Run on closed partitions (past the late-data
    horizon) after the ingest drain, like plain compaction."""
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
    partition IS the file's globally newest run. Same atomic old-or-new
    swap as compaction; like compaction, run it on closed partitions (not
    concurrently with an in-flight append to the same partition).

    Returns {partition_dir: n_rows_removed} for rewritten partitions."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    out: dict[str, int] = {}
    for part in list_partition_dirs(curated_dir):
        df = read_curated(spark, part)  # every evolved column, as in compaction
        if "ingest_run_id" not in df.columns or "source_s3_path" not in df.columns:
            continue
        w = Window.partitionBy("source_s3_path")
        annotated = df.withColumn("_max_run", F.max("ingest_run_id").over(w))
        stale = annotated.filter(F.col("ingest_run_id") != F.col("_max_run"))
        n_stale = stale.count()
        if not n_stale:
            continue
        keep = annotated.filter(
            F.col("ingest_run_id") == F.col("_max_run")
        ).drop("_max_run")
        parent, leaf = os.path.split(part.rstrip("/"))
        staging = os.path.join(parent, f".__vacuum_{time.time_ns()}_{leaf}")
        keep.write.mode("overwrite").parquet(staging)
        retired = os.path.join(parent, f".__retired_{time.time_ns()}_{leaf}")
        os.rename(part, retired)
        os.rename(staging, part)
        shutil.rmtree(retired, ignore_errors=True)
        out[part] = n_stale
    return out
