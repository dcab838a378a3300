"""Streaming ingest with cross-batch CONTENT dedup: the composition of the
checkpointed file-source drain (streaming/ingest_stream.py's T1-T3 shape)
with the persisted dedup indexes (functions/incremental_dedup.py).

The checkpoint deduplicates *files* (each landing file enters exactly one
micro-batch); the index pair deduplicates *content* across batches, runs,
and restarts — a document that arrived last week in a different file is
still caught. This is the continuously-running form of the training-corpus
hygiene loop: nothing enters the curated lake twice, exactly or nearly.

Per micro-batch cost: the two fixed-width-hash probes + index appends of
the incremental module — O(batch + collisions), independent of how large
the curated corpus has grown. At 100 TB the indexes are parquet tables like
any other; their size is bounded by NUM_BANDS rows + one 32-byte hash per
unique document ever kept.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datalakejson_spark.functions.incremental_dedup import (
    COMPACT_MAX_RUNS,
    ingest_batch_dedup,
)
from datalakejson_spark.session import configure_runtime


def streaming_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    curated_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    compact_max_runs: int | None = COMPACT_MAX_RUNS,
    compact_target_rows_per_file: int | None = None,
):
    """Drain landing JSON-lines documents once (AvailableNow); each
    micro-batch is audited against the persistent hash+band indexes, only
    never-seen (exactly or nearly) documents are appended to the curated
    lake, and the survivors' index rows are appended for the next batch —
    inside the same foreachBatch, so a crash replays the whole unit.

    Crash-safety ordering (load-bearing): the curated append runs BETWEEN
    the audit decision and the index appends (``on_kept``). A crash before
    the index append replays the batch against UNCHANGED indexes → the same
    survivors are appended AGAIN under a strictly larger ``_run_id`` stamp;
    ``plans.variant_ingest.resolve_replays`` keeps the newest attempt per
    source file. A crash after the index append but before the checkpoint
    commit replays the batch against indexes that already contain its rows
    → everything audits as duplicate and the replay is a no-op — correct,
    because the curated write already happened. Either window degrades to
    a resolvable duplicate, never a loss. (Indexes-first would reverse
    that: the replay would collide with its own index rows and the batch's
    documents would be lost permanently.)

    Inline index compaction (round 12): ``compact_max_runs`` /
    ``compact_target_rows_per_file`` pass straight through to
    :func:`ingest_batch_dedup`, so the tiered-compaction loop policy runs
    INSIDE micro-batches here too. The index maintenance plane (staged
    publishes under ``index_dir``) and the file-source metadata log (under
    ``checkpoint_dir/sources``) are disjoint trees touched by different
    mechanisms — a compaction mid-stream never invalidates the source log,
    and a crash in either recovers independently (killpoint-pinned in
    tests/test_incremental_dedup.py; latency measured in
    tools/streaming_dedup_soak_r12.jsonl).

    Returns the StreamingQuery; call ``.awaitTermination()``.
    """
    configure_runtime(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(landing_dir).withColumn(
        "_ingest_file", F.input_file_name()
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        import time

        from datalakejson_spark.plans.variant_ingest import RUN_COL

        run_id = f"stream-{time.time_ns():020d}-b{batch_id}"

        def deliver(kept: DataFrame) -> None:
            if kept.limit(1).count():
                kept.withColumn("ingest_batch_id", F.lit(batch_id)).withColumn(
                    RUN_COL, F.lit(run_id)
                ).write.mode("append").parquet(curated_dir)

        ingest_batch_dedup(
            batch_df.sparkSession,
            batch_df,
            index_dir,
            id_col=id_col,
            text_col=text_col,
            on_kept=deliver,
            compact_max_runs=compact_max_runs,
            compact_target_rows_per_file=compact_target_rows_per_file,
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
