"""Monitoring / alerting surface (sudo_code.txt:257-276: job-failure alarms,
"Alarm if DLQ is being actively used", runtime metrics).

CloudWatch-free redesign: every signal the reference alarms on is derivable
from state the pipeline already persists — the ledger (per-file status), the
DLQ (corrupt-row sink), and the curated lake (per-run row counts). Each
metric is a DataFrame; the "alarm" is a threshold predicate over it, so the
same definitions run ad-hoc, on a schedule, or as a stream.

All aggregates here are counts over bounded state (ledger rows = files
tracked, DLQ rows = corrupt records) — grouped, never collected raw.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.plans.ingest import IngestConfig, make_ledger, write_dlq_summary
from datalakejson_spark.plans.ledger import PROCESSING_LEASE_S, LedgerStatus
from datalakejson_spark.session import local_df

# Alarm names (the reference's three alarm classes, sudo_code.txt:257-276)
ALARM_FAILED_FILES = "failed_files"  # job failures → files stuck FAILED
ALARM_DLQ_ACTIVE = "dlq_active"  # DLQ receiving corrupt rows
ALARM_STUCK_PROCESSING = "stuck_processing"  # runner died mid-batch
ALARM_QUARANTINE_RATE = "quarantine_rate"  # drift/corruption trend


def ledger_status_counts(spark: SparkSession, conf: IngestConfig) -> DataFrame:
    """Files per ledger state — the reference's idx_processing_status rollup
    (sudo_code.txt:49). One row per status present."""
    return (
        make_ledger(spark, conf)
        .read()
        .groupBy("status")
        .agg(F.count("*").alias("n_files"))
    )


def run_throughput(spark: SparkSession, conf: IngestConfig) -> DataFrame:
    """Rows and source files per ingest run — the reference's runtime metrics
    (sudo_code.txt:263 'files/sec, rows/sec'): (ingest_run_id, n_rows,
    n_files). Computed from curated-lake lineage columns, so it needs no
    side-channel metrics store."""
    from datalakejson_spark.plans.ingest import read_curated

    try:
        curated = read_curated(spark, conf.curated_dir)
    except FileNotFoundError:  # no parquet file yet: nothing ingested
        return local_df(
            spark, [], "ingest_run_id string, n_rows long, n_files long"
        )
    return curated.groupBy("ingest_run_id").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("source_s3_path").alias("n_files"),
    )


def ingest_alarms(
    spark: SparkSession,
    conf: IngestConfig,
    max_failed_files: int = 0,
    max_dlq_rows: int = 0,
    max_quarantined_ratio: float = 0.5,
    processing_lease_s: float = PROCESSING_LEASE_S,
) -> DataFrame:
    """The alarm board: (alarm, observed, threshold, triggered). A row is
    emitted for every alarm class; ``triggered`` is the threshold predicate —
    callers page on ``filter(triggered)``.

    ``stuck_processing`` counts only PROCESSING rows whose lease expired
    (``last_updated_at`` older than ``processing_lease_s`` — the SAME
    staleness predicate claim_batch uses for reclaim), so a healthy
    in-flight batch never pages; only a dead runner's orphans do.

    One ledger construction, one read, one aggregate job: every board count
    is a conditional sum over the same scan (the JDBC backend would otherwise
    pay _ensure_table + a second table scan for the stuck count)."""
    stuck = (F.col("status") == LedgerStatus.PROCESSING) & (
        F.col("last_updated_at")
        < F.current_timestamp()
        - F.expr(f"INTERVAL {int(processing_lease_s)} SECONDS")
    )

    def n_where(pred) -> F.Column:
        return F.coalesce(F.sum(F.when(pred, 1)), F.lit(0))

    tallies = (
        make_ledger(spark, conf)
        .read()
        .agg(
            F.count("*").alias("total"),
            n_where(F.col("status") == LedgerStatus.FAILED).alias("n_failed"),
            n_where(F.col("status") == LedgerStatus.QUARANTINED).alias(
                "n_quarantined"
            ),
            n_where(stuck).alias("n_stuck"),
        )
        .first()
    )
    total = tallies["total"] or 1
    n_failed = tallies["n_failed"]
    n_quarantined = tallies["n_quarantined"]
    n_stuck = tallies["n_stuck"]
    n_dlq = write_dlq_summary(spark, conf).agg(
        F.coalesce(F.sum("n_corrupt_rows"), F.lit(0))
    ).first()[0]

    rows = [
        (ALARM_FAILED_FILES, float(n_failed), float(max_failed_files),
         n_failed > max_failed_files),
        (ALARM_DLQ_ACTIVE, float(n_dlq), float(max_dlq_rows),
         n_dlq > max_dlq_rows),
        (ALARM_STUCK_PROCESSING, float(n_stuck), 0.0, n_stuck > 0),
        (ALARM_QUARANTINE_RATE, n_quarantined / total, max_quarantined_ratio,
         n_quarantined / total > max_quarantined_ratio),
    ]
    return local_df(
        spark, rows, "alarm string, observed double, threshold double, triggered boolean"
    )
