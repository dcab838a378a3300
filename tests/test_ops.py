"""Operational plane: compaction wired into the drain loop, monitoring/alarm
surface (sudo_code.txt:257-276)."""

from __future__ import annotations

import pyspark.sql.functions as F

from datalakejson_spark.plans.compact import list_partition_dirs, partition_file_stats
from datalakejson_spark.plans.ingest import (
    IngestConfig,
    discover,
    read_curated,
    run_until_drained,
    write_dlq_summary,
)
from datalakejson_spark.plans.monitor import (
    ALARM_DLQ_ACTIVE,
    ALARM_FAILED_FILES,
    ingest_alarms,
    ledger_status_counts,
    run_throughput,
)
from tests.conftest import good_record, write_ndjson
import pytest


def _conf(tmp_path, landing, batch_size=1):
    return IngestConfig(
        landing_dir=str(landing),
        curated_dir=str(tmp_path / "curated"),
        dlq_dir=str(tmp_path / "dlq"),
        archive_dir=str(tmp_path / "archive"),
        ledger_dir=str(tmp_path / "ledger"),
        batch_size=batch_size,
    )


@pytest.mark.soak
def test_drain_loop_compacts_small_files(spark, tmp_path):
    """8 single-file batches into ONE partition -> >=8 small files; the drain
    loop's compaction folds them back while query results stay identical."""
    land = tmp_path / "landing"
    for i in range(8):
        write_ndjson(land / f"b{i}.json", [good_record(2000 + i * 10 + j) for j in range(4)])
    conf = _conf(tmp_path, land, batch_size=1)
    discover(spark, conf)
    results = run_until_drained(spark, conf, compact_every=4)
    assert len(results) == 8

    parts = list_partition_dirs(conf.curated_dir)
    assert parts, "curated lake should have partitions"
    for p in parts:
        n_files, _ = partition_file_stats(p)
        assert n_files == 1, f"{p} still has {n_files} files post-compaction"

    curated = read_curated(spark, conf.curated_dir)
    assert curated.count() == 32
    # lineage intact after rewrite: every source file still contributes 4 rows
    per_file = curated.groupBy("source_s3_path").agg(F.count("*").alias("n"))
    assert per_file.filter(F.col("n") != 4).count() == 0


def test_alarm_board_healthy_then_dlq(spark, tmp_path):
    """Healthy drain -> no alarms; corrupt file -> dlq_active + quarantine
    alarms trigger (sudo_code.txt:272 'Alarm if DLQ is being actively used')."""
    land = tmp_path / "landing"
    write_ndjson(land / "ok.json", [good_record(1) , good_record(2)])
    conf = _conf(tmp_path, land, batch_size=10)
    discover(spark, conf)
    run_until_drained(spark, conf)

    board = {r.alarm: r for r in ingest_alarms(spark, conf).collect()}
    assert not board[ALARM_DLQ_ACTIVE].triggered
    assert not board[ALARM_FAILED_FILES].triggered
    assert {r.status: r.n_files for r in ledger_status_counts(spark, conf).collect()} == {
        "SUCCEEDED": 1
    }
    tp = run_throughput(spark, conf).collect()
    assert len(tp) == 1 and tp[0].n_rows == 2 and tp[0].n_files == 1

    # now a corrupt landing file arrives
    write_ndjson(land / "bad.json", [good_record(3), "{broken json", "not json"])
    discover(spark, conf)
    run_until_drained(spark, conf)
    board = {r.alarm: r for r in ingest_alarms(spark, conf).collect()}
    assert board[ALARM_DLQ_ACTIVE].triggered
    assert board[ALARM_DLQ_ACTIVE].observed == 2.0


def test_monitor_raises_on_unreadable_curated_lake(spark, tmp_path):
    """Only an absent curated lake or DLQ reads as "nothing ingested yet";
    a curated lake that exists but cannot be read raises instead of
    showing an empty throughput board."""
    conf = _conf(tmp_path, tmp_path / "landing")
    assert run_throughput(spark, conf).collect() == []
    assert write_dlq_summary(spark, conf).collect() == []

    part = tmp_path / "curated" / "year=2024"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as err:
        run_throughput(spark, conf)
    assert not isinstance(err.value, FileNotFoundError)
