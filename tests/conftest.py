from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from datalakejson_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("datalakejson-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


# ---------------------------------------------------------------------------
# Landing-zone fixtures (FIXTURES.md §3): reference-shaped nested JSON files.
# ---------------------------------------------------------------------------
def good_record(i: int, ts: str = "2024-01-31T12:00:00Z", mode: str = "train", **extra):
    rec = {
        "id": f"rec-{i}",
        "event_timestamp": ts,
        "MODE": mode,
        "metadata": {"app_version": "1.2.3", "user_agent": f"ua-{i % 3}"},
        "payload": {
            "transaction_id": f"t-{i}",
            "items": [{"sku": f"sku-{i}", "qty": i % 5 + 1}],
        },
        "extra_key": f"kept-via-star-{i}",
    }
    rec.update(extra)
    return rec


def write_ndjson(path: Path, records: list) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for r in records:
            f.write((r if isinstance(r, str) else json.dumps(r)) + "\n")
    return path


def jobs_of(spark, group: str, fn):
    """Run ``fn`` under its own Spark job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def landing(tmp_path: Path) -> Path:
    """A reference-shaped landing zone: historical + weekly prefixes
    (sudo_code.txt:7-10), with good, corrupt, and schema-drift files."""
    root = tmp_path / "landing"
    hist = root / "all_historical_files"
    week = root / "2024" / "week05"
    write_ndjson(hist / "good_a.json", [good_record(i) for i in range(10)])
    write_ndjson(
        hist / "good_b.json",
        [good_record(i + 100, ts="2024-02-01T08:30:00Z", mode="eval") for i in range(5)],
    )
    write_ndjson(
        week / "corrupt_mixed.json",
        [good_record(200)]
        + ['{"id": "rec-broken", "event_timestamp": ']  # truncated JSON
        + ["not json at all"]
        + [good_record(201)],
    )
    write_ndjson(
        week / "late_week1.json",
        [good_record(300 + i, ts="2024-01-05T02:00:00Z") for i in range(3)],
    )
    return root


@pytest.fixture()
def ingest_conf(tmp_path: Path, landing: Path):
    from datalakejson_spark.plans.ingest import IngestConfig

    return IngestConfig(
        landing_dir=str(landing),
        curated_dir=str(tmp_path / "curated"),
        dlq_dir=str(tmp_path / "dlq"),
        archive_dir=str(tmp_path / "archive"),
        ledger_dir=str(tmp_path / "ledger"),
        batch_size=100,
    )
