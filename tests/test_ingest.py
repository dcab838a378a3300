"""Ingest-plane e2e tests (SURVEY.md §5.2 step 2): discover → ingest → verify
curated layout, DLQ, ledger states, archive moves, rerun idempotency,
schema evolution (E1-E5, S4, S6-S7, S10-S11, U1)."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from datalakejson_spark.plans.ingest import (
    IngestConfig,
    apply_transformations,
    discover,
    ingest_batch,
    read_curated,
    run_until_drained,
    write_dlq_summary,
)
from datalakejson_spark.plans.ledger import Ledger, LedgerStatus
from tests.conftest import good_record, jobs_of, write_ndjson


@pytest.fixture(autouse=True)
def _pointers_are_json(monkeypatch):
    """Every ledger ``_LATEST`` these tests publish is the JSON pointer,
    the one form the ledger reads."""
    from datalakejson_spark.plans import ledger as L

    real = L.atomic_write_text

    def checked(path: str, text: str) -> None:
        if os.path.basename(path) == "_LATEST":
            ptr = json.loads(text)
            assert isinstance(ptr["active"], str), text
            assert isinstance(ptr["terminal"], list), text
        real(path, text)

    monkeypatch.setattr(L, "atomic_write_text", checked)


def test_discover_registers_pending_idempotently(spark, ingest_conf):
    n1 = discover(spark, ingest_conf)
    assert n1 == 4  # good_a, good_b, corrupt_mixed, late_week1
    ledger = Ledger(spark, ingest_conf.ledger_dir)
    assert ledger.counts() == {LedgerStatus.PENDING: 4}
    # idempotent re-run: ON CONFLICT DO NOTHING (sudo_code.txt:90)
    assert discover(spark, ingest_conf) == 0
    assert ledger.counts() == {LedgerStatus.PENDING: 4}


def test_ingest_end_to_end(spark, ingest_conf):
    discover(spark, ingest_conf)
    res = ingest_batch(spark, ingest_conf)

    assert res.claimed == 4
    assert res.good_rows == 20  # 10 + 5 + 2 (from mixed) + 3 late
    assert res.corrupt_rows == 2
    assert len(res.succeeded_files) == 3
    assert len(res.quarantined_files) == 1
    assert res.lost_files == []

    # curated lake: hive partition layout year=/month=/day=/mode=
    # (sudo_code.txt:180), partition values from EVENT time
    curated_root = Path(ingest_conf.curated_dir)
    parts = {
        str(p.relative_to(curated_root))
        for p in curated_root.glob("year=*/month=*/day=*/mode=*")
    }
    assert "year=2024/month=1/day=31/mode=train" in parts
    assert "year=2024/month=2/day=1/mode=eval" in parts
    # late file landed in its (old) event-time partition (SURVEY §2.10)
    assert "year=2024/month=1/day=5/mode=train" in parts

    curated = read_curated(spark, ingest_conf.curated_dir)
    assert curated.count() == 20
    for col in (
        "record_id",
        "event_time_utc",
        "ml_mode",
        "app_version",
        "user_agent",
        "transaction_id",
        "transaction_items",
        "extra_key",  # star passthrough (psuedo_code.txt:287)
        "source_s3_path",
    ):
        assert col in curated.columns, col
    # nested array<struct> preserved (psuedo_code.txt:284)
    assert curated.select(F.col("transaction_items")[0]["qty"]).first()[0] is not None

    # DLQ: 2 corrupt rows under the run id (sudo_code.txt:169)
    dlq = spark.read.json(os.path.join(ingest_conf.dlq_dir, res.run_id))
    assert dlq.count() == 2
    assert {r[0] for r in dlq.select("source_s3_path").collect()} != set()

    # archive: good files moved, substructure preserved, originals gone
    # (sudo_code.txt:196-215); quarantined file stays in landing
    assert (Path(ingest_conf.archive_dir) / "all_historical_files" / "good_a.json").exists()
    assert not (Path(ingest_conf.landing_dir) / "all_historical_files" / "good_a.json").exists()
    assert (Path(ingest_conf.landing_dir) / "2024" / "week05" / "corrupt_mixed.json").exists()

    # ledger states (sudo_code.txt:35 enum)
    counts = Ledger(spark, ingest_conf.ledger_dir).counts()
    assert counts == {LedgerStatus.SUCCEEDED: 3, LedgerStatus.QUARANTINED: 1}

    # retry_count incremented once by the claim (sudo_code.txt:141)
    rc = Ledger(spark, ingest_conf.ledger_dir).read().select("retry_count").distinct().collect()
    assert {r[0] for r in rc} == {1}


def test_rerun_is_noop(spark, ingest_conf):
    discover(spark, ingest_conf)
    ingest_batch(spark, ingest_conf)
    before = read_curated(spark, ingest_conf.curated_dir).count()
    res2 = ingest_batch(spark, ingest_conf)
    # QUARANTINED/SUCCEEDED are terminal → nothing claimable
    assert res2.claimed == 0
    assert read_curated(spark, ingest_conf.curated_dir).count() == before


def test_failed_files_are_reclaimed_with_retry(spark, ingest_conf, tmp_path):
    discover(spark, ingest_conf)
    ingest_batch(spark, ingest_conf)
    ledger = Ledger(spark, ingest_conf.ledger_dir)
    # simulate a transient failure: flip one terminal file back to FAILED
    victim = ledger.read().filter(F.col("status") == LedgerStatus.SUCCEEDED).first().s3_key
    ledger.set_status([victim], LedgerStatus.FAILED, error_message="simulated")
    res = ingest_batch(spark, ingest_conf)
    assert res.claimed == 1
    # file was archived already → crash-recovery path marks it SUCCEEDED again
    assert res.succeeded_files == [victim]
    row = ledger.read().filter(F.col("s3_key") == victim).first()
    assert row.status == LedgerStatus.SUCCEEDED
    assert row.retry_count == 2  # claimed twice


def test_schema_evolution_union(spark, ingest_conf):
    """New top-level key in a later drop → union-of-schemas read with NULL
    backfill for old rows (diagram3:110, psuedo_code.txt:356-358)."""
    discover(spark, ingest_conf)
    ingest_batch(spark, ingest_conf)
    # second drop with a brand-new column
    write_ndjson(
        Path(ingest_conf.landing_dir) / "2024" / "week06" / "drift_newcol.json",
        [good_record(400 + i, ts="2024-02-08T09:00:00Z", brand_new_col="v") for i in range(4)],
    )
    discover(spark, ingest_conf)
    ingest_batch(spark, ingest_conf)

    curated = read_curated(spark, ingest_conf.curated_dir)
    assert curated.count() == 24
    assert "brand_new_col" in curated.columns
    nulls = curated.filter(F.col("brand_new_col").isNull()).count()
    assert nulls == 20  # old rows NULL-backfilled


def test_crash_recovery_marks_batch_failed(spark, ingest_conf, monkeypatch):
    """Any uncaught error mid-batch → whole batch FAILED for the next run
    (sudo_code.txt:189-194)."""
    discover(spark, ingest_conf)
    import datalakejson_spark.plans.ingest as ing

    def boom(*a, **k):
        raise RuntimeError("simulated write failure")

    monkeypatch.setattr(ing, "apply_transformations", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        ingest_batch(spark, ingest_conf)
    counts = Ledger(spark, ingest_conf.ledger_dir).counts()
    assert counts == {LedgerStatus.FAILED: 4}
    monkeypatch.undo()
    # next run re-claims and succeeds
    res = run_until_drained(spark, ingest_conf)
    assert sum(len(r.succeeded_files) for r in res) == 3


def test_failed_batch_releases_cached_batch(spark, ingest_conf):
    """A batch that fails after caching its raw read (here: at the DLQ
    write) still releases the cache; it must not stay pinned for the
    session's life."""
    from datalakejson_spark.plans import killpoints

    def cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    discover(spark, ingest_conf)
    before = cached()

    def fail() -> None:
        raise RuntimeError("simulated DLQ write failure")

    killpoints.arm("ingest:after_dlq_write", fail)
    try:
        with pytest.raises(RuntimeError, match="simulated DLQ"):
            ingest_batch(spark, ingest_conf)
    finally:
        killpoints.disarm("ingest:after_dlq_write")
    assert cached() <= before
    assert Ledger(spark, ingest_conf.ledger_dir).counts() == {LedgerStatus.FAILED: 4}


def test_replay_after_partial_crash_is_deduplicable(spark, ingest_conf, monkeypatch):
    """Crash AFTER the curated append but BEFORE archive/ledger commit →
    next run re-appends the same source rows under a new run id;
    deduplicate_replays() restores exactly-once semantics (T2)."""
    from datalakejson_spark.plans.ingest import deduplicate_replays

    discover(spark, ingest_conf)

    real_commit = Ledger.apply_outcomes
    calls = {"n": 0}

    def crash_on_first_commit(self, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after curated append")
        return real_commit(self, *a, **k)

    monkeypatch.setattr(Ledger, "apply_outcomes", crash_on_first_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ingest_batch(spark, ingest_conf)
    monkeypatch.undo()

    # batch marked FAILED; re-run re-processes, duplicating the good rows
    res2 = ingest_batch(spark, ingest_conf)
    assert res2.claimed == 4
    curated = read_curated(spark, ingest_conf.curated_dir)
    assert curated.count() == 40  # 20 rows x 2 runs: replay happened
    deduped = deduplicate_replays(curated)
    assert deduped.count() == 20
    # every surviving row carries the latest run id per source file
    assert deduped.select("ingest_run_id").distinct().count() == 1


def test_orphaned_curated_stage_is_swept(spark, ingest_conf):
    """A run that died between its curated stage write and the commit
    leaves an uncommitted ``_staging/<run_id>`` behind (no ledger commit,
    so its batch replays). The next ingest_batch's publish pass reclaims it
    once every mtime in its tree is older than STALE_STAGE_S, and keeps a
    fresh one — it may belong to a live concurrent runner."""
    import time

    from datalakejson_spark.publish import STAGING, STALE_STAGE_S

    staging = Path(ingest_conf.curated_dir) / STAGING
    for run in ("run-old", "run-fresh"):
        part = staging / run / "year=2024" / "part-00000.parquet"
        part.parent.mkdir(parents=True)
        part.write_bytes(b"x")
    old = time.time() - 2 * STALE_STAGE_S
    for path in (staging / "run-old").rglob("*"):
        os.utime(path, (old, old))
    os.utime(staging / "run-old", (old, old))

    ingest_batch(spark, ingest_conf)
    assert sorted(os.listdir(staging)) == ["run-fresh"]


def test_transform_handles_missing_fields(spark):
    """Apply_Transformations on records missing optional nested fields —
    flattened columns become NULL, not errors."""
    df = spark.createDataFrame(
        [("1", "2024-01-01T00:00:00Z")], "id string, event_timestamp string"
    )
    out = apply_transformations(df)
    row = out.first()
    assert row.record_id == "1"
    assert row.app_version is None
    assert row.year == 2024 and row.mode == "unknown"


def test_stale_processing_reclaimed(spark, ingest_conf):
    """ADVICE r01: a hard crash (SIGKILL) between claim and commit must not
    strand files in PROCESSING forever — once the processing lease expires,
    they are claimable again."""
    discover(spark, ingest_conf)
    ledger = Ledger(spark, ingest_conf.ledger_dir)
    dead = ledger.claim_batch(10, "run-died-mid-batch")
    assert len(dead) == 4
    assert ledger.counts() == {LedgerStatus.PROCESSING: 4}
    # a live runner's fresh PROCESSING rows are NOT claimable (SKIP LOCKED)
    assert ledger.claim_batch(10, "run-b") == []
    # once the lease expires the orphans are reclaimed, retry incremented
    reclaimed = ledger.claim_batch(10, "run-b", stale_lease_s=0)
    assert sorted(reclaimed) == sorted(dead)
    rows = {r.s3_key: r for r in ledger.read().collect()}
    assert all(r.retry_count == 2 and r.run_id == "run-b" for r in rows.values())


@pytest.mark.soak
def test_concurrent_runners_no_double_processing(spark, tmp_path):
    """Two concurrent batch runners over one landing zone + ledger
    (psuedo_code.txt:170-181 FOR UPDATE SKIP LOCKED): every file is processed
    by exactly one runner, no file is double-claimed, all work drains."""
    import threading

    from tests.conftest import good_record, write_ndjson

    land = tmp_path / "landing"
    n_files = 12
    for i in range(n_files):
        write_ndjson(land / f"f{i:02d}.json", [good_record(1000 + i * 10 + j) for j in range(3)])
    conf = IngestConfig(
        landing_dir=str(land),
        curated_dir=str(tmp_path / "curated"),
        dlq_dir=str(tmp_path / "dlq"),
        archive_dir=str(tmp_path / "archive"),
        ledger_dir=str(tmp_path / "ledger"),
        batch_size=2,  # many small batches → real claim interleaving
    )
    discover(spark, conf)

    results: dict[str, list] = {"a": [], "b": []}
    errors: list[BaseException] = []

    def runner(name: str) -> None:
        try:
            results[name] = run_until_drained(spark, conf, max_runs=20)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    ta = threading.Thread(target=runner, args=("a",))
    tb = threading.Thread(target=runner, args=("b",))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors

    ok_a = {p for r in results["a"] for p in r.succeeded_files}
    ok_b = {p for r in results["b"] for p in r.succeeded_files}
    # no file succeeded under both runners, and together they drained all
    assert ok_a & ok_b == set()
    assert len(ok_a | ok_b) == n_files
    ledger = Ledger(spark, conf.ledger_dir)
    assert ledger.counts() == {LedgerStatus.SUCCEEDED: n_files}
    # curated rows: every source file ingested by exactly ONE run
    curated = read_curated(spark, conf.curated_dir)
    per_file = curated.groupBy("source_s3_path").agg(
        F.count_distinct("ingest_run_id").alias("n_runs"),
        F.count("*").alias("n_rows"),
    )
    assert per_file.filter((F.col("n_runs") != 1) | (F.col("n_rows") != 3)).count() == 0
    assert curated.count() == n_files * 3


# ---------------------------------------------------------------------------
# Ledger lock hardening + run-id commit fencing (ADVICE r02)
# ---------------------------------------------------------------------------
def test_stale_lock_broken_and_acquired(spark, tmp_path):
    """A lock whose heartbeat stopped LOCK_STALE_S ago is broken (via atomic
    rename, not blind unlink) and the waiter acquires."""
    import time as _time

    from datalakejson_spark.plans import ledger as L

    led = Ledger(spark, str(tmp_path / "ledger"))
    led._lockfile.write_text("pid=999999 token=deadbeef")
    old = _time.time() - (L.LOCK_STALE_S + 10)
    os.utime(led._lockfile, (old, old))
    with led._mutex(timeout_s=5.0):
        assert led._lockfile.exists()
        body = led._lockfile.read_text()
        assert "deadbeef" not in body  # our token, not the dead holder's
    assert not led._lockfile.exists()  # released our own lock


def test_fresh_foreign_lock_respected(spark, tmp_path):
    """A live (fresh-mtime) foreign lock is never broken: acquisition times
    out and the foreign lock survives byte-identical."""
    led = Ledger(spark, str(tmp_path / "ledger"))
    led._lockfile.write_text("pid=999999 token=livelock")
    with pytest.raises(TimeoutError):
        with led._mutex(timeout_s=0.3):
            pass
    assert led._lockfile.read_text() == "pid=999999 token=livelock"


def test_release_never_unlinks_foreign_lock(spark, tmp_path):
    """If our lock is stolen mid-section (simulated), the finally-release
    must NOT delete the new owner's lock (ADVICE r02: token-verified
    unlink)."""
    led = Ledger(spark, str(tmp_path / "ledger"))
    with led._mutex(timeout_s=5.0):
        led._lockfile.write_text("pid=424242 token=newowner")
    assert led._lockfile.read_text() == "pid=424242 token=newowner"
    led._lockfile.unlink()


def test_heartbeat_keeps_lock_fresh(spark, tmp_path, monkeypatch):
    """A slow critical section does not go stale: the heartbeat thread
    refreshes the lockfile mtime while held."""
    import time as _time

    from datalakejson_spark.plans import ledger as L

    monkeypatch.setattr(L, "LOCK_HEARTBEAT_S", 0.05)
    led = Ledger(spark, str(tmp_path / "ledger"))
    with led._mutex(timeout_s=5.0):
        old = _time.time() - 3600
        os.utime(led._lockfile, (old, old))
        _time.sleep(0.3)  # several heartbeat ticks
        assert _time.time() - led._lockfile.stat().st_mtime < 60
    assert not led._lockfile.exists()


def test_commit_fenced_on_run_id(spark, tmp_path):
    """A slow runner whose lease expired and whose files were reclaimed must
    not overwrite the new owner's ledger state at commit (ADVICE r02: the
    reference's DB transaction prevents this; we fence on run_id)."""
    led = Ledger(spark, str(tmp_path / "ledger"))
    files = [(f"/data/f{i}.json", 100) for i in range(3)]
    led.register(spark.createDataFrame(files, "s3_key string, file_size_bytes long"))

    claimed_a = led.claim_batch(10, "run-000a")
    assert len(claimed_a) == 3
    # lease expires; runner B reclaims everything
    claimed_b = led.claim_batch(10, "run-000b", stale_lease_s=0)
    assert sorted(claimed_b) == sorted(claimed_a)

    # slow runner A commits late: every transition is fenced out
    fenced = led.apply_outcomes(
        [(claimed_a, LedgerStatus.SUCCEEDED, None)], run_id="run-000a"
    )
    assert sorted(fenced) == sorted(claimed_a)
    rows = {r.s3_key: r for r in led.read().collect()}
    assert all(
        r.status == LedgerStatus.PROCESSING and r.run_id == "run-000b"
        for r in rows.values()
    )
    assert led.owned_by(claimed_a, "run-000a") == set()
    assert led.owned_by(claimed_a, "run-000b") == set(claimed_a)

    # B commits fine (fence matches), then a dying A's FAILED rollback is
    # also fenced and cannot clobber B's SUCCEEDED
    assert led.apply_outcomes(
        [(claimed_b, LedgerStatus.SUCCEEDED, None)], run_id="run-000b"
    ) == []
    fenced2 = led.set_status(
        claimed_a, LedgerStatus.FAILED, error_message="batch error: late crash",
        run_id="run-000a", fence_run_id="run-000a",
    )
    assert sorted(fenced2) == sorted(claimed_a)
    assert led.counts() == {LedgerStatus.SUCCEEDED: 3}


def test_ingest_batch_aborts_side_effects_on_lost_claim(spark, tmp_path, monkeypatch):
    """End-to-end fencing: a runner that loses its claims mid-batch (lease
    expiry + reclaim by another runner) archives nothing, commits nothing,
    and reports the files as lost_claims. The reclaimer's later run wins
    deduplicate_replays (newer run_id)."""
    import datalakejson_spark.plans.ingest as ingest_mod

    land = tmp_path / "landing"
    for i in range(2):
        write_ndjson(land / f"f{i}.json", [good_record(200 + i)])
    conf = IngestConfig(
        landing_dir=str(land),
        curated_dir=str(tmp_path / "curated"),
        dlq_dir=str(tmp_path / "dlq"),
        archive_dir=str(tmp_path / "archive"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    discover(spark, conf)

    real_transform = ingest_mod.apply_transformations
    state = {"stolen": False}

    def steal_then_transform(df, mode_default="unknown"):
        if not state["stolen"]:
            state["stolen"] = True
            # simulate: this runner stalls past its lease; runner B reclaims
            Ledger(spark, conf.ledger_dir).claim_batch(
                10, "run-9999999999999999999-thief", stale_lease_s=0
            )
        return real_transform(df, mode_default)

    monkeypatch.setattr(ingest_mod, "apply_transformations", steal_then_transform)
    res = ingest_batch(spark, conf)
    assert res.claimed == 2
    assert sorted(res.lost_claims) == sorted(
        str(land / f"f{i}.json") for i in range(2)
    )
    assert res.succeeded_files == []
    # nothing archived: the reclaimer still needs the landing copies
    assert not (tmp_path / "archive").exists() or not any(
        (tmp_path / "archive").rglob("*.json")
    )
    # ledger untouched by the fenced commit: still the thief's PROCESSING
    rows = {r.s3_key: r for r in Ledger(spark, conf.ledger_dir).read().collect()}
    assert all(
        r.status == LedgerStatus.PROCESSING and r.run_id.endswith("thief")
        for r in rows.values()
    )


def test_vacuum_replays_removes_stale_rows_physically(spark, ingest_conf, monkeypatch):
    """vacuum_replays makes deduplicate_replays' read-time filter permanent:
    after a crash-replay, vacuuming leaves only the newest run's rows ON
    DISK, with query results identical."""
    from datalakejson_spark.plans.compact import vacuum_replays
    from datalakejson_spark.plans.ingest import deduplicate_replays

    discover(spark, ingest_conf)
    real_commit = Ledger.apply_outcomes
    calls = {"n": 0}

    def crash_on_first_commit(self, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after curated append")
        return real_commit(self, *a, **k)

    monkeypatch.setattr(Ledger, "apply_outcomes", crash_on_first_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ingest_batch(spark, ingest_conf)
    monkeypatch.undo()
    ingest_batch(spark, ingest_conf)  # replay: rows duplicated under new run

    before = read_curated(spark, ingest_conf.curated_dir)
    assert before.count() == 40
    expected = {
        tuple(r) for r in deduplicate_replays(before).select("record_id").collect()
    }

    removed = vacuum_replays(spark, ingest_conf.curated_dir)
    assert sum(removed.values()) == 20
    after = read_curated(spark, ingest_conf.curated_dir)
    assert after.count() == 20  # stale rows gone from storage
    assert {tuple(r) for r in after.select("record_id").collect()} == expected
    assert after.select("ingest_run_id").distinct().count() == 1
    # idempotent: second vacuum is a no-op
    assert vacuum_replays(spark, ingest_conf.curated_dir) == {}


def test_compaction_keeps_evolved_columns(spark, tmp_path):
    """Compaction and replay vacuuming rewrite a partition under the union
    of its files' schemas. The file that predates the additive ``channel``
    key is named to sort first, so a read that takes the first footer's
    schema would drop the column from the rewrite."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalakejson_spark.plans.compact import compact, vacuum_replays

    def plant(part: Path) -> None:
        part.mkdir(parents=True)
        base = {"record_id": ["r0"], "source_s3_path": ["s1"], "ingest_run_id": ["run-1"]}
        pq.write_table(pa.table(base), part / "part-00000-a.parquet")
        for name, rid, src, run, channel in (
            ("part-00001-b.parquet", "r1", "s1", "run-2", "web"),
            ("part-00002-c.parquet", "r2", "s2", "run-1", "app"),
        ):
            pq.write_table(
                pa.table(
                    {
                        "record_id": [rid],
                        "source_s3_path": [src],
                        "ingest_run_id": [run],
                        "channel": [channel],
                    }
                ),
                part / name,
            )

    def rows(part: Path) -> set:
        df = spark.read.parquet(str(part))
        assert "channel" in df.columns
        return {(r.record_id, r.channel) for r in df.collect()}

    compacted = tmp_path / "compact" / "year=2024" / "mode=train"
    plant(compacted)
    assert compact(spark, str(tmp_path / "compact")) == {str(compacted): True}
    assert len(list(compacted.glob("*.parquet"))) == 1
    assert rows(compacted) == {("r0", None), ("r1", "web"), ("r2", "app")}

    vacuumed = tmp_path / "vacuum" / "year=2024" / "mode=train"
    plant(vacuumed)
    assert vacuum_replays(spark, str(tmp_path / "vacuum")) == {str(vacuumed): 1}
    assert rows(vacuumed) == {("r1", "web"), ("r2", "app")}


# file names that must reach the ledger byte-identical to their on-disk
# paths: Spark's listing decodes its URIs, and a stray unquote would turn a
# literal "%20" into a space
AWKWARD_NAMES = (
    "a b.json", "pct%20x.json", "p%41.json", "h#x.json", "c:o.json",
    "q'x.json", 'dq"x.json', "bs\\x.json", "t\tx.json", "n\nx.json",
    "qm?.json", "st*.json", "[a].json", "{b}.json", "ünï€.json",
)


def _walk_oracle(root: Path, suffix: str = ".json") -> dict[str, int]:
    """(path -> size) of every ``*suffix`` file under ``root``, skipping
    ``_``/``.``-prefixed files and directories like Spark's file index."""
    out = {}
    for base, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if name.endswith(suffix) and not name.startswith(("_", ".")):
                p = os.path.join(base, name)
                out[p] = os.path.getsize(p)
    return out


def test_discover_distributed_matches_driver(spark, tmp_path):
    """S4 at 100 TB: the Spark file-index listing registers exactly the
    (path, size) set a driver ``os.walk`` finds over a wide, deep tree —
    including awkward file names, byte for byte — and skips ``_``/``.``
    files and directories as the streaming plane's file source does."""
    root = tmp_path / "landing"
    for i in range(20):
        for j in range(3):
            write_ndjson(
                root / f"p{i:02d}" / f"sub{j}" / f"f_{i}_{j}.json",
                [good_record(i * 10 + j)],
            )
    for k, name in enumerate(AWKWARD_NAMES):
        write_ndjson(root / f"p{k % 20:02d}" / name, [good_record(500 + k)])
    # a root-level file and a zero-byte one (which no Spark scan reads)
    # count; a non-matching suffix does not
    write_ndjson(root / "root_file.json", [good_record(999)])
    write_ndjson(root / "p02" / "empty %41 ü#.json", [])
    write_ndjson(root / "p00" / "notes.txt", ["not a landing file"])
    hidden = [
        root / "p01" / "_skip.json",
        root / "p01" / ".skip.json",
        root / "_dir" / "x.json",
    ]
    for p in hidden:
        write_ndjson(p, [good_record(998)])
    expect = _walk_oracle(root)
    assert len(expect) == 20 * 3 + len(AWKWARD_NAMES) + 2

    conf = IngestConfig(
        landing_dir=str(root),
        curated_dir=str(tmp_path / "curated"),
        dlq_dir=str(tmp_path / "dlq"),
        archive_dir=str(tmp_path / "archive"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    assert discover(spark, conf) == len(expect)
    got = {
        r.s3_key: r.file_size_bytes
        for r in Ledger(spark, conf.ledger_dir).read().collect()
    }
    assert got == expect  # identical paths AND sizes
    assert not {str(p) for p in hidden} & set(got)
    assert discover(spark, conf) == 0


def test_discover_skips_file_archived_after_listing(spark, ingest_conf, monkeypatch):
    """Race: another runner archives a landing file between the listing and
    the scan that feeds register. The scan stats every listed file, so the
    vanished one must be skipped (``ignoreMissingFiles``), not fail
    discovery."""
    expect = _walk_oracle(Path(ingest_conf.landing_dir))
    victim = sorted(expect)[0]
    real_register = Ledger.register

    def archive_then_register(self, discovered, **kwargs):
        os.remove(victim)
        return real_register(self, discovered, **kwargs)

    monkeypatch.setattr(Ledger, "register", archive_then_register)
    assert discover(spark, ingest_conf) == len(expect) - 1
    keys = {r.s3_key for r in Ledger(spark, ingest_conf.ledger_dir).read().collect()}
    assert keys == set(expect) - {victim}


def test_discover_missing_or_empty_landing_dir(spark, tmp_path):
    """A missing landing dir and an empty one both register nothing. The
    missing one is answered by a FileSystem existence check before any
    load, the empty one by the driver-side file index (0 Spark jobs), and
    neither touches the ledger."""
    def conf_for(landing: Path) -> IngestConfig:
        return IngestConfig(
            landing_dir=str(landing),
            curated_dir=str(tmp_path / "curated"),
            dlq_dir=str(tmp_path / "dlq"),
            archive_dir=str(tmp_path / "archive"),
            ledger_dir=str(tmp_path / "ledger"),
        )

    from pyspark.sql.readwriter import DataFrameReader

    real_load, loads = DataFrameReader.load, []

    def spy_load(self, *args, **kwargs):
        loads.append(args)
        return real_load(self, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameReader, "load", spy_load)
        assert discover(spark, conf_for(tmp_path / "missing")) == 0
    # answered by the FileSystem check: no load, so no JVM stack trace
    assert loads == []
    empty = tmp_path / "empty"
    (empty / "2024" / "week01").mkdir(parents=True)
    n, jobs = jobs_of(
        spark, f"{tmp_path.name}-empty", lambda: discover(spark, conf_for(empty))
    )
    assert (n, jobs) == (0, 0)
    assert not (tmp_path / "ledger").exists()


def test_dlq_summary_without_glob_or_stack_trace(spark, tmp_path):
    """The DLQ audit answers an absent DLQ from its FileSystem with no
    read at all, and reads a present one as its root dir with
    ``recursiveFileLookup``: no ``dlq/*`` glob, whose ``_spark_metadata``
    probe logs a JVM FileNotFoundException stack trace."""
    from pyspark.sql.readwriter import DataFrameReader

    conf = IngestConfig(
        landing_dir=str(tmp_path / "landing"),
        curated_dir=str(tmp_path / "curated"),
        dlq_dir=str(tmp_path / "dlq"),
        archive_dir=str(tmp_path / "archive"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    real_json, reads = DataFrameReader.json, []

    def spy_json(self, path, *args, **kwargs):
        reads.append(path)
        return real_json(self, path, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameReader, "json", spy_json)
        assert write_dlq_summary(spark, conf).collect() == []
        assert reads == []
        for run, src in (("run-1", "/l/a.json"), ("run-2", "/l/b.json")):
            write_ndjson(
                tmp_path / "dlq" / run / "part-00000.json",
                [{"_corrupt_record": "x", "source_s3_path": src}] * 2,
            )
        (tmp_path / "dlq" / "run-2" / "_SUCCESS").touch()
        got = {r.source_s3_path: r.n_corrupt_rows for r in write_dlq_summary(spark, conf).collect()}
    assert got == {"/l/a.json": 2, "/l/b.json": 2}
    assert reads == [conf.dlq_dir]


def test_archive_failure_after_commit_is_swept_by_discover(spark, ingest_conf, monkeypatch):
    """ADVICE r03 ordering: the fenced commit decides archive ownership, so a
    crash between commit and archive leaves SUCCEEDED files in landing;
    ingest does NOT re-FAIL them (no replay), and the next discover() run
    completes the interrupted moves."""
    import datalakejson_spark.plans.ingest as ing

    discover(spark, ingest_conf)

    def boom(paths, conf):
        raise OSError("simulated archive outage")

    monkeypatch.setattr(ing, "_archive_parallel", boom)
    res = ingest_batch(spark, ingest_conf)  # no exception: commit is durable
    assert len(res.succeeded_files) == 3
    assert sorted(res.archive_deferred) == sorted(res.succeeded_files)
    monkeypatch.undo()

    # committed as SUCCEEDED despite the archive failure...
    ledger = Ledger(spark, ingest_conf.ledger_dir)
    counts = ledger.counts()
    assert counts[LedgerStatus.SUCCEEDED] == 3
    # ...landing copies still present, archive empty
    assert all(os.path.exists(p) for p in res.succeeded_files)

    # discover() is the reconciliation point: 0 new files, moves finished
    assert discover(spark, ingest_conf) == 0
    assert all(not os.path.exists(p) for p in res.succeeded_files)
    archived = {p.name for p in Path(ingest_conf.archive_dir).rglob("*.json")}
    assert {"good_a.json", "good_b.json", "late_week1.json"} <= archived
    # SUCCEEDED files stay SUCCEEDED — the sweep is pure file movement
    assert ledger.counts()[LedgerStatus.SUCCEEDED] == 3
    # and a re-run claims nothing new (no replay happened)
    assert ingest_batch(spark, ingest_conf).claimed == 0


def _synth_files(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("s3://lake/f"), F.col("id")).alias("s3_key"),
        F.lit(100).cast("long").alias("file_size_bytes"),
    )


def test_split_snapshot_segments_append_only(spark, tmp_path):
    """The status-partitioned snapshot (round 8): completed rows land in
    append-only terminal segments that later batches never rewrite; claims
    and commits rewrite only the active part; a terminal re-enqueue takes
    the full-compaction path and stays correct."""
    import json as J

    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 20))

    c1 = led.claim_batch(10, "r1")
    led.apply_outcomes([(c1, LedgerStatus.SUCCEEDED, None)], run_id="r1")
    ptr1 = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert len(ptr1["terminal"]) == 1
    seg1 = tmp_path / "led" / ptr1["terminal"][0]
    sig1 = sorted((f.name, f.stat().st_mtime_ns) for f in seg1.rglob("*.parquet"))

    c2 = led.claim_batch(10, "r2")
    led.apply_outcomes([(c2, LedgerStatus.SUCCEEDED, None)], run_id="r2")
    ptr2 = J.loads((tmp_path / "led" / "_LATEST").read_text())
    # second commit APPENDED a segment; the first segment's files untouched
    assert ptr1["terminal"][0] in ptr2["terminal"] and len(ptr2["terminal"]) == 2
    assert sig1 == sorted(
        (f.name, f.stat().st_mtime_ns) for f in seg1.rglob("*.parquet")
    )
    assert led.counts() == {LedgerStatus.SUCCEEDED: 20}

    # claims read ONLY the active part: nothing claimable now
    assert led.claim_batch(10, "r3") == []

    # rare path: re-enqueue a completed file -> full compaction, one segment
    victim = sorted(c1)[0]
    led.set_status([victim], LedgerStatus.FAILED, error_message="requeue")
    ptr3 = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert len(ptr3["terminal"]) == 1
    rows = {r.s3_key: r.status for r in led.read().collect()}
    assert rows[victim] == LedgerStatus.FAILED
    assert sum(1 for s in rows.values() if s == LedgerStatus.SUCCEEDED) == 19
    assert led.claim_batch(10, "r4") == [victim]


def test_split_snapshot_segment_compaction_bound(spark, tmp_path, monkeypatch):
    """Segment count is bounded: pushing past MAX_TERMINAL_SEGMENTS folds
    all segments into one, with no row lost or duplicated."""
    import json as J

    from datalakejson_spark.plans import ledger as L

    monkeypatch.setattr(L, "MAX_TERMINAL_SEGMENTS", 3)
    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 6))
    for i in range(6):
        c = led.claim_batch(1, f"r{i}")
        led.apply_outcomes([(c, LedgerStatus.SUCCEEDED, None)], run_id=f"r{i}")
    ptr = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert len(ptr["terminal"]) <= 3
    assert led.counts() == {LedgerStatus.SUCCEEDED: 6}
    assert led.read().select("s3_key").distinct().count() == 6


def test_legacy_single_snapshot_pointer_migrates(spark, tmp_path):
    """Every writer publishes the JSON pointer. A bare version-name pointer
    (the pre-split form) is refused, not read: a read and a claim both
    raise, and the pointer is left as it was."""
    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 8))
    ptr_file = tmp_path / "led" / "_LATEST"
    active = json.loads(ptr_file.read_text())["active"]
    ptr_file.write_text(active)
    with pytest.raises(ValueError):
        led.counts()
    with pytest.raises(ValueError):
        led.claim_batch(2, "r1")
    assert ptr_file.read_text() == active


@pytest.mark.soak
def test_retired_segments_get_grace_window(spark, tmp_path, monkeypatch):
    """Segments dropped from the pointer by a fold are NOT deleted in that
    same publish (a lock-free reader holding the previous pointer still
    references them); they are retired first and deleted only after the
    same multi-publish grace the active versions get."""
    import json as J

    from datalakejson_spark.plans import ledger as L

    monkeypatch.setattr(L, "MAX_TERMINAL_SEGMENTS", 2)
    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 8))
    seg_names = []
    for i in range(3):  # third commit folds (2+1 > 2)
        c = led.claim_batch(1, f"r{i}")
        led.apply_outcomes([(c, LedgerStatus.SUCCEEDED, None)], run_id=f"r{i}")
        ptr = J.loads((tmp_path / "led" / "_LATEST").read_text())
        seg_names.append(set(ptr["terminal"]))
    dropped = seg_names[1] - seg_names[2]
    assert dropped, "third commit must have folded the first two segments"
    # immediately after the fold every dropped dir still exists (grace)
    for name in dropped:
        assert (tmp_path / "led" / name).is_dir()
    # a reader that loaded the PRE-fold pointer can still read its dirs
    pre_fold = spark.read.parquet(
        *[str(tmp_path / "led" / n) for n in seg_names[1]]
    )
    assert pre_fold.count() == 2
    # after >= 3 further publishes the retired dirs are gone
    for i in range(3, 7):
        c = led.claim_batch(1, f"r{i}")
        led.apply_outcomes([(c, LedgerStatus.SUCCEEDED, None)], run_id=f"r{i}")
    assert not any((tmp_path / "led" / n).is_dir() for n in dropped)
    assert led.counts() == {
        LedgerStatus.SUCCEEDED: 7,
        LedgerStatus.PENDING: 1,
    }


def test_fenced_lost_claim_does_not_trigger_compaction(spark, tmp_path):
    """A slow runner committing a file that another runner reclaimed and
    completed must be fenced out WITHOUT a full-compaction rewrite: the
    routine lease-expiry race stays O(active), and the winner's terminal
    segment stays referenced untouched."""
    import json as J

    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 4))
    slow = led.claim_batch(2, "slow", stale_lease_s=0.0)
    # lease 0: runner B immediately reclaims and completes the same files
    fast = led.claim_batch(2, "fast", stale_lease_s=0.0)
    assert set(fast) == set(slow)
    led.apply_outcomes([(fast, LedgerStatus.SUCCEEDED, None)], run_id="fast")
    ptr_before = J.loads((tmp_path / "led" / "_LATEST").read_text())
    # slow runner's commit: everything fenced out, winner's segment intact
    fenced = led.apply_outcomes(
        [(slow, LedgerStatus.SUCCEEDED, None)], run_id="slow"
    )
    assert set(fenced) == set(slow)
    ptr_after = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert set(ptr_before["terminal"]) <= set(ptr_after["terminal"]), (
        "full compaction replaced the winner's segment — the fenced "
        "lost-claim path must stay O(active)"
    )
    rows = {r.s3_key: r for r in led.read().collect()}
    assert all(rows[p].status == LedgerStatus.SUCCEEDED for p in fast)
    assert all(rows[p].run_id == "fast" for p in fast)
    # ADVICE r8: the fully-fenced-out commit (zero actual transitions) must
    # not have appended an EMPTY terminal segment.
    assert len(ptr_after["terminal"]) == len(ptr_before["terminal"])


def test_backfill_phase_defers_segment_split(spark, tmp_path):
    """Adaptive deferral (round 9): during an all-PENDING backfill, a batch
    whose completions are <= TERMINAL_SPLIT_MIN_FRAC of the active dir
    publishes ONE plain write — no terminal segment, no split machinery —
    and the terminal rows ride along in the active part. Once the fraction
    crosses the threshold, the next commit drains ALL accumulated terminal
    rows into a single appended segment."""
    import json as J

    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 100))  # the 9 TB backfill in miniature

    c1 = led.claim_batch(3, "r1")  # 3/100 = 3% <= 5%: defer
    led.apply_outcomes([(c1, LedgerStatus.SUCCEEDED, None)], run_id="r1")
    ptr = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert ptr["terminal"] == []  # no segment yet — legacy-cost write
    assert led.counts()[LedgerStatus.SUCCEEDED] == 3
    # the deferred terminal rows live in the active dir...
    active = spark.read.parquet(str(tmp_path / "led" / ptr["active"]))
    assert active.filter(active.status == LedgerStatus.SUCCEEDED).count() == 3

    # ...and stay claimable-excluded; push the accumulated terminal fraction
    # past the threshold: the next commit drains EVERYTHING terminal (old
    # deferred + new) into a single segment
    c2 = led.claim_batch(97, "r2")
    assert len(c2) == 97 and not set(c1) & set(c2)
    led.apply_outcomes([(c2[:10], LedgerStatus.SUCCEEDED, None)], run_id="r2")
    ptr2 = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert len(ptr2["terminal"]) == 1
    seg = spark.read.parquet(str(tmp_path / "led" / ptr2["terminal"][0]))
    assert seg.count() == 13  # 3 deferred + 10 new, drained together
    active2 = spark.read.parquet(str(tmp_path / "led" / ptr2["active"]))
    assert active2.filter(
        active2.status == LedgerStatus.SUCCEEDED
    ).count() == 0
    assert led.counts()[LedgerStatus.SUCCEEDED] == 13


def test_segment_range_sidecars(spark, tmp_path, monkeypatch):
    """Terminal segments prune on the s3_key range in their own parquet
    footers: disjoint segments exclude each other and no keys means no
    segments; a segment whose file has no s3_key statistics is
    conservatively included; a fold's merged segment prunes on its own
    footer; and a re-enqueue out of the merged segment finds its row."""
    import json as J

    import pyarrow.parquet as pq

    from datalakejson_spark.footers import dir_stats
    from datalakejson_spark.plans import ledger as L

    def files(lo, hi):  # zero-padded: lexical order = numeric order
        return spark.range(lo, hi).select(
            F.format_string("s3://lake/f%03d", F.col("id")).alias("s3_key"),
            F.lit(100).cast("long").alias("file_size_bytes"),
        )

    def key(i):
        return f"s3://lake/f{i:03d}"

    root = tmp_path / "led"
    led = Ledger(spark, str(root))
    for lo in (0, 20):  # two disjoint-key segments: f000-f019, f020-f039
        led.register(files(lo, lo + 20))
        c = led.claim_batch(20, f"r{lo}")
        led.apply_outcomes([(c, LedgerStatus.SUCCEEDED, None)], run_id=f"r{lo}")
    ptr = J.loads((root / "_LATEST").read_text())
    assert len(ptr["terminal"]) == 2
    seg_a, seg_b = ptr["terminal"]
    assert not list(root.glob("t*/_RANGE.json"))  # no sidecar is written
    assert dir_stats(str(root / seg_a), "s3_key") == ((key(0), key(19)), 20)
    assert dir_stats(str(root / seg_b), "s3_key") == ((key(20), key(39)), 20)

    # pruning on the footer ranges
    assert led._segs_for_keys([seg_a, seg_b], "a", "a") == []
    assert led._segs_for_keys([seg_a, seg_b], key(5), key(7)) == [seg_a]
    assert led._segs_for_keys([seg_a, seg_b], key(25), key(39)) == [seg_b]
    assert led._segs_for_keys([seg_a, seg_b], key(19), key(20)) == [seg_a, seg_b]
    assert led._segs_for_keys([seg_a, seg_b], None, None) == []

    # a segment file without s3_key statistics is conservatively included
    bare = "nostats"
    (root / bare).mkdir()
    (src,) = (root / seg_a).glob("*.parquet")
    pq.write_table(
        pq.read_table(src), str(root / bare / "part-0.parquet"),
        write_statistics=False,
    )
    assert dir_stats(str(root / bare), "s3_key") == (None, 20)
    assert led._segs_for_keys([bare, seg_b], "zzz", "zzz") == [bare]

    # a fold's merged segment prunes on its own footer
    monkeypatch.setattr(L, "MAX_TERMINAL_SEGMENTS", 1)
    led.register(files(40, 44))
    c3 = led.claim_batch(4, "r3")
    led.apply_outcomes([(c3, LedgerStatus.SUCCEEDED, None)], run_id="r3")
    ptr2 = J.loads((root / "_LATEST").read_text())
    (merged,) = ptr2["terminal"]
    assert dir_stats(str(root / merged), "s3_key") == ((key(0), key(43)), 44)
    assert led._segs_for_keys([merged], "zzz", "zzz") == []
    assert led._segs_for_keys([merged], key(10), key(10)) == [merged]
    assert led.counts() == {LedgerStatus.SUCCEEDED: 44}

    # the re-enqueue finds its terminal row, and the counts are exact
    led.set_status([key(5)], LedgerStatus.FAILED, "re-enqueued")
    assert led.counts() == {LedgerStatus.SUCCEEDED: 43, LedgerStatus.FAILED: 1}
    assert led.read().select("s3_key").distinct().count() == 44


def test_latest_pointer_tmp_orphans_are_swept(spark, tmp_path):
    """A publisher killed between staging and swapping the ``_LATEST``
    pointer leaves a ``_LATEST.<hex>.tmp`` behind; the next publish sweeps
    it once it is older than the tmp grace, and leaves a live writer's
    fresh tmp alone."""
    import time

    from datalakejson_spark import fsutil

    root = tmp_path / "led"
    led = Ledger(spark, str(root))
    led.register(_synth_files(spark, 0, 4))
    aged = root / "_LATEST.deadbeef.tmp"
    fresh = root / "_LATEST.cafecafe.tmp"
    aged.write_text("{")
    fresh.write_text("{")
    old = time.time() - 2 * fsutil.TMP_GRACE_S
    os.utime(aged, (old, old))
    claimed = led.claim_batch(4, "r1")
    led.apply_outcomes([(claimed, LedgerStatus.SUCCEEDED, None)], run_id="r1")
    assert not aged.exists()
    assert fresh.exists()
    assert led.counts() == {LedgerStatus.SUCCEEDED: 4}


def test_ledger_mutex_does_not_starve_a_waiting_runner(spark, tmp_path):
    """Two runners share a backlog, each looping claim then commit. A runner
    that releases the lock and re-acquires it at once must not win every
    race against the other runner's 50 ms poll: both runners commit a fair
    share of the batches, and every file is committed exactly once."""
    import threading

    led = Ledger(spark, str(tmp_path / "led"))
    n_files = 40
    led.register(_synth_files(spark, 0, n_files))
    done: dict[str, list[str]] = {"a": [], "b": []}
    errors: list[BaseException] = []

    def runner(name: str) -> None:
        try:
            while claimed := led.claim_batch(5, name):
                fenced = led.apply_outcomes(
                    [(claimed, LedgerStatus.SUCCEEDED, None)], run_id=name
                )
                done[name].extend(p for p in claimed if p not in set(fenced))
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=runner, args=(n,)) for n in done]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert set(done["a"]).isdisjoint(done["b"])
    assert len(done["a"]) + len(done["b"]) == n_files
    assert min(len(done["a"]), len(done["b"])) >= n_files // 4, {
        k: len(v) for k, v in done.items()
    }
    assert not list((tmp_path / "led").glob("_LOCK.wait.*"))


@pytest.mark.soak
def test_two_runner_soak_through_defer_and_drain(spark, tmp_path):
    """Concurrency soak across the round-9 deferral state machine: two
    runners drain a 400-file backlog in 5-file batches. Early commits sit
    under the 5% terminal threshold (defer: terminal rows ride in the
    active part), and as the backlog shrinks the fraction crosses the
    threshold mid-soak (drain: accumulated terminal rows move to segments)
    — both paths and the transition run under real claim interleaving,
    with the publish_seq counter and segment publishes in the loop. Exactly-
    once per file, nothing lost, bookkeeping consistent at the end."""
    import json as J
    import threading

    led = Ledger(spark, str(tmp_path / "led"))
    n_files = 400
    led.register(_synth_files(spark, 0, n_files))

    done: dict[str, list[str]] = {"a": [], "b": []}
    errors: list[BaseException] = []

    def runner(name: str) -> None:
        try:
            while True:
                claimed = led.claim_batch(5, name)
                if not claimed:
                    return
                fenced = led.apply_outcomes(
                    [(claimed, LedgerStatus.SUCCEEDED, None)], run_id=name
                )
                done[name].extend(p for p in claimed if p not in set(fenced))
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    ta = threading.Thread(target=runner, args=("a",))
    tb = threading.Thread(target=runner, args=("b",))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors

    # exactly-once: no file committed by both runners, all drained
    assert set(done["a"]) & set(done["b"]) == set()
    assert len(done["a"]) + len(done["b"]) == n_files
    assert led.counts() == {LedgerStatus.SUCCEEDED: n_files}
    assert led.read().select("s3_key").distinct().count() == n_files

    # bookkeeping: the recorded deferral bound covers the actual deferred
    # terminal rows still riding in the active dir (bound may overcount —
    # fenced rows — but never undercount), and the monotonic publish
    # counter advanced at least one claim+commit pair per batch
    ptr = J.loads((tmp_path / "led" / "_LATEST").read_text())
    active = spark.read.parquet(str(tmp_path / "led" / ptr["active"]))
    from datalakejson_spark.plans.ledger import TERMINAL_STATUSES

    n_deferred_actual = active.filter(
        active.status.isin(*TERMINAL_STATUSES)
    ).count()
    assert n_deferred_actual <= ptr["deferred_terminal"]
    # each 5-file batch publishes twice (claim's PROCESSING flip + commit)
    assert ptr["publish_seq"] >= 2 * (n_files // 5)
    # every referenced segment's footer gives a usable key range
    from datalakejson_spark.footers import dir_stats

    for seg in ptr["terminal"]:
        r, _rows = dir_stats(str(tmp_path / "led" / seg), "s3_key")
        assert r is not None and r[0] <= r[1]


def test_retirement_grace_is_publish_count_based(spark, tmp_path, monkeypatch):
    """ADVICE r8: the retired-segment journal stamps the pointer's MONOTONIC
    publish counter at retirement, never anything clock-derived (version
    names are minted by whichever machine publishes, so a name-comparison
    grace collapses under cross-machine clock skew), and is written
    atomically."""
    import json as J

    from datalakejson_spark.plans import ledger as L

    monkeypatch.setattr(L, "MAX_TERMINAL_SEGMENTS", 1)
    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 6))
    for i in range(2):  # second commit folds (1+1 > 1) and retires a segment
        c = led.claim_batch(2, f"r{i}")
        led.apply_outcomes([(c, LedgerStatus.SUCCEEDED, None)], run_id=f"r{i}")
    retired = J.loads((tmp_path / "led" / "_RETIRED").read_text())
    assert retired, "fold must have retired the replaced segments"
    ptr = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert isinstance(ptr["publish_seq"], int) and ptr["publish_seq"] >= 1
    for stamp in retired.values():
        assert isinstance(stamp, dict) and isinstance(stamp["seq"], int)
        assert stamp["seq"] <= ptr["publish_seq"]
    assert not (tmp_path / "led" / "_RETIRED.tmp").exists()

    # Clock-skew immunity: a publish whose version NAME sorts below every
    # kept version (a skewed-behind runner's clock) must not fast-forward
    # the grace — the counter advances by one regardless of the name.
    seq_before = ptr["publish_seq"]
    orig_time_ns = L.time.time_ns
    monkeypatch.setattr(L.time, "time_ns", lambda: orig_time_ns() - 10**15)
    led.register(_synth_files(spark, 6, 7))  # one skewed publish
    monkeypatch.setattr(L.time, "time_ns", orig_time_ns)
    ptr2 = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert ptr2["publish_seq"] == seq_before + 1
    # surviving retired entries aged exactly one publish, not >= keep
    retired2 = J.loads((tmp_path / "led" / "_RETIRED").read_text())
    for name, stamp in retired2.items():
        if name in retired and ptr2["publish_seq"] - stamp["seq"] < 3:
            assert (tmp_path / "led" / name).is_dir(), (
                "segment deleted before its publish-count grace elapsed"
            )


def test_ledger_transition_job_budget(spark, tmp_path):
    """Claims and list-keyed commits run on the driver in Arrow: a claim, a
    fully fenced-out commit (nothing moves, nothing is written) and a
    splitting commit (active-part and segment writes) launch no Spark job.
    Registering against an existing ledger is one left join: the broadcast
    of the ledger keys and the collect of the join."""
    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 30))
    tag = tmp_path.name

    n_new, n_register = jobs_of(
        spark, f"{tag}-register", lambda: led.register(_synth_files(spark, 20, 40))
    )
    assert n_new == 10
    assert n_register == 2, n_register

    slow, n_claim = jobs_of(
        spark, f"{tag}-claim", lambda: led.claim_batch(10, "run-slow")
    )
    assert len(slow) == 10
    assert n_claim == 0, n_claim
    # lease 0: runner B reclaims the same ten files
    fast = led.claim_batch(10, "run-fast", stale_lease_s=0.0)
    assert sorted(fast) == sorted(slow)

    fenced, n_fenced = jobs_of(
        spark,
        f"{tag}-fenced",
        lambda: led.apply_outcomes(
            [(slow, LedgerStatus.SUCCEEDED, None)], run_id="run-slow"
        ),
    )
    assert sorted(fenced) == sorted(slow)
    assert n_fenced == 0, n_fenced

    # 10 of 40 rows turn terminal (> 5%): active write + segment write
    _, n_split = jobs_of(
        spark,
        f"{tag}-split",
        lambda: led.apply_outcomes(
            [(fast, LedgerStatus.SUCCEEDED, None)], run_id="run-fast"
        ),
    )
    assert n_split == 0, n_split
    assert len(json.loads((tmp_path / "led" / "_LATEST").read_text())["terminal"]) == 1
    assert led.counts() == {
        LedgerStatus.SUCCEEDED: 10,
        LedgerStatus.PENDING: 30,
    }


def test_discover_job_budget(spark, tmp_path):
    """Discovery over a wide zone (19 prefixes) is one job into an empty
    ledger (the listing's collect) and two into an existing one (register's
    left join: the broadcast of the ledger keys and the collect). The same
    join returns the interrupted-archive stragglers."""
    root = tmp_path / "landing"
    for i in range(19):
        write_ndjson(root / f"p{i:02d}" / f"f{i}.json", [good_record(i)])
    conf = IngestConfig(
        landing_dir=str(root),
        curated_dir=str(tmp_path / "curated"),
        dlq_dir=str(tmp_path / "dlq"),
        archive_dir=str(tmp_path / "archive"),
        ledger_dir=str(tmp_path / "ledger"),
    )
    group = f"{tmp_path.name}-discover"
    n, jobs = jobs_of(spark, group, lambda: discover(spark, conf))
    assert n == 19
    assert jobs == 1, jobs
    # rediscovery registers nothing: one join
    n2, jobs2 = jobs_of(spark, f"{group}-again", lambda: discover(spark, conf))
    assert n2 == 0
    assert jobs2 == 2, jobs2


def test_ledger_transitions_match_awkward_keys(spark, tmp_path):
    """List-keyed transitions match their keys through one parsed SQL IN
    list, so quotes, backslashes, whitespace and non-ASCII characters in a
    path must round-trip through claim and commit."""
    keys = [
        "/l/it's.json",
        "/l/back\\slash.json",
        '/l/double"quote.json',
        "/l/sp ace\tand\nnewline.json",
        "/l/ünïcødé.json",
        "/l/plain.json",
    ]
    led = Ledger(spark, str(tmp_path / "led"))
    led.register(
        spark.createDataFrame([(k, 1) for k in keys], "s3_key string, file_size_bytes long")
    )
    claimed = led.claim_batch(10, "run-a")
    assert sorted(claimed) == sorted(keys)
    done, failed = claimed[:3], claimed[3:]
    assert led.apply_outcomes(
        [(done, LedgerStatus.SUCCEEDED, None), (failed, LedgerStatus.FAILED, "x")],
        run_id="run-a",
    ) == []
    rows = {r.s3_key: (r.status, r.retry_count) for r in led.read().collect()}
    assert rows == {
        **{k: (LedgerStatus.SUCCEEDED, 1) for k in done},
        **{k: (LedgerStatus.FAILED, 1) for k in failed},
    }


def test_ledger_snapshot_round_trip(spark, tmp_path):
    """Snapshots of either writer read back exactly. A Spark-written
    snapshot (INT96 timestamps) goes through the Arrow path: read whole,
    then claimed. The Arrow-written snapshot the claim publishes goes back
    through ``Ledger.read()`` under LEDGER_SCHEMA. Every column is equal,
    timestamps to the microsecond, over the awkward keys."""
    from datetime import datetime, timedelta, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalakejson_spark.plans.ledger import LEDGER_SCHEMA

    keys = [
        "/l/it's.json",
        "/l/back\\slash.json",
        '/l/double"quote.json',
        "/l/sp ace\tand\nnewline.json",
        "/l/ünïcødé.json",
        "/l/plain.json",
    ]
    statuses = [
        LedgerStatus.PENDING,
        LedgerStatus.FAILED,
        LedgerStatus.PENDING,
        LedgerStatus.SUCCEEDED,
        LedgerStatus.PROCESSING,
        LedgerStatus.QUARANTINED,
    ]
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)

    def ts(us: int) -> datetime:
        return datetime(2024, 2, 29, 23, 59, 58, us, tzinfo=timezone.utc)

    def micros(dt: datetime) -> int:
        return (dt - epoch) // timedelta(microseconds=1)

    rows = [
        (
            k,
            10**12 + i,
            statuses[i],
            i,
            None if i % 2 else f"err 'ü' \\ {i}",
            ts(100_001 + i),
            ts(999_990 + i),
            None if i % 3 else f"run-'{i}'",
        )
        for i, k in enumerate(keys)
    ]
    expect = {r[0]: r[:5] + (micros(r[5]), micros(r[6]), r[7]) for r in rows}

    root = tmp_path / "led"
    spark.createDataFrame(rows, LEDGER_SCHEMA).coalesce(1).write.parquet(str(root / "v1"))
    (spark_file,) = (root / "v1").glob("*.parquet")
    assert pq.ParquetFile(spark_file).schema.column(5).physical_type == "INT96"
    (root / "_LATEST").write_text(
        json.dumps({"active": "v1", "terminal": [], "deferred_terminal": 2, "publish_seq": 1})
    )
    led = Ledger(spark, str(root))

    def as_rows(table: pa.Table) -> dict:
        cols = [
            table[c].cast(pa.int64()) if c.endswith("_at") else table[c]
            for c in table.column_names
        ]
        return {r[0]: r for r in zip(*(c.to_pylist() for c in cols))}

    assert as_rows(led._load(["v1"])) == expect

    claimed = led.claim_batch(2, "run-rt")
    assert claimed == ["/l/it's.json", "/l/back\\slash.json"]  # oldest first
    ptr = json.loads((root / "_LATEST").read_text())
    (arrow_file,) = (root / ptr["active"]).glob("*.parquet")
    assert pq.read_schema(arrow_file).field("last_updated_at").type == pa.timestamp(
        "us", tz="UTC"
    )
    got = {
        r[0]: tuple(r)
        for r in led.read()
        .select(
            *[
                F.unix_micros(f.name).alias(f.name) if f.name.endswith("_at") else f.name
                for f in LEDGER_SCHEMA.fields
            ]
        )
        .collect()
    }
    stamp = got[claimed[0]][6]
    for k in claimed:
        key, size, _status, retry, _msg, first, _last, _run = expect[k]
        expect[k] = (key, size, LedgerStatus.PROCESSING, retry + 1, None, first, stamp, "run-rt")
    assert got == expect


def test_sql_in_renders_awkward_literals(spark):
    """``sql_in`` parses one IN list: string literals with quotes,
    backslashes and non-ASCII characters match themselves exactly,
    integers render bare, ``None`` is dropped and an empty list is
    FALSE."""
    from datalakejson_spark.session import sql_in

    texts = [
        "it's",
        'double"quote',
        "back\\slash",
        "trailing\\",
        "\\'",
        "sp ace\tand\nnewline",
        "ünïcødé ✓",
        "%41 \\u0041",
    ]
    words = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts + ["plain", "back\\\\slash"])],
        "id bigint, s string",
    )
    got = {r.s for r in words.filter(sql_in("s", texts + [None])).collect()}
    assert got == set(texts)
    ids = {r.id for r in words.filter(sql_in("id", [0, 3, None, 2**40])).collect()}
    assert ids == {0, 3}
    assert words.filter(sql_in("s", [])).count() == 0
    assert words.filter(sql_in("s", [None])).count() == 0
    with pytest.raises(TypeError):
        sql_in("id", [1.5])


def test_bulk_flip_by_dataframe(spark, tmp_path):
    """DataFrame-keyed set_status (the operational bulk flip) collects its
    key column and transitions like a list: a terminal flip splits into a segment,
    a fenced flip reports the rows it may not touch, and re-enqueueing a
    segment row takes the full-compaction path."""
    import json as J

    def frame(keys):
        return spark.createDataFrame([(k,) for k in keys], "s3_key string")

    led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 20))
    every = [f"s3://lake/f{i}" for i in range(20)]
    claimed = led.claim_batch(5, "run-a")
    done = [k for k in every if k not in claimed][:10]
    assert led.set_status(frame(done), LedgerStatus.SUCCEEDED) == []
    ptr = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert len(ptr["terminal"]) == 1 and ptr["deferred_terminal"] == 0

    fenced = led.set_status(
        frame(every), LedgerStatus.FAILED, error_message="bulk", fence_run_id="run-a"
    )
    assert sorted(fenced) == sorted(k for k in every if k not in claimed)

    led.set_status(frame(done[:2]), LedgerStatus.PENDING)
    ptr = J.loads((tmp_path / "led" / "_LATEST").read_text())
    assert len(ptr["terminal"]) == 1
    rows = {r.s3_key: r.status for r in led.read().collect()}
    assert rows == {
        **{k: LedgerStatus.PENDING for k in every},
        **{k: LedgerStatus.SUCCEEDED for k in done[2:]},
        **{k: LedgerStatus.FAILED for k in claimed},
    }
