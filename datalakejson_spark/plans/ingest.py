"""Batch ingest plane: discovery → claim → PERMISSIVE read → corrupt split →
transform → partitioned curated append → fenced ledger commit → archive.

Reference parity (operator-by-operator):
- discovery & registration: ``FileListerAndDbPopulator``
  (/root/reference/sudo_code.txt:71-103, psuedo_code.txt:66-137)
- batch ELT: ``JsonToParquetBatchProcessor``
  (sudo_code.txt:118-238, psuedo_code.txt:143-265), 6-step decomposition
  diagram3.mmd:25-35
- transform: ``Apply_Transformations`` (psuedo_code.txt:268-299,
  sudo_code.txt:240-256)
- DLQ: sudo_code.txt:169, psuedo_code.txt:203
- archive move: sudo_code.txt:196-215, psuedo_code.txt:232-248
- crash recovery: whole-batch FAILED on error (sudo_code.txt:189-194)
- lost-file reconciliation: sudo_code.txt:219-224

Deliberate improvements over the pseudocode (SURVEY.md §7.0/§7.3):
- the raw batch is read ONCE and cached; the reference re-scans up to 4×
  (two filters × (count + write), psuedo_code.txt:185-225). Per-file
  corrupt/good counts come from one aggregate over the cached batch.
- ``mergeSchema`` is applied at READ time (it is a no-op on OSS Parquet
  writes, §1.3 fidelity note); appends rely on Parquet schema union.
- the ``col("*") + explicit columns`` duplication bug in the reference's
  transform (psuedo_code.txt:273-290 selects named columns AND ``col("*")``)
  is implemented as intended: start from ``*``, add/rename derived columns.
- corrupt-record capture is pinned with an explicit schema: Spark only
  materializes ``_corrupt_record`` when it is declared, and an all-corrupt
  file would otherwise fail inference entirely.
- discovery lists through Spark's own file index, as the streaming plane's
  file source does: one metadata-only scan of the landing root. It skips
  ``_``/``.``-prefixed names, and a file archived by another runner between
  listing and scan is skipped, not raised.

100 TB posture: no data rows ever reach the driver — only the claimed path
list (bounded by batch_size, the reference's own design: sudo_code.txt:128)
and per-file path sets for archive moves (same bound). The curated write is
shuffle-free (task-per-input-split, hive-partitioned by derived columns).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.session import local_df
from pyspark.sql import types as T

from datalakejson_spark import publish
from datalakejson_spark.fsutil import uri_path
from datalakejson_spark.plans.compact import (
    TARGET_FILE_BYTES,
    CuratedStore,
    compact,
    vacuum_replays,
)
from datalakejson_spark.plans.killpoints import fire
from datalakejson_spark.plans.ledger import PROCESSING_LEASE_S, Ledger, LedgerStatus
from datalakejson_spark.plans.schema_evolution import (
    RawSchemaRegistry,
    merge_schemas,
    read_parquet_union,
    split_compatible_files,
)
from datalakejson_spark.session import configure_runtime

CORRUPT_COL = "_corrupt_record"
PARTITION_COLS = ("year", "month", "day", "mode")


@dataclass
class IngestConfig:
    """Paths + knobs of one ingest deployment (mirrors the Glue job params,
    diagram3:44: RAW_BUCKET, PROCESSED_BUCKET, DLQ_PATH, BATCH_SIZE...)."""

    landing_dir: str
    curated_dir: str
    dlq_dir: str
    archive_dir: str
    ledger_dir: str
    batch_size: int = 10_000  # sudo_code.txt:128
    # Explicit schema for the landing files (100 TB posture: skip per-batch
    # inference). None → infer per batch (the reference's behavior).
    schema: T.StructType | None = None
    mode_default: str = "unknown"
    # Landing format: "json" (reference parity) or "csv" (same PERMISSIVE
    # corrupt-record contract; requires ``schema`` — CSV inference is not
    # trustworthy at scale and the drift gate is JSON-specific).
    landing_format: str = "json"
    # S5: when set, the ledger lives in a JDBC database at this URL (the
    # reference's JDBC_URL job parameter, sudo_code.txt:74) instead of the
    # local parquet-snapshot store. Locally: "jdbc:derby:<dir>;create=true"
    # (embedded, in Spark's JVM); production: a PostgreSQL URL.
    jdbc_url: str | None = None
    # Seconds before a PROCESSING claim is considered orphaned (its runner
    # died) and becomes reclaimable. The production default (30 min) must
    # exceed the slowest healthy batch; crash tests set 0 to reclaim
    # immediately.
    stale_lease_s: float = PROCESSING_LEASE_S


@dataclass
class IngestResult:
    run_id: str
    claimed: int = 0
    good_rows: int = 0
    corrupt_rows: int = 0
    succeeded_files: list[str] = field(default_factory=list)
    quarantined_files: list[str] = field(default_factory=list)
    lost_files: list[str] = field(default_factory=list)
    # claims fenced out at commit: our PROCESSING lease expired and another
    # runner reclaimed the file while we ran — we committed nothing for these
    # and skipped their archive move; our already-appended curated rows are
    # shadowed by the reclaimer's newer run_id in deduplicate_replays()
    lost_claims: list[str] = field(default_factory=list)
    # files rejected by the schema-drift gate (incompatible type change,
    # psuedo_code.txt:362 / SURVEY §7.3) — a subset of quarantined_files
    drifted_files: dict[str, list] = field(default_factory=dict)
    # succeeded files whose archive move failed AFTER the fenced commit; they
    # are committed work (unclaimable) and the next discover() sweep finishes
    # the move — an archive hiccup must not re-FAIL a committed batch
    archive_deferred: list[str] = field(default_factory=list)


def make_ledger(spark: SparkSession, conf: IngestConfig):
    """Ledger backend selection (S5): JDBC when ``conf.jdbc_url`` is set,
    else the local parquet-snapshot ledger. Both expose the same surface;
    everything downstream is backend-agnostic."""
    if conf.jdbc_url:
        from datalakejson_spark.plans.jdbc_ledger import JdbcLedger

        return JdbcLedger(spark, conf.jdbc_url)
    return Ledger(spark, conf.ledger_dir)


# --------------------------------------------------------------------------
# Discovery (S4 + S11 + J1)
# --------------------------------------------------------------------------
def discover(spark: SparkSession, conf: IngestConfig) -> int:
    """List the landing zone and register new files as PENDING.

    The reference enumerates historical + ``YYYY/weekXX`` prefixes via
    paginated S3 listing (psuedo_code.txt:80-98) and head_objects for size
    (psuedo_code.txt:107-110). Here the listing is Spark's own file index:
    one metadata-only ``binaryFile`` scan of the landing root, projected to
    ``path`` and ``length``. The index lists a directory level in parallel
    JVM tasks once it passes ``spark.sql.sources.parallelPartitionDiscovery
    .threshold``; on S3, S3A paginates. Keys are Spark's decoded ``path``
    minus its ``file:`` scheme, byte-identical to an ``os.walk`` path.

    Like the streaming plane's file source, the index skips ``_``- and
    ``.``-prefixed files and directories. A file listed here but archived
    by another runner before the scan is skipped (``ignoreMissingFiles``),
    not raised. Zero-byte files, which the index lists but no scan reads,
    are added from a driver-side stat so that ingest can quarantine them.
    A missing or empty landing dir registers nothing and leaves the ledger
    untouched.

    Also completes interrupted archive moves: a run that crashed between its
    fenced SUCCEEDED commit and the archive step (archive runs after the
    commit so a reclaimer can never lose its landing copy mid-read) leaves
    the landing file behind with a SUCCEEDED ledger row; discovery is the
    reconciliation point that finishes the move (sudo_code.txt:219-224's
    lost-file sweep, inverted): ``register`` hands them to the archive step.
    Returns newly registered file count."""
    configure_runtime(spark)
    # "nothing has landed yet" is healthy: answer it before any load. The
    # PATH_NOT_FOUND catch below still covers a dir removed between this
    # check and the scan.
    if not _exists(spark, conf.landing_dir):
        return 0
    try:
        listing = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", f"*.{conf.landing_format}")
            .option("ignoreMissingFiles", "true")
            .load(conf.landing_dir)
        )
    except AnalysisException as exc:
        if publish.error_condition(exc) != "PATH_NOT_FOUND":
            raise
        return 0
    # the driver-side index answers with no job; its JVM array's length is
    # one py4j call (inputFiles() copies it one call per file)
    n_listed = len(listing._jdf.inputFiles())
    if not n_listed:
        return 0
    discovered = listing.select(
        F.regexp_replace("path", "^file:", "").alias("s3_key"),
        F.col("length").alias("file_size_bytes"),
    )
    # the index lists zero-byte files but drops them from every scan; when
    # the planned scan (also no job) holds fewer files, add them back
    scan = listing._jdf.queryExecution().sparkPlan()
    if scan.selectedPartitions().totalNumberOfFiles() < n_listed:
        empty = _zero_byte_files(listing)
        discovered = discovered.unionByName(
            local_df(spark, empty, "s3_key string, file_size_bytes long")
        )
    return make_ledger(spark, conf).register(
        discovered, on_succeeded=lambda keys: _archive_parallel(keys, conf)
    )


def _exists(spark: SparkSession, path: str) -> bool:
    """Does ``path`` exist, asked of its own Hadoop FileSystem? A load of a
    missing path would log a JVM FileNotFoundException stack trace before
    failing, so the healthy "nothing there yet" cases ask first."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()).exists(p)


def _zero_byte_files(listing: DataFrame) -> list[tuple[str, int]]:
    """(path, 0) of the listed files that are empty. They hold no rows, but
    each still gets a ledger row, which ingest quarantines for good. A file
    that vanished since the listing is skipped, as the scan skips it."""
    rows = []
    for uri in listing.inputFiles():
        path = uri_path(uri)
        try:
            if os.path.getsize(path) == 0:
                rows.append((path, 0))
        except FileNotFoundError:
            continue
    return rows


# --------------------------------------------------------------------------
# Transform (Apply_Transformations, psuedo_code.txt:268-299)
# --------------------------------------------------------------------------
def apply_transformations(df: DataFrame, mode_default: str = "unknown") -> DataFrame:
    """Cast/flatten/derive per the reference's transform:

    - ``id → record_id`` cast string (psuedo_code.txt:274)
    - ``event_timestamp → event_time_utc`` cast timestamp (psuedo_code.txt:275)
    - ``MODE → ml_mode`` cast string (psuedo_code.txt:276); also retained as
      lowercase partition column ``mode`` (sudo_code.txt:180)
    - flatten ``metadata.app_version``/``metadata.user_agent``
      (psuedo_code.txt:279-280)
    - flatten ``payload.transaction_id``; keep ``payload.items`` complex as
      ``transaction_items`` (psuedo_code.txt:283-284)
    - keep every other inferred top-level key (psuedo_code.txt:287) — done by
      starting from ``*`` instead of duplicating columns
    - partition keys year/month/day from EVENT time (psuedo_code.txt:294-296),
      so late files land in old partitions — the reference's late-data
      semantics (SURVEY.md §2.10)
    """
    cols = set(df.columns)

    def has(c: str) -> bool:
        return c in cols

    def nested(parent: str, child: str):
        if has(parent) and isinstance(df.schema[parent].dataType, T.StructType):
            if child in df.schema[parent].dataType.fieldNames():
                return F.col(f"{parent}.{child}")
        return F.lit(None).cast("string")

    out = df
    if has("id"):
        out = out.withColumn("record_id", F.col("id").cast("string")).drop("id")
    else:
        out = out.withColumn("record_id", F.lit(None).cast("string"))
    # try_cast: ANSI mode (Spark 4 default) turns malformed casts into
    # errors; the reference's semantics are tolerant (bad timestamp → NULL →
    # row lands in the null partition, not a failed batch)
    ts = (
        F.expr("try_cast(event_timestamp AS TIMESTAMP)")
        if has("event_timestamp")
        else F.lit(None).cast("timestamp")
    )
    out = out.withColumn("event_time_utc", ts)
    if has("event_timestamp"):
        out = out.drop("event_timestamp")
    mode = F.col("MODE").cast("string") if has("MODE") else F.lit(None).cast("string")
    out = out.withColumn("ml_mode", mode)
    if has("MODE"):
        out = out.drop("MODE")

    out = (
        out.withColumn("app_version", nested("metadata", "app_version"))
        .withColumn("user_agent", nested("metadata", "user_agent"))
        .withColumn("transaction_id", nested("payload", "transaction_id"))
    )
    if has("payload") and isinstance(df.schema["payload"].dataType, T.StructType) and \
            "items" in df.schema["payload"].dataType.fieldNames():
        out = out.withColumn("transaction_items", F.col("payload.items"))
    out = out.drop("metadata", "payload")

    return (
        out.withColumn("year", F.year("event_time_utc"))
        .withColumn("month", F.month("event_time_utc"))
        .withColumn("day", F.dayofmonth("event_time_utc"))
        .withColumn(
            "mode", F.lower(F.coalesce(F.col("ml_mode"), F.lit(mode_default)))
        )
    )


# --------------------------------------------------------------------------
# Batch processor (JsonToParquetBatchProcessor)
# --------------------------------------------------------------------------
def _archive_path(src: str, landing_dir: str, archive_dir: str) -> str:
    """P12: landing prefix → archive prefix, substructure preserved
    (sudo_code.txt:200)."""
    rel = os.path.relpath(src, landing_dir)
    return os.path.join(archive_dir, rel)


def _move_idempotent(src: str, dst: str) -> None:
    """Copy-then-delete, safe under re-run after ANY crash point
    (SURVEY.md §7.3): the copy goes to a temp name and is os.replace()d into
    place, so ``dst`` existing implies a COMPLETE copy — a crash mid-copy
    leaves only the temp file, and the re-run redoes the copy instead of
    deleting the sole good copy. Already-moved files are a no-op."""
    if os.path.exists(dst) and not os.path.exists(src):
        return  # previous run completed the move
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if not os.path.exists(dst):
        tmp = f"{dst}.__inflight_{uuid.uuid4().hex[:8]}"
        shutil.copy2(src, tmp)
        os.replace(tmp, dst)  # atomic: dst is all-or-nothing
    fire("ingest:mid_archive_move")  # after copy, before landing delete
    if os.path.exists(src):
        os.remove(src)


def _archive_parallel(paths: list[str], conf: IngestConfig) -> None:
    """Fan the copy+delete moves over a thread pool — they are I/O-bound
    driver Python (each move is an independent idempotent unit), and at the
    reference's 10k-files/batch bound a serial loop is the ingest ceiling.
    On S3 each move is a CopyObject+DeleteObject pair with the same shape."""
    from concurrent.futures import ThreadPoolExecutor

    live = [p for p in paths if os.path.exists(p)]
    if not live:
        return
    if len(live) == 1:
        _move_idempotent(
            live[0], _archive_path(live[0], conf.landing_dir, conf.archive_dir)
        )
        return
    with ThreadPoolExecutor(max_workers=min(32, len(live))) as pool:
        futures = [
            pool.submit(
                _move_idempotent,
                p,
                _archive_path(p, conf.landing_dir, conf.archive_dir),
            )
            for p in live
        ]
        for f in futures:
            f.result()  # surface the first failure (crash-recovery path)


def ingest_batch(spark: SparkSession, conf: IngestConfig) -> IngestResult:
    """One claim→process→commit cycle. Graceful no-work exit when nothing is
    claimable (sudo_code.txt:136-139)."""
    configure_runtime(spark)
    # Monotonic lexicographic run ids: deduplicate_replays keeps the MAX run
    # per file, so ids must order by attempt time even for same-second
    # retries — zero-padded nanoseconds, uuid only as a collision suffix.
    run_id = f"run-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}"
    # roll forward the curated stages a crashed run committed (an ingest's
    # or a compaction's), and reclaim aged uncommitted ones
    store = CuratedStore(conf.curated_dir)
    publish.publish_staged(store)
    ledger = make_ledger(spark, conf)
    result = IngestResult(run_id=run_id)

    paths = ledger.claim_batch(conf.batch_size, run_id, stale_lease_s=conf.stale_lease_s)
    result.claimed = len(paths)
    if not paths:
        return result
    fire("ingest:after_claim")
    # A claimed file missing from landing was either archived by a run that
    # crashed after its curated write (SUCCEEDED work whose ledger commit was
    # lost) or genuinely lost; the outcome loop below tells the two apart.
    live_paths = [p for p in paths if os.path.exists(p)]

    raw = None
    try:
        if conf.landing_format == "csv" and conf.schema is None:
            raise ValueError("CSV landing zones require an explicit schema")
        schema = conf.schema
        if schema is None and live_paths:
            # Schema-drift gate (SURVEY §7.3): files whose shape is
            # incompatible with the landing contract (e.g. STRING→STRUCT,
            # psuedo_code.txt:362) are quarantined BEFORE the batch read, so
            # they can't poison the inferred schema or the curated table.
            # The first batch has no contract to conflict with; its schema
            # founds it (diagram_1.txt:44).
            registry = RawSchemaRegistry(conf.ledger_dir)
            contract = registry.load()
            live_paths, result.drifted_files, inferred = split_compatible_files(
                spark, live_paths, contract
            )
            if inferred is not None:
                schema = merge_schemas(contract, inferred)
                registry.save(schema)
        if live_paths:
            # Pin the corrupt column: without an explicit schema Spark drops
            # _corrupt_record support for files that are 100% malformed
            # (SURVEY.md §7.3).
            if CORRUPT_COL not in [f.name for f in schema.fields]:
                # copy — StructType.add mutates in place and the schema may be
                # caller-owned (conf.schema) or the shared contract object
                schema = T.StructType(
                    list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
                )
            if conf.landing_format == "csv":
                from datalakejson_spark.sources.formats import read_csv_permissive

                raw = read_csv_permissive(spark, live_paths, schema)
            else:
                raw = (
                    spark.read.schema(schema)
                    .option("mode", "PERMISSIVE")
                    .option("columnNameOfCorruptRecord", CORRUPT_COL)
                    .json(live_paths)
                    .withColumn("source_s3_path", F.input_file_name())
                )
            # Single read, both branches (fixes the reference's 4× rescan).
            raw = raw.persist()

        good_paths: set[str] = set()
        corrupt_paths: set[str] = set()
        if raw is not None:
            # One per-file aggregate over the persisted batch classifies
            # every file and gives both row counts (bounded: one row per
            # claimed file); the two writes below are the only other passes.
            per_file = (
                raw.groupBy("source_s3_path")
                .agg(
                    F.count(CORRUPT_COL).alias("n_corrupt"),
                    F.count(F.when(F.col(CORRUPT_COL).isNull(), 1)).alias("n_good"),
                )
                .collect()
            )
            result.corrupt_rows = sum(r.n_corrupt for r in per_file)
            result.good_rows = sum(r.n_good for r in per_file)
            corrupt_paths = {uri_path(r.source_s3_path) for r in per_file if r.n_corrupt}
            good_paths = {uri_path(r.source_s3_path) for r in per_file if r.n_good}
            if result.corrupt_rows:
                # DLQ: corrupt rows + lineage, bucketed by run id
                # (sudo_code.txt:169).
                raw.filter(F.col(CORRUPT_COL).isNotNull()).select(
                    CORRUPT_COL, "source_s3_path"
                ).write.mode("append").json(os.path.join(conf.dlq_dir, run_id))
                fire("ingest:after_dlq_write")

            if result.good_rows:
                good = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
                curated = apply_transformations(good, conf.mode_default)
                # Run stamp: if a crash lands between this append and the
                # ledger commit, the re-claimed batch re-appends the same
                # source rows under a NEW run id — deduplicate_replays()
                # resolves such replays downstream (T2 idempotency).
                curated = curated.withColumn("ingest_run_id", F.lit(run_id))
                # Staged publish, not a direct ``mode("append")``: appends
                # from CONCURRENT runners share one committer scratch dir
                # (``_temporary/0``), and one job's cleanup deletes the
                # other's task files (FileOutputCommitter.mergePaths). A
                # crash before the commit leaves garbage; after it, the next
                # publish pass rolls the stage forward. Either way the batch
                # replays under a new run id (deduplicate_replays, T2).
                stage = os.path.join(store.staging, run_id)
                curated.write.mode("overwrite").partitionBy(
                    *PARTITION_COLS
                ).parquet(stage)
                publish.commit_stage(stage)
                fire("ingest:after_curated_commit")
                # "pending" (a live publish held the slot throughout) is
                # durable: the next publish pass makes the rows visible
                if publish.await_publish(store, run_id) == "corrupt":
                    raise RuntimeError(f"curated stage {run_id} lost staged files")
                fire("ingest:after_curated_append")

        # Per-file outcome classification (sudo_code.txt:202-224). A file with
        # any corrupt row is quarantined even if some rows parsed — its good
        # rows were still written (the reference does the same: the DLQ and
        # curated branches are independent).
        drift_set, live_set = set(result.drifted_files), set(live_paths)
        for p in paths:
            if p in drift_set:
                result.quarantined_files.append(p)
            elif p not in live_set:
                # claimed but vanished from landing: either archived by a
                # crashed run (treat as succeeded) or genuinely lost.
                if os.path.exists(_archive_path(p, conf.landing_dir, conf.archive_dir)):
                    result.succeeded_files.append(p)
                else:
                    result.lost_files.append(p)
            elif p in corrupt_paths:
                result.quarantined_files.append(p)
            elif p in good_paths:
                result.succeeded_files.append(p)
            elif os.path.exists(p) and os.path.getsize(p) == 0:
                # zero-byte file: produces no rows ever — quarantining (vs the
                # reference's FAILED) stops it from poison-retrying forever
                result.quarantined_files.append(p)
            else:
                # non-empty (or deleted mid-batch) but produced no rows —
                # lost-file reconciliation (sudo_code.txt:219-224), FAILED so
                # the retry loop reclaims
                result.lost_files.append(p)

        corrupt_quarantine = [p for p in result.quarantined_files if p not in drift_set]
        drift_msg = (
            "incompatible schema drift: "
            + "; ".join(f"{p}: {c}" for p, c in result.drifted_files.items())[:500]
            if drift_set
            else None
        )
        # One snapshot write for the whole batch outcome (not one per state).
        # fence=True: transitions apply only to rows still carrying our
        # run_id; reclaimed rows come back as lost claims, untouched. The
        # commit runs BEFORE the archive move (ADVICE r03): the fenced commit
        # authoritatively decides who owns the side effect, so a reclaimer
        # can never have its landing copy deleted out from under it — we only
        # archive files the commit just confirmed ours (and flipped to
        # SUCCEEDED, making them unclaimable). A crash between commit and
        # archive leaves a SUCCEEDED file in landing; the next discover()
        # sweep finishes the move (register's ``on_succeeded``).
        fenced = ledger.apply_outcomes(
            [
                (result.succeeded_files, LedgerStatus.SUCCEEDED, None),
                (corrupt_quarantine, LedgerStatus.QUARANTINED,
                 "corrupt records routed to DLQ"),
                (list(result.drifted_files), LedgerStatus.QUARANTINED, drift_msg),
                (result.lost_files, LedgerStatus.FAILED,
                 "claimed but produced no rows (lost/empty)"),
            ],
            run_id=run_id,
        )
        result.lost_claims = sorted(fenced)
        if fenced:
            fenced_set = set(fenced)
            result.succeeded_files = [
                p for p in result.succeeded_files if p not in fenced_set
            ]
            result.quarantined_files = [
                p for p in result.quarantined_files if p not in fenced_set
            ]
            result.lost_files = [p for p in result.lost_files if p not in fenced_set]
        fire("ingest:after_commit_pre_archive")
        # Archive good files (copy+delete, sudo_code.txt:196-215) in parallel.
        # Failures land in archive_deferred, NOT the crash-recovery handler:
        # the batch is already committed and must not be flipped to FAILED
        # (that would re-claim and re-append rows another run already owns).
        try:
            _archive_parallel(result.succeeded_files, conf)
        except Exception:  # noqa: BLE001 — I/O flake after a durable commit
            result.archive_deferred = [
                p for p in result.succeeded_files if os.path.exists(p)
            ]
        return result
    except Exception as exc:  # noqa: BLE001
        # Crash recovery: whole in-flight batch → FAILED for the next run
        # (sudo_code.txt:189-194, psuedo_code.txt:252-259). Fenced on run_id:
        # a file already reclaimed by a healthy runner must not be flipped
        # back to FAILED by this dying one.
        ledger.set_status(
            paths,
            LedgerStatus.FAILED,
            error_message=f"batch error: {exc}",
            run_id=run_id,
            fence_run_id=run_id,
        )
        raise
    finally:
        if raw is not None:
            raw.unpersist()


def run_until_drained(
    spark: SparkSession,
    conf: IngestConfig,
    max_runs: int = 100,
    compact_every: int | None = None,
    compact_target_bytes: int | None = None,
) -> list[IngestResult]:
    """The scheduler loop: fire batches until no claimable work remains
    (cron trigger sudo_code.txt:107 + graceful exit sudo_code.txt:136-139).
    FAILED files would be re-claimed forever (unbounded retries,
    sudo_code.txt:132); max_runs bounds the harness.

    ``compact_every=N`` runs curated-lake compaction after every N batches
    and once more at drain end — the operational answer to the reference's
    small-file problem (960k files/day at its stated rate): micro-batch
    appends write one file per task per batch, and compaction folds each
    partition back to target-size files without changing query results
    (one staged publish: rows twice inside its window, never missing, and a
    crashed stage rolls forward on the next batch; plans/compact.py)."""
    target = compact_target_bytes or TARGET_FILE_BYTES
    results = []
    for _ in range(max_runs):
        res = ingest_batch(spark, conf)
        if res.claimed == 0:
            break
        results.append(res)
        if compact_every and len(results) % compact_every == 0:
            compact(spark, conf.curated_dir, target_file_bytes=target)
        # Files that failed this run stay FAILED; stop if ONLY failures remain
        # and nothing new can succeed (avoids infinite retry of poison files).
        if not res.succeeded_files and not res.quarantined_files:
            break
    if compact_every and results:
        # vacuum BEFORE the final compaction: replay rows from any crashed
        # attempts are dropped first, so compaction never rewrites dead data
        vacuum_replays(spark, conf.curated_dir)
        compact(spark, conf.curated_dir, target_file_bytes=target)
    return results


# --------------------------------------------------------------------------
# Curated-lake read (S8 + X3) and evolving append (U1)
# --------------------------------------------------------------------------
def deduplicate_replays(df: DataFrame) -> DataFrame:
    """Resolve crash-replay duplicates: if a source file's rows were appended
    by more than one run (crash between parquet append and ledger commit,
    then re-claim), keep only the latest run's rows per file. Run ids are
    timestamp-prefixed, so max = latest; the semi join keeps the plan
    shuffle-light (keys only)."""
    latest = df.groupBy("source_s3_path").agg(
        F.max("ingest_run_id").alias("ingest_run_id")
    )
    return df.join(latest, ["source_s3_path", "ingest_run_id"], "left_semi")


def read_curated(spark: SparkSession, curated_dir: str) -> DataFrame:
    """Schema-evolving read: union of all written schemas, NULL-backfilled,
    widened where a numeric column widened across batches
    (plans/schema_evolution.read_parquet_union)."""
    return read_parquet_union(spark, curated_dir)


def write_dlq_summary(spark: SparkSession, conf: IngestConfig) -> DataFrame:
    """DLQ audit: corrupt rows per run per source file (monitoring surface,
    sudo_code.txt:272 'Alarm if DLQ is being actively used'). An empty or
    absent DLQ — the healthy case — returns an empty frame. The run dirs
    are read recursively under the one column the audit needs, so neither
    case logs a JVM stack trace and no schema-inference pass runs."""
    empty = local_df(spark, [], "source_s3_path string, n_corrupt_rows long")
    if not _exists(spark, conf.dlq_dir):
        return empty  # no DLQ activity yet
    try:
        df = (
            spark.read.schema("source_s3_path string")
            .option("recursiveFileLookup", "true")
            .json(conf.dlq_dir)
        )
    except AnalysisException as exc:
        if publish.error_condition(exc) != "PATH_NOT_FOUND":
            raise
        return empty  # removed since the check
    return df.groupBy("source_s3_path").agg(F.count("*").alias("n_corrupt_rows"))
