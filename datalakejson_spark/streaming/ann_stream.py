"""Streaming embedding ingest into a persisted IVF ANN index: the
composition of the checkpointed file-source drain (streaming/
ingest_stream.py's T1-T3 shape) with the persisted inverted file
(functions/ivf.py) — the embedding-plane twin of streaming/dedup_stream.py.

The checkpoint deduplicates *files* (each landing file enters exactly one
micro-batch); the applied-batch markers under the index make each batch's
index append *exactly-once* across crash replays (a replayed foreachBatch
that re-appended its vectors would duplicate them in the cells, and every
later top-k would emit duplicate neighbor rows — unlike the dedup index,
where duplicate rows are harmless to semi-join probes, duplicates here are
user-visible wrong results, hence markers instead of tolerance).

Per micro-batch cost: one bounded assignment pass over the batch (argmin
against the frozen quantizer — map-side, no shuffle) + a staged parquet
publish of one file per touched cell. Maintenance is loop policy, exactly
like the dedup stream: when any cell accumulates more append runs than
``compact_max_runs_per_cell``, an inline :func:`compact_ivf_cells` folds
the over-run cells — cost O(dirty cells' rows), never O(corpus).
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401  (kept for parity/extension)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datalakejson_spark.functions.ivf import (
    build_ivf_index,
    compact_ivf_cells,
    ivf_index_append,
    ivf_needs_compaction,
)
from datalakejson_spark.session import configure_runtime

#: default inline-compaction trigger: fold a cell once it holds more than
#: this many append runs. Mirrors incremental_dedup.COMPACT_MAX_RUNS; each
#: micro-batch is one run per touched cell, so a 15-minute cadence crosses
#: this every ~2 hours and the fold touches only the over-run cells.
ANN_COMPACT_MAX_RUNS = 8

#: the stream-identity sidecar under the index root. Exactly-once markers
#: (bootstrap_batch, _applied/<bid>) are keyed by foreachBatch batch ids,
#: which are unique only PER CHECKPOINT LOCATION (ADVICE r13): pointing a
#: NEW checkpoint at an existing index recycles ids b0,b1,... and those
#: batches would be silently dropped — b0 forever via the bootstrap skip,
#: later ones until marker retention. Two defenses: batch ids are
#: NAMESPACED by the stream's identity (Spark's checkpoint metadata query
#: id), and the index records which stream owns it — a mismatched stream
#: FAILS LOUDLY instead of guessing (resetting a checkpoint is an operator
#: action; :func:`adopt_stream` is the explicit verb that re-homes the
#: index under the new checkpoint).
_STREAM_SIDECAR = "_STREAM.json"


def stream_identity(checkpoint_dir: str) -> str:
    """The stream's durable identity: the query id Spark records in
    ``{checkpoint}/metadata`` at query start (stable across restarts of the
    same checkpoint, fresh for a new checkpoint location — exactly the
    granularity the exactly-once markers need). Falls back to a hash of the
    checkpoint path when the metadata file is unreadable (which keeps
    restarts consistent but cannot distinguish a wiped-and-recreated
    checkpoint — the metadata file is the real fix and exists whenever
    Spark runs the query)."""
    import hashlib
    import json
    import os

    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            qid = str(json.load(fh)["id"])
        return qid.split("-")[0]
    except (OSError, ValueError, KeyError):
        return hashlib.sha1(
            os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:8]


#: the DELETE stream's own identity sidecar: the append plane and the
#: delete plane are different streams with different checkpoints, so each
#: owns its own sidecar — one index can be driven by one append stream AND
#: one delete stream concurrently, each exactly-once under its own markers.
_DELETE_STREAM_SIDECAR = "_STREAM_DELETES.json"


def adopt_stream(
    index_dir: str, stream_id: str, sidecar: str = _STREAM_SIDECAR
) -> None:
    """Explicitly re-home an index under a new stream/checkpoint identity —
    the operator verb for 'I reset the checkpoint on purpose'. After this,
    the new stream's batches append from its batch 0 (files already
    ingested by the OLD stream will re-ingest if they are still in the new
    stream's landing source — point the new checkpoint at new data). The
    sidecar holds only ``{"stream_id": ...}``; markers are namespaced by
    it, so no marker of the old stream can suppress a batch of the new
    one."""
    import os

    os.makedirs(index_dir, exist_ok=True)
    from datalakejson_spark.fsutil import atomic_write_json

    atomic_write_json(os.path.join(index_dir, sidecar), {"stream_id": stream_id})


def _guard_stream_identity(
    index_dir: str, stream_id: str, sidecar_name: str = _STREAM_SIDECAR
) -> None:
    """Raise loudly when a DIFFERENT stream (new checkpoint) drives an index
    another stream owns; adopt the index on first contact — and ONLY when
    the sidecar is genuinely absent (FileNotFoundError). Any other read
    failure (permissions, transient IO, corrupt JSON) raises instead of
    silently overwriting the owner: failing open would re-home the index
    exactly when its ownership state is unreadable (ADVICE r14)."""
    import json
    import os

    path = os.path.join(index_dir, sidecar_name)
    try:
        with open(path) as fh:
            owner = json.load(fh).get("stream_id")
    except FileNotFoundError:
        adopt_stream(index_dir, stream_id, sidecar=sidecar_name)
        return
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"stream sidecar {path} exists but is unreadable ({exc!r}) — "
            "refusing to re-adopt the index while its ownership state is "
            "unknown. Restore the sidecar or, if the reset is intentional, "
            f"call adopt_stream({index_dir!r}, {stream_id!r}, "
            f"sidecar={sidecar_name!r})."
        ) from exc
    if owner != stream_id:
        raise ValueError(
            f"index {index_dir} is owned by stream {owner!r} (sidecar "
            f"{sidecar_name}) but this query's checkpoint identifies as "
            f"{stream_id!r} — a NEW checkpoint pointed at an existing index "
            "would replay batch ids and corrupt the exactly-once markers. "
            "If the checkpoint reset is intentional, call "
            f"adopt_stream(index_dir, {stream_id!r}, "
            f"sidecar={sidecar_name!r}) first (new batches will apply from "
            "this stream's batch 0)."
        )


def streaming_ann_ingest(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
    n_cells: int | None = None,
    seed: int = 42,
    compact_max_runs_per_cell: int | None = ANN_COMPACT_MAX_RUNS,
    retrain_check_every: int | None = None,
    retrain_drift_tolerance: float | None = None,
    tick_every: int | None = None,
    tick_kwargs: dict | None = None,
):
    """Drain landing JSON-lines embeddings once (AvailableNow); the FIRST
    micro-batch bootstraps the index (trains the quantizer on that batch —
    classic IVF cold start; the drift trigger ivf_needs_retrain tells you
    when the bootstrap quantizer has aged out), every later batch is
    assigned against the frozen quantizer and appended exactly-once.

    Crash-safety ledger (all windows pinned in tests/test_ann_stream.py):

    - bootstrap batch replay: the bootstrap batch id is recorded in the
      SAME atomic ``_IVF.json`` write as the index identity
      (``bootstrap_batch``), so a replayed bootstrap batch is recognized
      and skipped — it can never fall into the append path and duplicate
      every bootstrap vector (later batches cannot have run yet; the
      source commits batches in order).
    - append crash before ``_COMMITTED``: the half-written stage is swept;
      the replay re-stages the same rows (same deterministic
      ``batch-<id>`` token).
    - append crash after ``_COMMITTED`` but before publish: the replay's
      entry publish rolls the stage forward, finds the applied marker,
      and skips — no duplicate vectors.
    - crash inside an inline compaction: the compaction stage either
      never committed (old layout wins) or rolls forward on the next
      entry; the batch's own append already published before the
      compaction started, so the replay skips it via the marker and only
      the maintenance work repeats.

    ``tick_every=N`` (round 15, VERDICT r14 #2) runs
    :func:`~datalakejson_spark.functions.ivf.ivf_maintenance_tick` as the
    between-batch policy every N batches: roll-forward, measured-trigger
    vacuum, tiered fold, and capped splits fire IN-STREAM from their own
    triggers (each staged and idempotent — a crash inside the tick replays
    with the batch's append skipped via its marker and only the
    maintenance work repeating). The drift check stays opt-in-cadenced:
    on a tick batch that is also a ``retrain_check_every`` batch the tick
    runs with ``drift_check=True`` (measured recall + localized delta
    retrain on its trigger, full rebuilds only ever RECOMMENDED);
    ``tick_kwargs`` passes the tick's trigger knobs through. Tick reports
    append to ``{index}/_TICKS.jsonl``.

    Returns the StreamingQuery; call ``.awaitTermination()``.
    """
    configure_runtime(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(landing_dir)

    sid: list[str] = []  # resolved lazily: metadata exists once the query runs

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not sid:
            sid.append(stream_identity(checkpoint_dir))
        process_ann_batch(
            batch_df.sparkSession,
            batch_df,
            batch_id,
            index_dir,
            n_cells=n_cells,
            seed=seed,
            compact_max_runs_per_cell=compact_max_runs_per_cell,
            retrain_check_every=retrain_check_every,
            retrain_drift_tolerance=retrain_drift_tolerance,
            tick_every=tick_every,
            tick_kwargs=tick_kwargs,
            stream_id=sid[0],
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def process_ann_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    n_cells: int | None = None,
    seed: int = 42,
    compact_max_runs_per_cell: int | None = ANN_COMPACT_MAX_RUNS,
    retrain_check_every: int | None = None,
    retrain_drift_tolerance: float | None = None,
    tick_every: int | None = None,
    tick_kwargs: dict | None = None,
    stream_id: str | None = None,
) -> None:
    """One micro-batch of the ANN ingest loop (module-level so the replay
    semantics are directly testable): bootstrap-or-append, exactly-once
    across replays, inline compaction policy. ``stream_id`` namespaces the
    exactly-once markers per checkpoint identity and guards the index
    against a foreign stream (ADVICE r13 — see ``_STREAM_SIDECAR``)."""
    import os

    from datalakejson_spark.functions.ivf import _IVF_META, load_ivf_meta

    batch = batch_df.select("vec_id", "embedding")
    if stream_id is not None:
        _guard_stream_identity(index_dir, stream_id)
        bid = f"{stream_id}-b{batch_id}"
    else:
        bid = f"b{batch_id}"
    if not os.path.exists(os.path.join(index_dir, _IVF_META)):
        # bootstrap_batch rides the SAME atomic meta write as the index
        # identity: a replay of the bootstrap batch (crash before the
        # checkpoint commit) is recognized below and skipped, instead of
        # falling into the append path and duplicating every bootstrap
        # vector in the cells (review catch, round 13 — a marker written
        # after the build would leave a crash window between the writes).
        build_ivf_index(
            batch,
            index_dir,
            n_cells=n_cells,
            seed=seed,
            extra_meta={"bootstrap_batch": bid},
        )
        return
    if load_ivf_meta(index_dir).get("bootstrap_batch") == bid:
        return  # replayed bootstrap batch: already the index itself
    ivf_index_append(spark, batch, index_dir, batch_id=bid)
    if compact_max_runs_per_cell is not None and ivf_needs_compaction(
        index_dir, compact_max_runs_per_cell
    ):
        compact_ivf_cells(
            spark,
            index_dir,
            max_runs_per_cell=max(1, compact_max_runs_per_cell // 2),
        )
    on_drift_cadence = bool(
        retrain_check_every and batch_id % retrain_check_every == 0
    )
    ticked_drift = False
    if tick_every and batch_id > 0 and batch_id % tick_every == 0:
        # the batch's append is already published and marker-recorded, so
        # a crash anywhere inside the tick replays exactly-once: the
        # append skips via its marker and only the (staged, idempotent)
        # maintenance verbs repeat
        from datalakejson_spark.functions.ivf import ivf_maintenance_tick

        kw = dict(tick_kwargs or {})
        if retrain_drift_tolerance is not None:
            kw.setdefault("drift_tolerance", retrain_drift_tolerance)
        rep = ivf_maintenance_tick(
            spark, index_dir, drift_check=on_drift_cadence, **kw
        )
        _append_tick_log(index_dir, bid, rep)
        ticked_drift = on_drift_cadence
    if on_drift_cadence and not ticked_drift:
        monitor_ivf_drift(
            spark, index_dir, bid, drift_tolerance=retrain_drift_tolerance
        )


#: advisory histories (_TICKS/_RECALL/_RETUNE.jsonl) rotate past this many
#: bytes: keep the newest half, drop the oldest (round 15 — a long-running
#: stream must not grow an unbounded log under the index; the same
#: unbounded-small-thing disease as the r13 applied-marker sweep, on the
#: byte axis). Rotation is advisory like the writes themselves: two racing
#: writers can lose lines, never corrupt results.
ADVISORY_LOG_MAX_BYTES = 4 << 20


def _append_advisory(index_dir: str, name: str, rec: dict) -> None:
    """Append one JSON line to an advisory history, rotating it down to
    the newest half once it crosses ADVISORY_LOG_MAX_BYTES. A write
    failure never fails the batch."""
    import json
    import os

    path = os.path.join(index_dir, name)
    try:
        with open(path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        if os.path.getsize(path) > ADVISORY_LOG_MAX_BYTES:
            with open(path) as fh:
                lines = fh.readlines()
            from datalakejson_spark.fsutil import atomic_write_text

            atomic_write_text(path, "".join(lines[len(lines) // 2:]))
    except (OSError, TypeError, ValueError):  # advisory observability
        pass


def _append_tick_log(index_dir: str, bid: str, report: dict) -> None:
    """Advisory observability for in-stream maintenance ticks: one JSON
    line per tick under ``{index}/_TICKS.jsonl`` (what ran, what it
    measured, what it recommends) — the same contract as _RECALL.jsonl /
    _RETUNE.jsonl."""
    import time

    _append_advisory(
        index_dir, "_TICKS.jsonl", {"ts": time.time(), "batch": bid, **report}
    )


def monitor_ivf_drift(
    spark: SparkSession,
    index_dir: str,
    bid: str,
    drift_tolerance: float | None = None,
) -> dict:
    """The in-stream drift MONITOR: measure recall on the current corpus
    (ivf_needs_retrain), append the reading to ``{index}/_RECALL.jsonl``
    (the measured history an operator or an offline scheduler acts on),
    and WARN when the trigger fires. Deliberately never rebuilds in-stream:
    a retrain is a corpus-scale admin verb, and auto-running it inside
    foreachBatch would stall the drain exactly when data is arriving
    fastest. The probe is an exact Arrow/BLAS pass over the index, so the
    caller gates it on a cadence (``retrain_check_every``), not every
    batch."""
    import logging
    import time

    from datalakejson_spark.functions.ivf import (
        RETRAIN_DRIFT_TOLERANCE,
        ivf_needs_retrain,
    )

    needs, recall = ivf_needs_retrain(
        spark,
        index_dir,
        drift_tolerance=(
            RETRAIN_DRIFT_TOLERANCE
            if drift_tolerance is None
            else drift_tolerance
        ),
    )
    rec = {"ts": time.time(), "batch": bid, "recall": recall,
           "needs_retrain": bool(needs)}
    _append_advisory(index_dir, "_RECALL.jsonl", rec)
    if needs:
        logging.getLogger(__name__).warning(
            "IVF index %s: measured recall %.3f fell past the retrain "
            "trigger at batch %s — schedule build_ivf_index over the "
            "current corpus (offline admin verb)",
            index_dir, recall, bid,
        )
    return rec


def streaming_lsh_ingest(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
    n_planes: int | None = None,
    n_tables: int | None = None,
    compact_max_runs_per_bucket: int | None = ANN_COMPACT_MAX_RUNS,
    retune_check_every: int | None = None,
    retune_target_bucket_rows: int = 2000,
    tick_every: int | None = None,
    tick_kwargs: dict | None = None,
):
    """The LSH twin of :func:`streaming_ann_ingest`: drain landing
    JSON-lines embeddings into a persisted bucket-partitioned LSH index
    (functions/lsh_index.py). Same bootstrap-on-first-batch, the same
    exactly-once crash ledger (the two indexes share the staged-publish
    machinery), the same inline tiered compaction policy over tb
    partitions, and — with ``retune_check_every`` set — the same in-stream
    drift MONITOR shape as the IVF plane, on the quantity that actually
    degrades for LSH: candidate volume (:func:`monitor_lsh_retune`).
    ``tick_every=N`` runs
    :func:`~datalakejson_spark.functions.lsh_index.lsh_maintenance_tick`
    as the between-batch policy every N batches (roll-forward +
    measured-trigger vacuum + tiered fold; the retune reading stays the
    monitor's job — the tick runs with ``retune_check=False`` in-stream so
    the _RETUNE.jsonl history has exactly one writer). Returns the
    StreamingQuery."""
    configure_runtime(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(landing_dir)

    sid: list[str] = []  # resolved lazily: metadata exists once the query runs

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not sid:
            sid.append(stream_identity(checkpoint_dir))
        process_lsh_batch(
            batch_df.sparkSession,
            batch_df,
            batch_id,
            index_dir,
            n_planes=n_planes,
            n_tables=n_tables,
            compact_max_runs_per_bucket=compact_max_runs_per_bucket,
            retune_check_every=retune_check_every,
            retune_target_bucket_rows=retune_target_bucket_rows,
            tick_every=tick_every,
            tick_kwargs=tick_kwargs,
            stream_id=sid[0],
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def process_lsh_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    n_planes: int | None = None,
    n_tables: int | None = None,
    compact_max_runs_per_bucket: int | None = ANN_COMPACT_MAX_RUNS,
    retune_check_every: int | None = None,
    retune_target_bucket_rows: int = 2000,
    tick_every: int | None = None,
    tick_kwargs: dict | None = None,
    stream_id: str | None = None,
) -> None:
    """One micro-batch of the LSH ingest loop (module-level so the replay
    semantics are directly testable) — bootstrap-or-append with the same
    bootstrap_batch/applied-marker exactly-once contract and stream-identity
    guard as :func:`process_ann_batch`."""
    import os

    from datalakejson_spark.functions.lsh_index import (
        _LSH_META,
        build_lsh_index,
        compact_lsh_buckets,
        load_lsh_meta,
        lsh_index_append,
        lsh_needs_compaction,
    )

    batch = batch_df.select("vec_id", "embedding")
    if stream_id is not None:
        _guard_stream_identity(index_dir, stream_id)
        bid = f"{stream_id}-b{batch_id}"
    else:
        bid = f"b{batch_id}"
    if not os.path.exists(os.path.join(index_dir, _LSH_META)):
        kwargs = {} if n_planes is None else {"n_planes": n_planes}
        if n_tables is not None:
            kwargs["n_tables"] = n_tables
        build_lsh_index(
            batch, index_dir, extra_meta={"bootstrap_batch": bid}, **kwargs
        )
        return
    if load_lsh_meta(index_dir).get("bootstrap_batch") == bid:
        return  # replayed bootstrap batch: already the index itself
    lsh_index_append(spark, batch, index_dir, batch_id=bid)
    if compact_max_runs_per_bucket is not None and lsh_needs_compaction(
        index_dir, compact_max_runs_per_bucket
    ):
        compact_lsh_buckets(
            spark,
            index_dir,
            max_runs_per_bucket=max(1, compact_max_runs_per_bucket // 2),
        )
    if tick_every and batch_id > 0 and batch_id % tick_every == 0:
        from datalakejson_spark.functions.lsh_index import lsh_maintenance_tick

        # retune_check=False: the cadenced monitor below owns the
        # _RETUNE.jsonl history (one writer)
        rep = lsh_maintenance_tick(
            spark, index_dir, retune_check=False, **(tick_kwargs or {})
        )
        _append_tick_log(index_dir, bid, rep)
    if retune_check_every and batch_id % retune_check_every == 0:
        monitor_lsh_retune(
            index_dir, bid, target_bucket_rows=retune_target_bucket_rows
        )


def monitor_lsh_retune(
    index_dir: str,
    bid: str,
    target_bucket_rows: int = 2000,
    factor: float = 4.0,
) -> dict:
    """The in-stream LSH drift MONITOR, mirroring :func:`monitor_ivf_drift`
    on the quantity that actually degrades for LSH: candidate VOLUME
    (recall at fixed planes is decade-stable; a corpus outgrowing its
    planes pays linearly growing probes while returning the same answers —
    lsh_needs_retune, functions/lsh_index.py). Measures the live bucket
    stats (parquet FOOTERS only — no Spark job, cheap enough for every
    batch), appends the reading to ``{index}/_RETUNE.jsonl``, and WARNS
    with the autotune-recommended planes when the invariant breaks.
    Deliberately never rebuilds in-stream — a re-plane rebuild is a
    corpus-scale admin verb (build_lsh_index with n_planes=None over the
    current corpus)."""
    import json
    import logging
    import os
    import time

    from datalakejson_spark.functions.lsh_index import lsh_needs_retune

    needs, stats = lsh_needs_retune(
        index_dir, target_bucket_rows=target_bucket_rows, factor=factor
    )
    rec = {
        "ts": time.time(),
        "batch": bid,
        "mean_rows": stats["mean_rows"],
        "planes": stats["planes"],
        "recommended_planes": stats["recommended_planes"],
        "target_bucket_rows": target_bucket_rows,
        "needs_retune": bool(needs),
    }
    _append_advisory(index_dir, "_RETUNE.jsonl", rec)
    if needs:
        logging.getLogger(__name__).warning(
            "LSH index %s: measured mean bucket rows %.0f exceeded %dx the "
            "%d-row autotune target at batch %s — schedule build_lsh_index "
            "over the current corpus with n_planes=%d (offline admin verb)",
            index_dir,
            stats["mean_rows"],
            int(factor),
            target_bucket_rows,
            bid,
            stats["recommended_planes"],
        )
    return rec


# ---------------------------------------------------------------------------
# Persisted-ANN delete stream (round 15, VERDICT r14 #3)
# ---------------------------------------------------------------------------
def streaming_index_deletes(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    vacuum: str | None = None,
    vacuum_every: int = 1,
):
    """Drain a landing TOMBSTONE feed (JSON-lines ``{"vec_id": N}``) into
    logical deletes against a persisted ANN index — the delete-plane twin
    of :func:`streaming_ann_ingest`, completing the lifecycle symmetry
    (appends streamed since round 13; deletes were batch-only verbs).

    Contract per micro-batch:

    - **logical-immediate**: the batch's ids land as ONE deterministic
      tombstone file named by the batch id — every probe that starts after
      the write anti-filters them, before any vacuum;
    - **exactly-once**: markers ride the same stream-identity namespace
      machinery as the append plane, under the delete plane's OWN sidecar
      (``_STREAM_DELETES.json``) so one index can be driven by one append
      stream and one delete stream concurrently. A replayed delete batch
      is a strict no-op (marker hit); a crash-window replay before the
      marker re-writes the SAME tombstone file (atomic replace), never a
      duplicate;
    - **bounded**: the tombstone set is probe-side bounded by the vacuum
      trigger (65,536 absolute + 1% relative) — with ``vacuum="ivf"`` or
      ``"lsh"`` the measured trigger is checked every ``vacuum_every``
      batches and the plane's staged vacuum verb runs IN-STREAM when it
      fires, so a hot delete feed can never grow the tombstone set past
      what a broadcast anti-join carries.

    Returns the StreamingQuery; call ``.awaitTermination()``.
    """
    configure_runtime(spark)
    if schema is None:
        schema = T.StructType([T.StructField("vec_id", T.LongType())])
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(landing_dir)

    sid: list[str] = []  # resolved lazily: metadata exists once the query runs

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not sid:
            sid.append(stream_identity(checkpoint_dir))
        process_delete_batch(
            batch_df.sparkSession,
            batch_df,
            batch_id,
            index_dir,
            stream_id=sid[0],
            vacuum=vacuum,
            vacuum_every=vacuum_every,
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def process_delete_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    stream_id: str | None = None,
    vacuum: str | None = None,
    vacuum_every: int = 1,
) -> int:
    """One micro-batch of the delete stream (module-level so the replay
    semantics are directly testable). Returns the number of ids tombstoned
    this call (0 for a marker-recognized replay)."""
    from datalakejson_spark.functions.index_maintenance import (
        add_tombstones,
        batch_applied,
        compact_tombstones,
        mark_batch_applied,
        needs_vacuum,
    )

    if vacuum not in (None, "ivf", "lsh"):
        raise ValueError(f"vacuum must be None, 'ivf' or 'lsh': {vacuum!r}")
    if stream_id is not None:
        _guard_stream_identity(
            index_dir, stream_id, sidecar_name=_DELETE_STREAM_SIDECAR
        )
        bid = f"del-{stream_id}-b{batch_id}"
    else:
        bid = f"del-b{batch_id}"
    if batch_applied(index_dir, bid):
        return 0
    # the collect is bounded by the delete-batch size, which the vacuum
    # trigger bounds in turn (a feed hotter than the 65,536-id cap must
    # vacuum in-stream, not batch bigger) — same driver-side posture as
    # the batch delete verb, which takes a Python iterable
    ids = [int(r[0]) for r in batch_df.select("vec_id").distinct().collect()]
    n = 0
    if ids:
        # deterministic name: a crash-window replay (tombstones written,
        # marker not yet) atomically re-writes the same file
        n = add_tombstones(index_dir, ids, name=f"{bid}.json")
    mark_batch_applied(index_dir, bid)
    # probe-side file bound: a hot small-batch feed folds its tombstone
    # files once they outnumber TOMBSTONE_FOLD_MAX_FILES (the vacuum
    # trigger bounds ids, not files — round-15 self-review). After the
    # marker: a fold never re-runs on replay, and folding this batch's
    # deterministic file away is safe (the replay is marker-skipped).
    compact_tombstones(index_dir)
    if vacuum and vacuum_every and batch_id % vacuum_every == 0:
        if needs_vacuum(index_dir)[0]:
            if vacuum == "ivf":
                from datalakejson_spark.functions.ivf import vacuum_ivf_deletes

                rep = vacuum_ivf_deletes(spark, index_dir)
            else:
                from datalakejson_spark.functions.lsh_index import (
                    vacuum_lsh_deletes,
                )

                rep = vacuum_lsh_deletes(spark, index_dir)
            _append_tick_log(index_dir, bid, {"actions": [
                {"verb": "vacuum", **rep}
            ]})
    return n
