"""Shared maintenance plane for persisted, partition-keyed vector indexes
(SURVEY.md §2.12 L3 scale path): the exactly-once-append / tiered-compaction
/ tombstone machinery that BOTH persisted ANN indexes ride —

- the IVF index (functions/ivf.py): parquet partitioned by ``cell=N`` with a
  ``_IVF.json`` quantizer meta, and
- the LSH index (functions/lsh_index.py): parquet partitioned by ``tb=N``
  with a ``_LSH.json`` family meta.

Every write goes through the shared staged-publish protocol in
datalakejson_spark/publish.py (stage → manifest-verified ``_COMMITTED`` →
idempotent moves → subsumed deletes, with the snapshot loser check). This
module supplies the ANN indexes' store steps (:class:`VectorStore`):

- publishes of different stages serialize on the PUBLISH slot;
- quantizer-changing stages (``_SPLIT.json`` cell splits, ``_RETRAIN.json``
  delta retrains — IVF only) fence on their slot / generation before any
  move and flip the index meta BETWEEN the moves and the subsumed deletes,
  the ordering that keeps every crash window probe-exact under the probes'
  candidate-pair dedup;
- streaming appends carry a ``_BATCH.json``; publish records an
  applied-batch marker after all moves+deletes complete, making replays
  exactly-once.

Killpoint names keep their historical ``ivf:`` prefix — they are a stable
test surface (tests/test_ivf_maintenance.py, test_ann_stream.py) and fire
identically for both indexes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid as _uuid

from pyspark.sql import SparkSession

from datalakejson_spark import publish
from datalakejson_spark.functions.incremental_dedup import derive_runs
from datalakejson_spark.fsutil import atomic_write_json
from datalakejson_spark.plans.killpoints import fire
from datalakejson_spark.publish import STAGING, claim_slot, is_missing_file_error

APPLIED = "_applied"

#: applied-batch markers older than this are swept when a new one is
#: written. A marker only matters until its batch's streaming checkpoint
#: commits (seconds-to-minutes after publish) — after that the batch can
#: never replay — so hours of retention is already paranoid; without a
#: sweep a 15-minute cadence accretes ~35k marker files per year per index
#: (review catch, round 13: the same unbounded-small-file disease the
#: compactors exist to cure).
APPLIED_RETENTION_S = 24 * 3600.0

#: the advisory vector-count sidecar. The count lives OUTSIDE the index
#: meta (ADVICE r13): the append path's counter refresh was a read-modify-
#: write of the whole quantizer meta, and a concurrent split publish's
#: centroid flip landing between the load and the write-back would be
#: REVERTED — orphaning the new cell's rows forever. With the counter in
#: its own file, appends never write quantizer meta at all; the worst a
#: counter race can lose is an advisory increment.
COUNT_SIDECAR = "_COUNT.json"


# ---------------------------------------------------------------------------
# Index meta + advisory count sidecar
# ---------------------------------------------------------------------------
def write_index_meta(index_dir: str, meta: dict, meta_name: str) -> None:
    """Atomic replace of the index meta. ``n_vectors`` is STRIPPED before
    writing — the advisory count lives in the sidecar (``COUNT_SIDECAR``)
    and is injected by :func:`load_index_meta`; persisting a loaded meta
    would otherwise bake the merged count in and double it on reload."""
    os.makedirs(index_dir, exist_ok=True)
    meta = {k: v for k, v in meta.items() if k != "n_vectors"}
    atomic_write_json(os.path.join(index_dir, meta_name), meta)


def load_index_meta(index_dir: str, meta_name: str, build_hint: str) -> dict:
    """Load the index meta, injecting the advisory ``n_vectors`` from the
    count sidecar (read-only view — see :func:`write_index_meta`)."""
    path = os.path.join(index_dir, meta_name)
    try:
        with open(path) as fh:
            meta = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no index at {index_dir} ({meta_name} missing) — build one "
            f"with {build_hint}"
        ) from None
    meta["n_vectors"] = read_index_count(index_dir)
    return meta


def write_index_count(index_dir: str, n: int) -> None:
    """(Re)set the advisory count — the build path, before the meta write
    (a crash between the two leaves a stale count next to the OLD meta:
    advisory-wrong, never results-wrong)."""
    os.makedirs(index_dir, exist_ok=True)
    atomic_write_json(os.path.join(index_dir, COUNT_SIDECAR), {"n": int(n)})


def read_index_count(index_dir: str) -> int:
    try:
        with open(os.path.join(index_dir, COUNT_SIDECAR)) as fh:
            return int(json.load(fh)["n"])
    except (OSError, ValueError, KeyError):
        return 0


def bump_index_count(index_dir: str, delta: int) -> None:
    """Advisory read-modify-write of the count sidecar ONLY. Two racing
    appends can lose one increment — acceptable for an observability
    counter; what matters is that this path can never clobber the quantizer
    meta (ADVICE r13). Every build writes the sidecar before its meta, so
    the count it bumps starts at the build's row count."""
    write_index_count(index_dir, read_index_count(index_dir) + delta)


# ---------------------------------------------------------------------------
# Live layout listing
# ---------------------------------------------------------------------------
def live_partition_files(index_dir: str, subdir: str) -> dict[str, list[str]]:
    """``{"<col>=N": [parquet file names]}`` for every live partition of a
    partition-keyed index (``cell=`` for IVF, ``tb=`` for LSH) —
    driver-side listing only, no Spark job."""
    root = os.path.join(index_dir, subdir)
    out: dict[str, list[str]] = {}
    if not os.path.isdir(root):
        return out
    for part in sorted(os.listdir(root)):
        if "=" not in part:
            continue
        pdir = os.path.join(root, part)
        if os.path.isdir(pdir):
            out[part] = sorted(
                n for n in os.listdir(pdir) if n.endswith(".parquet")
            )
    return out


def settle_committed_replay(
    index_dir: str,
    stage: str,
    subdir: str,
    meta_name: str,
    attempts: int = 100,
    sleep_s: float = 0.1,
) -> bool:
    """A replayed batch found its own deterministic stage dir already on
    disk. UNCOMMITTED: a half-written previous attempt — clear it and
    return False (the caller re-stages clean). COMMITTED: it is
    roll-forward work that may be MID-PUBLISH in another process right
    now (visible as "pending" under the PUBLISH slot serialization,
    round 15) — it must never be rmtree'd: a racing publisher mid-move
    plus a fresh re-stage would duplicate the already-moved subset.
    Drive the publish to a terminal outcome instead and return True (the
    batch is applied; additive stages cannot lose)."""
    if not os.path.isdir(stage):
        return False
    if not publish.is_committed(stage):
        shutil.rmtree(stage, ignore_errors=True)
        return False
    token = os.path.basename(stage)
    out = publish.await_publish(
        VectorStore(index_dir, subdir, meta_name), token, attempts, sleep_s
    )
    if out == "corrupt":
        raise RuntimeError(
            f"replayed batch stage {token} in {index_dir} was committed "
            "but its manifest names staged files that no longer exist — "
            "a raced sweep destroyed data the sweep fences should have "
            "protected; refusing to publish or re-stage a partial batch"
        )
    if out == "pending":
        raise RuntimeError(
            f"replayed batch stage {token} in {index_dir} stayed pending past "
            f"{attempts} publish passes — a wedged publisher holds the slot; "
            "retry when it clears"
        )
    return True


# ---------------------------------------------------------------------------
# Copier stage visibility (round 15 — the cross-process soak's catch)
# ---------------------------------------------------------------------------
#: marker file a COPIER stage (fold / split / retrain-move / vacuum — any
#: verb whose staged output is copies of rows already in the live layout)
#: writes into its stage dir AT CREATION, before pinning its source file
#: list. Tombstone retirement refuses to run while a foreign copier stage
#: exists: a copier that pinned files before a vacuum's rewrite can hold
#: copies of tombstoned rows and publish them after — retiring the
#: tombstones in that window RESURRECTS the rows (caught live by
#: tools/multiproc_ann_race.py: a split's halves re-surfaced 82
#: vacuumed ids). mkdir-before-pin makes the happens-before airtight: a
#: copier invisible to the retire check must have pinned after the
#: vacuum's publish, so its copies are clean.
COPIER_MARKER = "_COPIER"


def begin_copier_stage(index_dir: str) -> str:
    """Create (and mark) a copier stage dir — MUST be called before the
    copier pins its source file list (see COPIER_MARKER)."""
    stage = os.path.join(index_dir, STAGING, _uuid.uuid4().hex)
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, COPIER_MARKER), "w") as fh:
        fh.write("ok")
    return stage


def _foreign_copier_stage_present(index_dir: str, own: str | None) -> bool:
    """Any copier stage dir other than ``own`` (marked, or committed with a
    ``_SUBSUMED`` manifest — pre-marker verbs) currently in staging?"""
    staging = os.path.join(index_dir, STAGING)
    if not os.path.isdir(staging):
        return False
    own_token = os.path.basename(own) if own else None
    for token in os.listdir(staging):
        if token == own_token or token.startswith("_SLOT_"):
            continue
        stage = os.path.join(staging, token)
        if not os.path.isdir(stage):
            continue
        if os.path.exists(os.path.join(stage, COPIER_MARKER)) or os.path.exists(
            os.path.join(stage, "_SUBSUMED.json")
        ):
            return True
    return False


def _retire_tombstones_verified(
    spark: SparkSession,
    index_dir: str,
    subdir: str,
    ids,
    names: list[str],
) -> int:
    """Retire tombstone files ONLY after verifying no physical copy of any
    covered id remains anywhere in the CURRENT live layout, and no foreign
    copier stage is in flight that could still publish one. Returns the
    number of files cleared (0 = kept; the ids stay probe-filtered and the
    next vacuum retries — self-healing under any racing publish).

    Order is load-bearing: verify-scan first, staging check second, clear
    third. A copier that pinned stale rows either published before the
    verify scan (scan sees its copies → kept), or its stage dir existed at
    the staging check (mkdir-before-pin → kept), or it pinned after the
    check — which is after this vacuum's publish, so it read the rewritten
    layout and carries no tombstoned rows."""
    import pyspark.sql.functions as F

    from datalakejson_spark.session import local_df

    if ids:
        live = live_partition_files(index_dir, subdir)
        root = os.path.join(index_dir, subdir)
        paths = [
            os.path.join(root, part, f)
            for part, files in live.items()
            for f in files
        ]
        if paths:
            ids_df = local_df(
                spark, [(int(i),) for i in sorted(ids)], "vec_id bigint"
            )
            try:
                remaining = (
                    spark.read.option("basePath", root)
                    .parquet(*paths)
                    .select("vec_id")
                    .join(F.broadcast(ids_df), "vec_id", "leftsemi")
                    .count()
                )
            except Exception as exc:  # noqa: BLE001 — narrowed to the race
                if not is_missing_file_error(exc):
                    raise
                return 0  # racing publish mid-verify: kept, retry next run
            if remaining:
                return 0  # raced-in stale copies: kept, next vacuum removes
    if _foreign_copier_stage_present(index_dir, own=None):
        return 0  # an in-flight copier may still publish pinned stale rows
    clear_tombstone_files(index_dir, names)
    return len(names)


# ---------------------------------------------------------------------------
# Staged publish
# ---------------------------------------------------------------------------
class VectorStore(publish.Store):
    """A partition-keyed ANN index (``<subdir>/<col>=N/*.parquet``) on the
    shared staged publish — see the module docstring for its steps."""

    serialize = True

    def __init__(self, index_dir: str, subdir: str, meta_name: str) -> None:
        super().__init__(index_dir, subdir)
        self.meta_name = meta_name

    @staticmethod
    def _quantizer(stage: str) -> tuple[dict | None, dict | None]:
        """(split meta, retrain meta) of a quantizer-changing stage."""
        out = []
        for name in ("_SPLIT.json", "_RETRAIN.json"):
            try:
                with open(os.path.join(stage, name)) as fh:
                    out.append(json.load(fh))
            except FileNotFoundError:
                out.append(None)
        return out[0], out[1]

    def fenced(self, stage: str) -> bool:
        split_meta, retrain_meta = self._quantizer(stage)
        if split_meta is None and retrain_meta is None:
            return False
        meta = load_index_meta(self.root, self.meta_name, "the builder")
        # a SPLIT stage claims its new-centroid SLOT: if another split
        # already took it, publishing this stage's files would merge two
        # different cells' vectors into one partition. The claim is an
        # ATOMIC os.mkdir; the winner releases it after its meta flip makes
        # the slot permanent.
        if split_meta is not None:
            cents = meta["centroids"]
            slot = int(split_meta["new_cell"])
            applied = len(cents) > slot and cents[slot] == split_meta["centroids"][1]
            if not applied and (
                len(cents) != slot
                or not claim_slot(self.root, slot, os.path.basename(stage))
            ):
                return True
        # a RETRAIN stage fences on the quantizer GENERATION it was planned
        # against: any flip since makes its re-assignment stale. A replay of
        # an already-flipped retrain (its token is in the meta) rolls
        # forward. Re-validated under the flip mutex — here it only
        # discards obvious losers before any move is wasted.
        if retrain_meta is not None:
            if meta.get("retrain_token") != retrain_meta["token"] and meta.get(
                "gen", 0
            ) != retrain_meta["base_gen"]:
                return True
        return False

    def publishing(self, stage: str) -> None:
        fire("ivf:publish_publishing")
        # quantizer stages record the files they are about to move BEFORE
        # any move (write-once): if the flip is later fenced out, the
        # moved-in copies are removed by exactly this manifest
        src_root = os.path.join(stage, self.data)
        if any(m is not None for m in self._quantizer(stage)) and os.path.isdir(
            src_root
        ):
            _record_planned_moves(stage, src_root)

    def flip(self, stage: str) -> str | None:
        # BETWEEN the moves and the deletes: after the moves the source
        # partitions hold both the originals and the re-homed copies, EXACT
        # under the probes' pair dedup with either meta, so no meta ever
        # probes a partition whose rows already moved away
        split_meta, retrain_meta = self._quantizer(stage)
        if split_meta is None and retrain_meta is None:
            return None
        return _flip_quantizer_meta(
            self.root, stage, split_meta, retrain_meta, self.data, self.meta_name
        )

    def finish(self, stage: str, moved: list[str], subsumed: list[str]) -> None:
        fire("ivf:publish_moved")
        # applied-batch marker after every move+delete: a replayed streaming
        # batch checks it to skip re-staging, so "marker present" always
        # means "fully live"
        batch_meta = os.path.join(stage, "_BATCH.json")
        if os.path.exists(batch_meta):
            with open(batch_meta) as fh:
                bid = json.load(fh).get("batch_id")
            if bid is not None:
                mark_batch_applied(self.root, str(bid))


def publish_staged(index_dir: str, subdir: str, meta_name: str) -> dict[str, str]:
    """Roll staged deltas forward into the live partitions; returns
    ``{stage_token: outcome}`` (see datalakejson_spark/publish.py)."""
    return publish.publish_staged(VectorStore(index_dir, subdir, meta_name))


def _record_planned_moves(stage: str, src_root: str) -> None:
    """Write-once ``_MOVED.json``: the relative paths this stage's publish
    will move into the live layout, recorded BEFORE the first move (a crash
    mid-manifest-write leaves no moves behind, so recomputing from the
    intact stage listing on replay is always complete)."""
    manifest = os.path.join(stage, "_MOVED.json")
    if os.path.exists(manifest):
        try:
            with open(manifest) as fh:
                json.load(fh)
            return  # complete manifest from a previous pass
        except (ValueError, OSError):
            pass  # corrupt (crash mid-write, pre-moves): recompute
    atomic_write_json(manifest, publish.staged_files(src_root))


def _rollback_stage_moves(index_dir: str, stage: str, subdir: str) -> None:
    """Remove the additive moved-in copies of a fenced-out quantizer stage
    (``_MOVED.json`` names them; the part-file names embed the stage's own
    job UUID, so they can never collide with another stage's files). The
    subsumed originals were never deleted — removing the copies restores
    the pre-stage layout exactly; a probe that pinned a copy mid-removal
    sees the established retryable missing-file error."""
    try:
        with open(os.path.join(stage, "_MOVED.json")) as fh:
            planned = json.load(fh)
    except (OSError, ValueError):
        planned = []
    for rel in planned:
        try:
            os.remove(os.path.join(index_dir, subdir, rel))
        except FileNotFoundError:
            pass


#: the one flip mutex: every quantizer-meta flip (split or retrain, either
#: index) claims this slot name, so no flip can land between another
#: stage's under-mutex re-validation and its own write.
_FLIP_SLOT = "FLIP"


def _flip_quantizer_meta(
    index_dir: str,
    stage: str,
    split_meta: dict | None,
    retrain_meta: dict | None,
    subdir: str,
    meta_name: str,
) -> str | None:
    """Apply a quantizer stage's meta flip under the flip mutex. Returns
    None when the publish should continue to its deletes (flip applied or
    already applied), "pending" when a live competing flip holds the mutex
    (retry on a later publish pass — nothing deleted, nothing rolled
    back), or "lost" after rolling the stage's moved-in copies back (the
    precondition failed under the mutex: another flip won)."""
    token = os.path.basename(stage)
    if not claim_slot(index_dir, _FLIP_SLOT, token):
        return "pending"
    try:
        meta_now = load_index_meta(index_dir, meta_name, "the builder")
        if split_meta is not None:
            cents = meta_now["centroids"]
            new_cell = int(split_meta["new_cell"])
            already = len(cents) > new_cell and (
                cents[new_cell] == split_meta["centroids"][1]
            )
            if not already and len(cents) != new_cell:
                # fenced under the mutex: another split took the slot (or a
                # retrain regenerated the quantizer) after our loser check
                _rollback_stage_moves(index_dir, stage, subdir)
                shutil.rmtree(stage, ignore_errors=True)
                publish.release_slot(index_dir, new_cell, token)
                return "lost"
            if not already:
                cents[int(split_meta["cell"])] = split_meta["centroids"][0]
                cents.append(split_meta["centroids"][1])
                meta_now["centroids"] = cents
                meta_now["n_cells"] = len(cents)
                meta_now["gen"] = meta_now.get("gen", 0) + 1
                write_index_meta(index_dir, meta_now, meta_name)
            # the flip made the slot permanent in the meta — release the
            # fence claim (idempotent; claim dirs are per slot number, so
            # a later split's claim of the NEXT slot is never touched)
            publish.release_slot(index_dir, new_cell)
            fire("ivf:split_meta_flipped")
        if retrain_meta is not None:
            already = meta_now.get("retrain_token") == retrain_meta["token"]
            if not already and meta_now.get("gen", 0) != retrain_meta[
                "base_gen"
            ]:
                _rollback_stage_moves(index_dir, stage, subdir)
                shutil.rmtree(stage, ignore_errors=True)
                return "lost"
            if not already:
                meta_now["centroids"] = retrain_meta["centroids"]
                meta_now["n_cells"] = len(retrain_meta["centroids"])
                meta_now["gen"] = retrain_meta["base_gen"] + 1
                meta_now["retrain_token"] = retrain_meta["token"]
                write_index_meta(index_dir, meta_now, meta_name)
            fire("ivf:retrain_meta_flipped")
    finally:
        publish.release_slot(index_dir, _FLIP_SLOT, token)
    return None


# ---------------------------------------------------------------------------
# Applied-batch markers (exactly-once streaming appends)
# ---------------------------------------------------------------------------
def mark_batch_applied(index_dir: str, batch_id: str) -> None:
    """Record a published append batch (the replay-skip marker) and sweep
    markers past retention — the sweep keeps the _applied directory bounded
    by the retention window's batch count, never the index lifetime's."""
    applied = os.path.join(index_dir, APPLIED)
    os.makedirs(applied, exist_ok=True)
    with open(os.path.join(applied, batch_id), "w") as fh:
        fh.write("ok")
    cutoff = time.time() - APPLIED_RETENTION_S
    try:
        for entry in os.scandir(applied):
            try:
                if entry.is_file() and entry.stat().st_mtime < cutoff:
                    os.remove(entry.path)
            except OSError:  # raced with another runner's sweep
                pass
    except OSError:  # pragma: no cover - advisory
        pass


def batch_applied(index_dir: str, batch_id: str) -> bool:
    """True when a staged append carrying ``batch_id`` has fully published —
    the replay-skip check for streaming foreachBatch (roll committed stages
    forward via :func:`publish_staged` BEFORE consulting this)."""
    return os.path.exists(os.path.join(index_dir, APPLIED, str(batch_id)))


# ---------------------------------------------------------------------------
# Tiered compaction
# ---------------------------------------------------------------------------
def needs_compaction(index_dir: str, max_runs: int, subdir: str) -> bool:
    """Driver-side loop trigger: does any partition hold more WRITE
    GENERATIONS (job-UUID runs — each append is one run per touched
    partition, a compacted partition is one run regardless of rows) than
    ``max_runs``? Never raw file count — a legitimately large partition
    compacted into several target-sized files must not re-trigger (the
    dedup index's r11 trap). Cost: one directory scan per partition,
    short-circuiting on the first dirty one — in the steady append loop
    (uniform data touches every partition) the first one checked answers
    it (review catch, round 13: the eager listing form materialized every
    partition's listing before any() saw the first)."""
    root = os.path.join(index_dir, subdir)
    if not os.path.isdir(root):
        return False
    for entry in os.scandir(root):
        if "=" not in entry.name or not entry.is_dir():
            continue
        files = [n for n in os.listdir(entry.path) if n.endswith(".parquet")]
        if len(derive_runs(files)) > max_runs:
            return True
    return False


def compact_partitions(
    spark: SparkSession,
    index_dir: str,
    max_runs: int,
    subdir: str,
    part_col: str,
    meta_name: str,
) -> dict[str, tuple[int, int]]:
    """TIERED per-partition fold, the dedup index's LSM policy re-expressed
    for a partition-keyed layout: in every partition holding more write
    generations than ``max_runs``, the LARGEST ``max_runs - 1`` runs stay
    untouched (the per-partition base and merged middles) and only the
    small tail folds into one new run — so a trigger costs O(rows appended
    since the last fold), never O(partition), and each row is rewritten
    O(log(partition/batch)) times over its life as folded runs grow into
    the kept tier (a naive fold-everything policy would rewrite the whole
    corpus every trigger under uniform appends, since uniform data touches
    every partition). Run sizes are ranked by BYTES (one driver-side stat
    per file — a layout decision needs a size proxy, not a row count, and
    footer reads across partitions x runs files would be the expensive
    part). One Spark job covers ALL dirty partitions: the read is pinned to
    the snapshot listing with basePath-preserved partition values,
    ``repartition(part_col)`` lands each partition's fold wholly in one
    task, ``partitionBy(part_col)`` writes one new file per partition.
    Returns ``{"<col>=N": (files_before, files_after)}`` for the folded
    partitions.

    ``max_runs=1`` folds everything — full per-partition compaction, the
    offline admin posture.

    Crash/concurrency posture: rides the staged ``_COMMITTED`` /
    ``_SUBSUMED`` publish — every kill window leaves either the old layout
    (unmarked stage, swept) or roll-forward work (:func:`publish_staged`
    finishes the moves AND deletes before the next probe); a concurrent
    publish that deletes a snapshot file mid-scan makes this run a clean
    race LOSER ({} returned), and a racing publish that subsumed this
    stage's snapshot discards the stage itself."""
    publish_staged(index_dir, subdir, meta_name)  # complete any predecessor
    # copier marker BEFORE the pin (round 15): a vacuum retiring tombstones
    # must be able to see this fold's stage from the instant its source
    # listing could contain rows the vacuum is about to rewrite
    stage = begin_copier_stage(index_dir)
    tombstoned, _tnames = load_tombstones(index_dir)
    live = live_partition_files(index_dir, subdir)
    fire("ivf:copier_pinned")
    root = os.path.join(index_dir, subdir)
    dirty: dict[str, list[str]] = {}  # partition -> FOLD set (tail runs)
    before: dict[str, int] = {}
    for part, files in live.items():
        runs = derive_runs(files)
        if len(runs) <= max_runs:
            continue

        def run_bytes(run: list[str]) -> int:
            total = 0
            for f in run:
                try:
                    total += os.path.getsize(os.path.join(root, part, f))
                except OSError:  # vanished under us: settled at scan time
                    pass
            return total

        runs.sort(key=run_bytes)
        keep = max(0, max_runs - 1)
        fold = [f for run in (runs[:-keep] if keep else runs) for f in run]
        if fold:
            dirty[part] = sorted(fold)
            before[part] = len(files)
    if not dirty:
        shutil.rmtree(stage, ignore_errors=True)
        return {}
    paths = [
        os.path.join(root, part, f)
        for part, files in sorted(dirty.items())
        for f in files
    ]
    try:
        fold_df = spark.read.option("basePath", root).parquet(*paths)
        if tombstoned:
            # free physical cleanup: rows a fold rewrites anyway drop out
            # if they are logically deleted (their tombstones stay until a
            # vacuum verifies nothing holds them — the probe filter is a
            # no-op for already-folded-out ids)
            fold_df = drop_tombstoned(fold_df, index_dir)
        (
            fold_df.repartition(part_col)
            .write.partitionBy(part_col)
            .mode("overwrite")
            .parquet(os.path.join(stage, subdir))
        )
    except Exception as exc:  # noqa: BLE001 — narrowed to the race below
        if not is_missing_file_error(exc):
            raise
        shutil.rmtree(stage, ignore_errors=True)
        return {}
    fire("ivf:compact_staged")  # no marker yet: crash = old layout wins
    publish.write_subsumed(
        stage, [f"{part}/{f}" for part, files in dirty.items() for f in files]
    )
    publish.commit_stage(stage, subdir)
    fire("ivf:compact_committed")  # committed, not yet published
    publish_staged(index_dir, subdir, meta_name)
    after = live_partition_files(index_dir, subdir)
    return {
        part: (before[part], len(after.get(part, [])))
        for part in sorted(dirty)
    }


# ---------------------------------------------------------------------------
# Deletes: tombstones + measured vacuum trigger (round 14 — the one
# lifecycle verb neither persisted index had). A delete is LOGICAL first:
# the ids land in an immutable tombstone file (concurrent deletes never
# read-modify-write shared state) and every probe anti-filters them; the
# PHYSICAL removal is an explicit staged admin verb (vacuum) with a
# measured trigger, exactly the taxonomy the rest of the maintenance plane
# uses. Tombstoned ids cannot be re-appended until vacuumed — the probe
# filter is by id, so a revived row would be invisible; the append verbs
# check and fail loudly with the upsert recipe.
# ---------------------------------------------------------------------------
TOMBSTONES = "_tombstones"

#: probe-side bound: the tombstone set ships to the probe as a driver-side
#: structure (isin literal or broadcast anti-join side), so its size must
#: stay bounded — the vacuum trigger's absolute cap.
VACUUM_MAX_IDS = 65_536
#: …and its relative cap: tombstones past this fraction of the advisory
#: corpus count mean probes scan mostly-dead candidates.
VACUUM_MAX_FRACTION = 0.01


def add_tombstones(index_dir: str, ids, name: str | None = None) -> int:
    """Record ids as deleted (logical, immediate for every later probe).
    One immutable file per call — idempotent by content (re-deleting an id
    is harmless), race-free by construction (no shared file is rewritten).
    ``name`` (optional, must end in ``.json``) makes the file DETERMINISTIC
    for exactly-once callers (the delete stream names it by batch id, so a
    crash-window replay re-writes the same file instead of accumulating a
    duplicate). Returns how many NEW ids this call tombstoned (advisory)."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        return 0
    tdir = os.path.join(index_dir, TOMBSTONES)
    os.makedirs(tdir, exist_ok=True)
    if name is None:
        name = f"{_uuid.uuid4().hex}.json"
    elif not name.endswith(".json"):
        raise ValueError(f"tombstone file name must end in .json: {name!r}")
    atomic_write_json(os.path.join(tdir, name), {"ids": ids})
    return len(ids)


def load_tombstones(index_dir: str) -> tuple[set[int], list[str]]:
    """(union of tombstoned ids, the file names the union came from) —
    vacuum clears exactly the files it covered, so deletes landing DURING
    a vacuum survive as fresh files."""
    tdir = os.path.join(index_dir, TOMBSTONES)
    ids: set[int] = set()
    names: list[str] = []
    if not os.path.isdir(tdir):
        return ids, names
    for name in sorted(os.listdir(tdir)):
        if not name.endswith(".json"):
            continue
        try:
            with open(os.path.join(tdir, name)) as fh:
                ids.update(int(i) for i in json.load(fh)["ids"])
        except (OSError, ValueError, KeyError):
            continue  # mid-write by a concurrent delete: next reader sees it
        names.append(name)
    return ids, names


def clear_tombstone_files(index_dir: str, names: list[str]) -> None:
    for name in names:
        try:
            os.remove(os.path.join(index_dir, TOMBSTONES, name))
        except FileNotFoundError:  # idempotent (replayed vacuum tail)
            pass


#: fold the tombstone directory once it holds more than this many files.
#: The vacuum trigger bounds tombstone IDS (65,536 + 1%), not FILES — a
#: hot one-id-per-batch delete feed accumulates one file per batch, and
#: every probe's load_tombstones pays one open+parse per file (round-15
#: self-review: ~10k tiny reads per probe at a 10^6-corpus 1% trigger).
TOMBSTONE_FOLD_MAX_FILES = 64


def compact_tombstones(
    index_dir: str, max_files: int = TOMBSTONE_FOLD_MAX_FILES
) -> int:
    """Fold the tombstone files into one merged file when their COUNT
    crosses ``max_files`` — the probe-side cost is O(files), and the
    vacuum trigger only bounds ids (see TOMBSTONE_FOLD_MAX_FILES). Returns
    the number of input files folded (0 when under the threshold).

    Race-safe by the tombstones' own idempotence, in both directions:
    the merged file is written BEFORE the inputs are removed (a crash
    between leaves duplicate ids — set-masked by load_tombstones); a
    delete landing mid-fold writes its own new file, which is not in the
    fold's input snapshot and survives; a vacuum racing the fold clears
    exactly ITS input snapshot, and the merged file re-asserting
    already-vacuumed ids is a probe-side no-op the next vacuum finds zero
    matches for and retires."""
    # under-bound fast path: one listdir, no file parses (this runs every
    # delete-stream batch and every tick)
    tdir = os.path.join(index_dir, TOMBSTONES)
    try:
        n_files = sum(1 for x in os.listdir(tdir) if x.endswith(".json"))
    except OSError:
        return 0
    if n_files <= max_files:
        return 0
    ids, names = load_tombstones(index_dir)
    if len(names) <= max_files or not ids:
        return 0
    add_tombstones(index_dir, ids, name=f"folded-{_uuid.uuid4().hex}.json")
    clear_tombstone_files(index_dir, names)
    return len(names)


def needs_vacuum(
    index_dir: str,
    max_fraction: float = VACUUM_MAX_FRACTION,
    max_ids: int = VACUUM_MAX_IDS,
) -> tuple[bool, dict]:
    """Measured vacuum trigger: fires when the tombstone set exceeds the
    probe-side absolute bound or the relative share of the advisory corpus
    count — never on time or call cadence."""
    ids, names = load_tombstones(index_dir)
    n = read_index_count(index_dir)
    stats = {
        "tombstoned": len(ids),
        "files": len(names),
        "n_vectors": n,
        "fraction": (len(ids) / n) if n else 0.0,
    }
    return (
        len(ids) > max_ids or (n > 0 and len(ids) > max_fraction * n),
        stats,
    )


def vacuum_deleted(
    spark: SparkSession,
    index_dir: str,
    subdir: str,
    part_col: str,
    meta_name: str,
) -> dict:
    """PHYSICAL removal of tombstoned vectors — the explicit admin verb
    behind the measured :func:`needs_vacuum` trigger. One narrow scan
    (vec_id + partition column, semi-joined against the broadcast
    tombstone set) finds the partitions that actually hold deleted rows;
    ONLY those partitions rewrite (staged, ``_SUBSUMED``-fenced, the same
    crash/race contract as the tiered compactor: a concurrent publish
    deleting a snapshot file makes this run a clean race loser — {} and
    tombstones kept, rerun); after the publish, exactly the tombstone
    FILES this run covered are cleared — deletes landing mid-vacuum
    survive as fresh tombstones for the next run. Returns
    ``{"rows_removed", "vectors_removed", "partitions_rewritten",
    "tombstone_files_cleared"}``."""
    import pyspark.sql.functions as F

    from datalakejson_spark.session import local_df

    publish_staged(index_dir, subdir, meta_name)
    ids, names = load_tombstones(index_dir)
    report = {
        "rows_removed": 0,
        "vectors_removed": 0,
        "partitions_rewritten": 0,
        "tombstone_files_cleared": 0,
    }
    if not ids:
        return report
    # copier marker BEFORE the pin: this vacuum's staged rewrite is itself
    # copies of live rows — another vacuum's retire check must see it
    stage = begin_copier_stage(index_dir)
    root = os.path.join(index_dir, subdir)
    live = live_partition_files(index_dir, subdir)
    all_paths = [
        os.path.join(root, part, f) for part, files in live.items() for f in files
    ]
    if not all_paths:
        shutil.rmtree(stage, ignore_errors=True)
        cleared = _retire_tombstones_verified(
            spark, index_dir, subdir, ids, names
        )
        return {**report, "tombstone_files_cleared": cleared}
    ids_df = local_df(
        spark, [(int(i),) for i in sorted(ids)], "vec_id bigint"
    )
    try:
        scan = spark.read.option("basePath", root).parquet(*all_paths)
        matches = scan.select("vec_id", part_col).join(
            F.broadcast(ids_df), "vec_id", "leftsemi"
        )
        per_part = {
            r[0]: r[1]
            for r in matches.groupBy(part_col).count().collect()
        }
        vectors_removed = matches.select("vec_id").distinct().count()
        if not per_part:
            # every tombstoned id is already physically gone (folded out by
            # compaction, or never present): retire the tombstones —
            # re-verified, since a copier pinned before the fold can still
            # publish copies of them
            shutil.rmtree(stage, ignore_errors=True)
            cleared = _retire_tombstones_verified(
                spark, index_dir, subdir, ids, names
            )
            return {**report, "tombstone_files_cleared": cleared}
        affected = sorted(per_part)
        paths = [
            os.path.join(root, f"{part_col}={p}", f)
            for p in affected
            for f in live.get(f"{part_col}={p}", [])
        ]
        (
            spark.read.option("basePath", root)
            .parquet(*paths)
            .join(F.broadcast(ids_df), "vec_id", "leftanti")
            .repartition(part_col)
            .write.partitionBy(part_col)
            .mode("overwrite")
            .parquet(os.path.join(stage, subdir))
        )
    except Exception as exc:  # noqa: BLE001 — narrowed to the race below
        if not is_missing_file_error(exc):
            raise
        shutil.rmtree(stage, ignore_errors=True)
        return report  # race loser: tombstones kept, rerun
    fire("ivf:vacuum_staged")  # no marker yet: crash = old layout wins
    publish.write_subsumed(
        stage,
        [
            f"{part_col}={p}/{f}"
            for p in affected
            for f in live.get(f"{part_col}={p}", [])
        ],
    )
    publish.commit_stage(stage, subdir)
    fire("ivf:vacuum_committed")  # committed, not yet published
    outcome = publish_staged(index_dir, subdir, meta_name).get(
        os.path.basename(stage)
    )
    if outcome != "published":
        return report  # snapshot fence: a concurrent publish won, rerun
    # tombstone retirement strictly AFTER the publish (a crash in between
    # leaves retired-in-fact tombstones whose probe filter is a no-op) and
    # VERIFIED against the current layout (round 15): a copier that pinned
    # its sources before this rewrite can publish stale copies of these
    # ids at any point — the retire re-scan catches published copies and
    # the copier-stage check catches in-flight ones; kept tombstones stay
    # probe-filtered and the next vacuum removes the copies and retires.
    cleared = _retire_tombstones_verified(spark, index_dir, subdir, ids, names)
    rows_removed = int(sum(per_part.values()))
    bump_index_count(index_dir, -vectors_removed)
    return {
        "rows_removed": rows_removed,
        "vectors_removed": int(vectors_removed),
        "partitions_rewritten": len(affected),
        "tombstone_files_cleared": cleared,
    }


def drop_tombstoned(df, index_dir: str, col: str = "vec_id"):
    """Anti-filter a candidate frame against the live tombstone set — the
    logical-delete half of the lifecycle, applied by every probe and by
    the compactor's folds. Small sets inline as a NOT-IN predicate (which
    reaches the parquet scan); larger sets (bounded by the vacuum trigger)
    ride a broadcast anti-join."""
    import pyspark.sql.functions as F

    from datalakejson_spark.session import local_df

    ids, _names = load_tombstones(index_dir)
    if not ids:
        return df
    if len(ids) <= 256:
        return df.filter(~F.col(col).isin(sorted(ids)))
    ids_df = local_df(
        df.sparkSession, [(int(i),) for i in sorted(ids)], f"{col} bigint"
    )
    return df.join(F.broadcast(ids_df), col, "leftanti")


# ---------------------------------------------------------------------------
# Probe-side race handling
# ---------------------------------------------------------------------------
def probe_retrying(make_df, attempts: int = 5, backoff_s: float = 0.2):
    """Materialize an ANN probe against a LIVE index, re-planning from a
    fresh listing when a concurrent maintenance publish deletes a planned
    file mid-scan — the serving-side twin of the dedup audit's bounded
    retry (the publish is driver-side file moves, so a second snapshot is
    consistent with overwhelming probability). ``make_df`` must build the
    probe DataFrame from scratch (so the retry re-lists); returns
    ``.collect()`` rows. The OTHER side of the race — seeing a vector
    twice (compacted copy moved in, original not yet deleted) — is handled
    inside the probes themselves (candidate pair dedup); and since round 14
    the probes pin their FILE LIST at plan time (after a meta identity
    re-check), so a quantizer flip racing a probe surfaces as exactly this
    retryable missing-file error, never a silent miss. Between the
    mechanisms a probe racing maintenance is always exact or a clean
    bounded retry, never silently wrong."""
    for attempt in range(attempts):
        try:
            return make_df().collect()
        except Exception as exc:  # noqa: BLE001 — retried narrowly
            if attempt == attempts - 1 or not is_missing_file_error(exc):
                raise
            # let the racing publish's move/delete window pass before
            # re-listing (round 15: under CROSS-PROCESS maintenance churn —
            # ticks + a delete stream + a compactor — three back-to-back
            # re-plans could all land inside one publish storm and exhaust;
            # a short backoff makes the bounded retry actually bounded by
            # publish duration, not scheduler luck)
            time.sleep(backoff_s * (attempt + 1))


# ---------------------------------------------------------------------------
# Operator-facing index report (round 15)
# ---------------------------------------------------------------------------
def index_report(index_dir: str) -> dict:
    """One driver-side read of everything an operator needs before touching
    a persisted ANN index — the observability twin of the maintenance
    ticks (which ACT on these signals; this verb only reads them). No
    Spark job, no parquet data read: meta + sidecars + directory listings.

    Returns a dict with: ``plane`` ("ivf"/"lsh"), the family summary
    (cells or planes/tables, generation, bootstrap batch, baseline
    recall), the advisory ``n_vectors``, partition/file/run stats (count,
    max files and max write-generation runs per partition — the compaction
    trigger's own quantity), the tombstone state with the vacuum trigger's
    verdict, committed-but-unpublished stages (crash evidence the next
    verb rolls forward), the owning append/delete stream identities, and
    the LAST reading from each advisory history (_RECALL/_RETUNE/_TICKS
    jsonls)."""
    report: dict = {"index_dir": index_dir}
    plane = None
    for meta_name, p, subdir in (
        ("_IVF.json", "ivf", "cells"),
        ("_LSH.json", "lsh", "buckets"),
    ):
        if os.path.exists(os.path.join(index_dir, meta_name)):
            plane, report["plane"], report["subdir"] = p, p, subdir
            meta = load_index_meta(index_dir, meta_name, "build")
            break
    if plane is None:
        return {**report, "plane": None, "error": "no index meta found"}
    family_keys = (
        ("n_cells", "gen", "seed", "dim")
        if plane == "ivf"
        else ("n_planes", "n_tables", "seed", "dim")
    )
    report["family"] = {k: meta.get(k) for k in family_keys}
    for k in ("bootstrap_batch", "baseline_recall", "retrain_token"):
        if k in meta:
            report["family"][k] = meta[k]
    report["n_vectors"] = meta.get("n_vectors", 0)

    live = live_partition_files(index_dir, report["subdir"])
    files_per = [len(v) for v in live.values()]
    report["layout"] = {
        "partitions": len(live),
        "files": sum(files_per),
        "max_files_per_partition": max(files_per, default=0),
        "max_runs_per_partition": max(
            (len(derive_runs(v)) for v in live.values()), default=0
        ),
    }

    ids, names = load_tombstones(index_dir)
    vac_needed, vac_stats = needs_vacuum(index_dir)
    report["tombstones"] = {
        "ids": len(ids),
        "files": len(names),
        "needs_vacuum": bool(vac_needed),
        "fraction": vac_stats["fraction"],
    }

    staging = os.path.join(index_dir, STAGING)
    report["committed_stages_pending"] = sorted(
        t
        for t in (os.listdir(staging) if os.path.isdir(staging) else [])
        if publish.is_committed(os.path.join(staging, t))
    )

    streams = {}
    for key, sidecar in (
        ("append", "_STREAM.json"),
        ("delete", "_STREAM_DELETES.json"),
    ):
        try:
            with open(os.path.join(index_dir, sidecar)) as fh:
                streams[key] = json.load(fh).get("stream_id")
        except (OSError, ValueError):
            streams[key] = None
    report["streams"] = streams

    histories = {}
    for key, name in (
        ("recall", "_RECALL.jsonl"),
        ("retune", "_RETUNE.jsonl"),
        ("ticks", "_TICKS.jsonl"),
    ):
        last = None
        try:
            with open(os.path.join(index_dir, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        last = line
            if last is not None:
                last = json.loads(last)
        except (OSError, ValueError):
            last = None
        histories[key] = last
    report["last_readings"] = histories
    return report
