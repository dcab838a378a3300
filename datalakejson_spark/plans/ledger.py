"""File-processing ledger: a row-per-file state machine.

Reference parity: the PostgreSQL ``file_processing_status`` table
(/root/reference/sudo_code.txt:25-49) with status enum PENDING → PROCESSING →
SUCCEEDED | FAILED (sudo_code.txt:35), ``retry_count`` incremented per claim
(sudo_code.txt:141), idempotent registration via ``ON CONFLICT (s3_key) DO
NOTHING`` (sudo_code.txt:90), and batch claims ``status IN
('PENDING','FAILED') ORDER BY created_at LIMIT n`` (sudo_code.txt:132).

RDS-free redesign (SURVEY.md §7.0): the ledger is a directory of immutable
parquet snapshots plus a ``_LATEST`` pointer file. Updates write a new
snapshot and atomically swap the pointer (single-file os.replace — POSIX
atomic), so a crash mid-update leaves the previous snapshot intact: the
reference's transactional UPDATE+COMMIT becomes snapshot-and-swap. Ledger
DataFrame ops (anti-join registration, claim, status upsert) are plain Spark.

Status-partitioned snapshot (round 8 — the measured fix for the ~4x10^6-file
crossover in SCALE.md's ledger curve): the state is split into an ACTIVE part
(PENDING/PROCESSING/FAILED — the working set, fully rewritten per batch) and
append-only TERMINAL segments (SUCCEEDED/QUARANTINED — the steady-state
majority, written once when a row completes and never rewritten). The
``_LATEST`` pointer names both parts in one JSON line, so the swap is still a
single atomic os.replace. A steady batch therefore writes O(active)+O(batch)
instead of O(all files); claims read ONLY the active part (the reference's
``idx_processing_status``, sudo_code.txt:49). The rare operational move of a
key OUT of a terminal segment (e.g. re-enqueueing a SUCCEEDED file as FAILED)
falls back to one full compaction write; segment count is bounded by
compaction at MAX_TERMINAL_SEGMENTS. Legacy single-snapshot pointers are read
transparently and migrate to the split layout on their next write.

Job budget per transition: on bounded metadata each Spark action is its own
job, and the job count, not the data, sets the cost. A claim is one collect
of the claimable keys plus one write. A list-keyed commit (``apply_outcomes``,
``set_status`` with a list) is one bounded probe — the batch keys' current
rows, collected — plus one write (two when it splits terminal rows into a
segment). The probe alone yields the fenced-out keys, whether a terminal
segment row is being transitioned, and the exact change to the deferred
terminal count; the update is one projection stamped with a driver-side
timestamp literal. Keys reach Spark as one parsed ``IN`` list, not one py4j
literal each. DataFrame-keyed bulk flips (operational tools) join their keys
instead and keep a count-based probe.

Multi-runner semantics: the reference serializes concurrent claims with
``FOR UPDATE SKIP LOCKED`` (psuedo_code.txt:170-181). The filesystem analogue
here is a lock file (O_CREAT|O_EXCL — atomic on POSIX and NFSv4+) held only
for the duration of each ledger read-modify-write: a claim marks its files
PROCESSING before releasing the lock, so a second runner's claim sees them
and skips them — exactly SKIP LOCKED. Locks abandoned by a dead runner are
broken after ``LOCK_STALE_S``. Files orphaned in PROCESSING by a hard crash
(SIGKILL between claim and commit) are reclaimed at claim time once their
``last_updated_at`` is older than the processing lease.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
import uuid
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from datalakejson_spark.footers import dir_stats
from datalakejson_spark.fsutil import atomic_write_json, atomic_write_text
from datalakejson_spark.session import local_df, sql_in
from pyspark.sql import types as T


class LedgerStatus:
    PENDING = "PENDING"
    PROCESSING = "PROCESSING"
    SUCCEEDED = "SUCCEEDED"
    FAILED = "FAILED"
    # Declared in the reference's enum (sudo_code.txt:35) for rows whose file
    # was corrupt in its entirety and routed to the DLQ.
    QUARANTINED = "QUARANTINED"


# Snapshot split: the working set (rewritten per batch) vs completed rows
# (append-only segments, never rewritten in steady state).
ACTIVE_STATUSES = (
    LedgerStatus.PENDING,
    LedgerStatus.PROCESSING,
    LedgerStatus.FAILED,
)
TERMINAL_STATUSES = (LedgerStatus.SUCCEEDED, LedgerStatus.QUARANTINED)

# One terminal segment is appended per completing batch; above this many the
# next write folds them into one (amortized O(terminal/64) per batch).
MAX_TERMINAL_SEGMENTS = 64

# Adaptive split deferral (round 9 — the backfill-phase fix): while terminal
# rows are at most this fraction of the active dir, a commit keeps them IN
# the active part (one plain write, exactly the legacy cost model) instead of
# paying the two-pass split + segment append + probe machinery. The
# reference's opening act is an all-PENDING backfill where the terminal
# fraction is ~0 and the split bought nothing (r8: 9.0 vs legacy 6.7 s at
# 10^6); once deferred terminal rows reach the threshold — or the working
# set shrinks toward the terminal-majority steady state, where each batch's
# completions easily exceed it — the next commit splits ALL accumulated
# terminal rows out in one segment write and the active part returns to the
# pure working set. Write amplification of deferral is bounded by the
# threshold itself (each deferred rewrite carries <= 5% extra rows).
TERMINAL_SPLIT_MIN_FRAC = 0.05


# Mirrors sudo_code.txt:25-49 minus DB-isms (SERIAL id -> none needed;
# TIMESTAMP WITH TIME ZONE -> TimestampType, session tz pinned UTC).
LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("s3_key", T.StringType(), False),
        T.StructField("file_size_bytes", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("first_discovered_at", T.TimestampType(), False),
        T.StructField("last_updated_at", T.TimestampType(), False),
        T.StructField("run_id", T.StringType(), True),
    ]
)


def _owned(fence_run_id: str | None) -> Column:
    """Does a row still carry the fence run_id? (Always, with no fence; a
    NULL run_id is never owned.)"""
    if fence_run_id is None:
        return F.lit(True)
    return F.coalesce(F.col("run_id") == F.lit(fence_run_id), F.lit(False))


def _transition(
    df: DataFrame,
    rules: list[tuple[Column, str, str | None]],
    run_id: str | None,
    fence_run_id: str | None = None,
    increment_retry: bool = False,
) -> DataFrame:
    """The one status/fence update, as a projection over the ledger
    columns: a row takes the first rule whose key test it matches — under a
    fence only while it still carries ``fence_run_id`` — and gets that
    rule's status and error, ``run_id`` (when given), retry_count+1 (when
    asked) and a fresh ``last_updated_at``. The timestamp is a driver-side
    UTC literal, so every write of one transition stamps the same value."""
    owned = _owned(fence_run_id)
    pick = None
    for i, (test, _status, _msg) in enumerate(rules):
        pick = (F.when if pick is None else pick.when)(test & owned, F.lit(i))
    marked = df.withColumn("_rule", pick)
    hit = F.col("_rule").isNotNull()

    def per_rule(values: list, current: str) -> Column:
        out = F.col(current)
        for i in reversed(range(len(values))):
            out = F.when(F.col("_rule") == i, F.lit(values[i])).otherwise(out)
        return out.alias(current)

    def on_hit(value: Column, current: str) -> Column:
        return F.when(hit, value).otherwise(F.col(current)).alias(current)

    now = F.timestamp_micros(F.lit(time.time_ns() // 1000))
    return marked.select(
        "s3_key",
        "file_size_bytes",
        per_rule([status for _, status, _ in rules], "status"),
        on_hit(F.col("retry_count") + 1, "retry_count") if increment_retry else "retry_count",
        per_rule([msg for _, _, msg in rules], "error_message"),
        "first_discovered_at",
        on_hit(now, "last_updated_at"),
        on_hit(F.lit(run_id), "run_id") if run_id is not None else "run_id",
    )


# A runner that dies holding the lock must not wedge the fleet: locks whose
# mtime is older than this are broken. A LIVE holder heartbeats the lockfile
# mtime every LOCK_HEARTBEAT_S from a daemon thread, so lock age is decoupled
# from how long the critical section runs (a ledger snapshot write is a full
# Spark job and can far exceed any fixed budget under GC/FS stalls) — only a
# dead process stops touching its lock. 600 s therefore means "no heartbeat
# for 10 minutes", not "critical section slower than 10 minutes".
LOCK_STALE_S = 600.0
LOCK_HEARTBEAT_S = 5.0

# PROCESSING rows whose last_updated_at is older than this are considered
# orphaned by a crashed runner and become claimable again (the reference's
# crash story relies on its DB transaction rollback; a snapshot ledger needs
# an explicit lease).
PROCESSING_LEASE_S = 1800.0


class LedgerLockLost(RuntimeError):
    """The mutex token vanished mid-critical-section: a stale-break racer
    renamed our fresh lock away and its restore lost to a new acquirer
    (see ``_break_if_stale``). ``overwrite`` raises this BEFORE the pointer
    swap — nothing was published — and the public operations retry their
    whole read-modify-write under a fresh acquisition."""


class Ledger:
    """Parquet-snapshot ledger with atomic pointer swap and a lock-file mutex
    serializing concurrent runners' read-modify-write cycles."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self._held = threading.local()  # token while inside _mutex, per thread

    # -- multi-runner mutex --------------------------------------------------
    @property
    def _lockfile(self) -> Path:
        return self.root / "_LOCK"

    @contextlib.contextmanager
    def _mutex(self, timeout_s: float = 60.0):
        """Exclusive inter-process lock around a ledger read-modify-write.

        O_CREAT|O_EXCL is the atomic acquisition primitive. Three hardenings
        over a naive lockfile (each closes a real race):

        - **Ownership token**: the lockfile body is a unique token. Release
          unlinks only if the body still matches (``_unlink_if_owner``), so a
          holder whose lock was broken while it ran can never delete the NEW
          holder's lock from its ``finally``.
        - **Heartbeat**: while held, a daemon thread touches the lockfile
          mtime every LOCK_HEARTBEAT_S. A live-but-slow holder (long Spark
          job, GC pause) therefore never looks stale; only a dead process
          goes quiet for LOCK_STALE_S.
        - **Atomic stale-break**: a waiter that observes a stale lock breaks
          it by ``os.rename()`` to a unique name, re-verifies staleness on
          the renamed inode, then unlinks THAT file. Rename captures exactly
          one inode — when two waiters race, the loser's rename fails ENOENT
          instead of blindly unlinking the path (which could by then hold the
          winner's brand-new lock).
        - **No barging**: a waiter leaves a ``_LOCK.wait.<hex>`` marker, and a
          fresh acquirer that sees another waiter's marker queues (polls)
          beside it instead of taking a just-freed lock first. Without it a
          runner that releases and re-acquires within a millisecond wins
          every race against a waiter polling every 50 ms, and the waiter
          times out while the other runner drains the whole backlog. A
          waiter refreshes its marker on every poll; one not refreshed for
          LOCK_HEARTBEAT_S belongs to a dead waiter and is removed."""
        token = f"pid={os.getpid()} token={uuid.uuid4().hex}"
        deadline = time.monotonic() + timeout_s
        queued: Path | None = None  # this acquirer's wait marker
        try:
            while True:
                if queued is not None or not self._others_waiting():
                    try:
                        fd = os.open(
                            self._lockfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                        )
                        os.write(fd, token.encode())
                        os.close(fd)
                        break
                    except FileExistsError:
                        if self._break_if_stale():
                            continue  # lock broken (or vanished) — retry now
                if queued is None:
                    queued = self.root / f"_LOCK.wait.{uuid.uuid4().hex[:12]}"
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"ledger lock {self._lockfile} held for >{timeout_s}s"
                    )
                queued.touch()  # (re)creates the marker and refreshes it
                time.sleep(0.05)
        finally:
            if queued is not None:
                queued.unlink(missing_ok=True)
        stop = threading.Event()
        beat = threading.Thread(
            target=self._heartbeat, args=(stop, token), daemon=True
        )
        beat.start()
        self._held.token = token
        try:
            yield
        finally:
            self._held.token = None
            stop.set()
            beat.join(timeout=2 * LOCK_HEARTBEAT_S)
            self._unlink_if_owner(token)

    def _others_waiting(self) -> bool:
        """Is a live waiter queued on the lock (see ``_mutex``)? Removes the
        markers of dead waiters on the way."""
        now = time.time()
        waiting = False
        for p in self.root.glob("_LOCK.wait.*"):
            try:
                if now - p.stat().st_mtime <= LOCK_HEARTBEAT_S:
                    waiting = True
                else:
                    p.unlink(missing_ok=True)
            except FileNotFoundError:
                continue  # its waiter just took the lock
        return waiting

    def _break_if_stale(self) -> bool:
        """Break the current lock iff its heartbeat stopped LOCK_STALE_S ago.
        Returns True when the caller should retry acquisition right away
        (lock broken or already gone)."""
        try:
            age = time.time() - self._lockfile.stat().st_mtime
        except FileNotFoundError:
            return True  # holder released between open and stat
        if age <= LOCK_STALE_S:
            return False
        wreck = self.root / f"_LOCK.stale.{uuid.uuid4().hex[:12]}"
        try:
            os.rename(self._lockfile, wreck)  # atomic: captures ONE inode
        except FileNotFoundError:
            return True  # another breaker (or the holder) got there first
        try:
            still_stale = time.time() - wreck.stat().st_mtime > LOCK_STALE_S
        except FileNotFoundError:
            return True
        if still_stale:
            wreck.unlink(missing_ok=True)  # confirmed dead — bury it
            return True
        # Rare race: the path held a FRESH lock by rename time (old holder
        # released and a new one acquired between our stat and rename).
        # Restore it atomically; link() fails EEXIST rather than clobbering
        # if yet another acquirer already took the slot.
        try:
            os.link(wreck, self._lockfile)
        except (FileExistsError, OSError):
            pass
        wreck.unlink(missing_ok=True)
        return False

    def _heartbeat(self, stop: threading.Event, token: str) -> None:
        """Touch the lockfile mtime while the critical section runs, so a
        live holder never ages past LOCK_STALE_S. Stops heartbeating if the
        lock no longer carries our token (stolen/broken) — run_id fencing at
        commit is the data-integrity guard for that case."""
        while not stop.wait(LOCK_HEARTBEAT_S):
            try:
                if self._lockfile.read_text() != token:
                    return  # not ours anymore — never touch someone else's lock
                os.utime(self._lockfile)
            except OSError:
                continue  # transiently renamed by a staleness probe — retry

    def _unlink_if_owner(self, token: str) -> None:
        """Release only a lock we still own. If the body is not our token,
        the lock was broken and re-acquired by someone else — leave it."""
        try:
            if self._lockfile.read_text() == token:
                self._lockfile.unlink(missing_ok=True)
        except OSError:
            pass

    # -- snapshot plumbing --------------------------------------------------
    @property
    def _pointer(self) -> Path:
        return self.root / "_LATEST"

    def _pointer_meta(self) -> dict | None:
        """The split-format pointer dict, or None (missing/legacy)."""
        try:
            txt = self._pointer.read_text().strip()
        except FileNotFoundError:
            return None
        if txt.startswith("{"):
            return json.loads(txt)
        return None

    def _current_parts(self) -> tuple[str | None, list[str], bool]:
        """(active_version, terminal_segments, is_legacy). A legacy pointer
        (pre-split: one bare version name) reads as the active part holding
        ALL rows — including terminal ones — and migrates to the split
        layout on its next write."""
        try:
            txt = self._pointer.read_text().strip()
        except FileNotFoundError:
            return None, [], False
        if not txt:
            return None, [], False
        if txt.startswith("{"):
            d = json.loads(txt)
            return d.get("active"), list(d.get("terminal", [])), False
        return txt, [], True

    def _deferred_terminal(self) -> int | None:
        """Terminal rows currently riding in the active dir, or None when
        unknowable (legacy pointer). List-keyed transitions keep it exact
        (their probe sees every row they change); a count carried over from
        an older pointer may overcount, which is safe — see _commit_active.
        Pre-round-9 split pointers lack the field and never deferred, so 0
        is exact for them."""
        d = self._pointer_meta()
        if d is None:
            return None if self._pointer.exists() else 0
        return int(d.get("deferred_terminal", 0))

    def _active_row_count(self) -> int | None:
        """Row count of the active dir (see ``_dir_stats``)."""
        active, _segs, legacy = self._current_parts()
        if not active or legacy:
            return None
        return self._dir_stats(active)[1]

    def _dir_stats(self, dirname: str) -> tuple[tuple[str, str] | None, int | None]:
        """(s3_key range, row count) of a written parquet dir from its
        FOOTERS (:func:`datalakejson_spark.footers.dir_stats`) — a
        driver-side file-stat, no Spark job. A missing dir or unreadable
        footer gives (None, None): the range is then unknown and so is the
        count."""
        try:
            return dir_stats(str(self.root / dirname), "s3_key")
        except (OSError, ValueError):  # pyarrow's ArrowInvalid is a ValueError
            return None, None

    def _read_dirs(self, names: list[str]) -> DataFrame:
        paths = [str(self.root / n) for n in names]
        if not paths:
            return local_df(self.spark, [], LEDGER_SCHEMA)
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(*paths)

    def read(self) -> DataFrame:
        active, segs, _legacy = self._current_parts()
        return self._read_dirs(([active] if active else []) + segs)

    # -- per-segment key ranges from the segment footers -------------------
    # A terminal segment is one parquet file whose footer already records the
    # min/max s3_key of its rows. This is the reference's
    # ``idx_processing_status``+pkey analogue for the terminal majority: a
    # commit-path probe over 10^8 terminal rows touches only segments whose
    # [min,max] s3_key range can contain a batch key, so probe cost tracks
    # batch locality instead of total history. A segment whose footer lacks
    # usable stats is conservatively probed. Segments written by older
    # ledgers may still hold an underscore-named range sidecar file; Spark
    # skips underscore files and nothing reads it.
    def _key_bounds(self, keys: DataFrame) -> tuple[str | None, str | None]:
        row = keys.agg(
            F.min("s3_key").alias("kmin"), F.max("s3_key").alias("kmax")
        ).first()
        return (row.kmin, row.kmax) if row else (None, None)

    def _segs_for_keys(
        self, segs: list[str], kmin: str | None, kmax: str | None
    ) -> list[str]:
        """Segments whose footer key range can intersect [kmin, kmax];
        segments without usable footer stats are conservatively included."""
        if kmin is None or kmax is None:
            return []  # no keys — nothing can hit
        out = []
        for s in segs:
            r = self._dir_stats(s)[0]
            if r is None or (r[0] <= kmax and kmin <= r[1]):
                out.append(s)
        return out

    def _active_part(self) -> DataFrame:
        """Contents of the active DIR (unfiltered: under a legacy pointer it
        still holds terminal rows until the next write migrates them)."""
        active, _segs, _legacy = self._current_parts()
        return self._read_dirs([active] if active else [])

    def _owns_lock(self) -> bool:
        """Does the lockfile still carry this thread's mutex token? Outside a
        mutex (direct overwrite in tests/tools) there is nothing to verify."""
        token = getattr(self._held, "token", None)
        if token is None:
            return True
        try:
            return self._lockfile.read_text() == token
        except OSError:
            return False  # renamed/unlinked — dispossessed either way

    def overwrite(self, df: DataFrame) -> None:
        """Full-state last-writer-wins write (kept public; used by the rare
        paths — terminal re-enqueue compaction, tools). Splits ``df`` by
        status group into a fresh active part + ONE terminal segment: this
        is also what compacts legacy layouts and folds accumulated
        segments. A state with zero terminal rows publishes no segment
        (ADVICE r8: never create empty segment dirs; ``_publish`` drops
        it). The persist keeps the two filtered writes of a caller's
        arbitrary ``df`` consistent."""
        df = df.persist()
        try:
            self._publish(
                df.filter(F.col("status").isin(*ACTIVE_STATUSES)),
                [],
                df.filter(F.col("status").isin(*TERMINAL_STATUSES)),
                deferred_terminal=0,  # active part is status-filtered
            )
        finally:
            df.unpersist()

    def _write_dir(self, df: DataFrame, name: str) -> None:
        """Write one snapshot dir as a single parquet file. ``coalesce``,
        not ``repartition``: the inputs are snapshot files, projections of
        them or persisted frames, so the single task serializes no upstream
        work, and the write stays one Spark job instead of a shuffle-map
        job plus a result job."""
        df.select([f.name for f in LEDGER_SCHEMA.fields]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(self.root / name))

    def _publish(
        self,
        active_df: DataFrame,
        segments: list[str],
        new_segment_df: DataFrame | None = None,
        deferred_terminal: int | None = None,
    ) -> None:
        """Write the active part (and optionally one appended terminal
        segment), fold segments when over MAX_TERMINAL_SEGMENTS, then
        atomically swap the pointer and prune unreferenced dirs.

        Dispossession guard (the _break_if_stale restore race): immediately
        before the pointer swap, re-verify the lockfile still carries our
        token. A holder whose fresh lock was renamed away by a staleness
        probe and lost to a new acquirer must NOT publish — its snapshot is
        last-writer-wins and would erase the new holder's transitions.
        Raising here (nothing published yet; the orphan directories are
        pruned by later publishes) lets the operation retry its whole
        read-modify-write under a fresh acquisition."""
        ns = time.time_ns()
        version = f"v{ns}"
        self._write_dir(active_df, version)
        segs = list(segments)
        if new_segment_df is not None:
            seg = f"t{ns}"
            self._write_dir(new_segment_df, seg)
            if self._dir_stats(seg)[1] == 0:
                # nothing reached a terminal status: never reference an
                # empty segment (the footers say so without a count job)
                shutil.rmtree(self.root / seg, ignore_errors=True)
            else:
                segs.append(seg)
        if len(segs) > MAX_TERMINAL_SEGMENTS:
            merged = f"t{ns}c"
            self._write_dir(self._read_dirs(segs), merged)
            segs = [merged]
        if not self._owns_lock():
            raise LedgerLockLost(
                f"ledger lock {self._lockfile} stolen mid-write; snapshot "
                f"{version} aborted before publish"
            )
        if deferred_terminal is None:
            # Preserve the current deferral bookkeeping (writes that cannot
            # change the active dir's terminal content: register, claim).
            deferred_terminal = self._deferred_terminal() or 0
        # Monotonic publish counter: read-increment under the mutex, so it
        # advances by exactly one per publish REGARDLESS of which machine's
        # clock minted the version name — the retirement grace counts these,
        # never wall-clock-derived names (see _prune).
        meta = self._pointer_meta() or {}
        seq = int(meta.get("publish_seq", 0)) + 1
        atomic_write_text(  # atomic commit point
            str(self._pointer),
            json.dumps(
                {
                    "active": version,
                    "terminal": segs,
                    "deferred_terminal": deferred_terminal,
                    "publish_seq": seq,
                }
            ),
        )
        self._prune(keep=3, current=version, segments=segs, seq=seq)

    def _retrying(self, body, attempts: int = 5):
        """Run ``body`` inside the mutex, retrying the whole read-modify-write
        when the lock was stolen mid-flight (LedgerLockLost aborts before any
        state is published, so a retry is a clean re-application on whatever
        the winning holder committed)."""
        last: LedgerLockLost | None = None
        for _ in range(attempts):
            try:
                with self._mutex():
                    return body()
            except LedgerLockLost as exc:
                last = exc
        raise last

    def _prune(
        self, keep: int, current: str, segments: list[str], seq: int
    ) -> None:
        """Delete old active versions (keep the newest ``keep`` so lock-free
        readers holding a slightly stale pointer never lose their dirs) and
        RETIRED terminal segments after the same grace window.

        A segment's own timestamp says when it was CREATED, not when it was
        dropped from the pointer (a fold retires segments that are many
        publishes old), so deletion-by-age would yank dirs out from under a
        lock-free reader holding the immediately-previous pointer
        (monitor counts, owned_by, _finish_interrupted_archives). Instead,
        an unreferenced segment is first recorded in the advisory
        ``_RETIRED`` journal with the pointer's ``publish_seq`` at
        retirement, and deleted only once at least ``keep`` further
        publishes have happened — the identical grace the active versions
        get. The counter is incremented read-modify-write under the mutex,
        so the grace is genuinely publish-COUNT-based: version names are
        minted by whichever runner machine publishes, and under
        cross-machine clock skew a name-comparison grace (the first cut of
        this fix) could still collapse to one publish — a skewed-behind
        runner's version name sorts below every kept name immediately. A
        monotonic counter has no such failure mode. The journal is advisory
        (corruption → grace restarts, segments merely linger) and written
        atomically (tmp + os.replace) so a crash mid-write can never
        truncate it."""
        snaps = sorted(
            (p for p in self.root.iterdir() if p.is_dir() and p.name.startswith("v")),
            key=lambda p: p.name,
        )
        for stale in snaps[:-keep]:
            if stale.name != current:
                shutil.rmtree(stale, ignore_errors=True)
        referenced = set(segments)
        retired_path = self.root / "_RETIRED"
        try:
            retired: dict[str, object] = json.loads(retired_path.read_text())
        except (FileNotFoundError, ValueError):
            retired = {}
        changed = False
        live = set()
        for p in self.root.iterdir():
            if not (p.is_dir() and p.name.startswith("t")):
                continue
            live.add(p.name)
            if p.name in referenced:
                if p.name in retired:  # defensive: re-referenced
                    retired.pop(p.name)
                    changed = True
                continue
            stamp = retired.get(p.name)
            stamp_seq = stamp.get("seq") if isinstance(stamp, dict) else None
            if not isinstance(stamp_seq, int):
                # New retirement — or a legacy entry (r8 timestamp int / r9.0
                # version-name string), whose grace restarts under the
                # counter scheme (advisory: the segment merely lingers a few
                # more publishes).
                retired[p.name] = {"seq": seq}  # grace starts at retirement
                changed = True
            elif seq - stamp_seq >= keep:
                # >= ``keep`` publishes since retirement: no lock-free
                # reader can still hold a pointer naming this segment.
                shutil.rmtree(p, ignore_errors=True)
                retired.pop(p.name)
                changed = True
        for name in list(retired):  # drop entries whose dir is gone
            if name not in live:
                retired.pop(name)
                changed = True
        if changed:
            atomic_write_json(str(retired_path), retired)

    # -- reference operations ----------------------------------------------
    def register(self, discovered: DataFrame) -> int:
        """Idempotent insert of (s3_key, file_size_bytes) rows as PENDING —
        the ``ON CONFLICT DO NOTHING`` anti-join (J1; sudo_code.txt:90).
        Returns the number of newly registered files."""

        def body() -> int:
            # The anti-join reads ALL keys (active + terminal — a completed
            # file must not re-register), column-pruned to s3_key; the WRITE
            # touches only the active part (new rows are all PENDING).
            current = self.read()
            now = F.current_timestamp()
            fresh = (
                discovered.select("s3_key", "file_size_bytes")
                .dropDuplicates(["s3_key"])
                .join(current.select("s3_key"), "s3_key", "left_anti")
                .withColumn("status", F.lit(LedgerStatus.PENDING))
                .withColumn("retry_count", F.lit(0))
                .withColumn("error_message", F.lit(None).cast("string"))
                .withColumn("first_discovered_at", now)
                .withColumn("last_updated_at", now)
                .withColumn("run_id", F.lit(None).cast("string"))
            ).persist()  # count + publish: one anti-join execution
            try:
                n_new = fresh.count()
                if n_new:
                    _active, segs, legacy = self._current_parts()
                    if legacy:
                        self.overwrite(current.unionByName(fresh))
                    else:
                        self._publish(
                            self._active_part().unionByName(fresh), segs
                        )
            finally:
                fresh.unpersist()
            return n_new

        return self._retrying(body)

    def claim_batch(
        self,
        batch_size: int,
        run_id: str,
        stale_lease_s: float = PROCESSING_LEASE_S,
    ) -> list[str]:
        """Claim up to ``batch_size`` claimable files oldest-first and mark
        them PROCESSING with retry_count+1 (sudo_code.txt:132,141).
        Returns the claimed paths (driver-side list, bounded by batch_size —
        the same bounded collect the reference does).

        SKIP LOCKED semantics (psuedo_code.txt:170-181): select-and-mark runs
        under the ledger mutex, so a concurrent runner's claim sees this
        batch already PROCESSING and takes the next files instead. PROCESSING
        rows whose lease expired (runner died between claim and commit) are
        claimable again — nothing is stranded by a SIGKILL.

        Reads ONLY the active part of the split snapshot — the terminal
        majority never participates in a claim (the reference's
        ``idx_processing_status`` index, sudo_code.txt:49). One collect of
        the claimable keys, then one write: the keys come from the active
        part, so no probe is needed."""
        with self._mutex():
            active, segs, _legacy = self._current_parts()
            current = self._read_dirs([active] if active else [])
            stale = (F.col("status") == LedgerStatus.PROCESSING) & (
                F.col("last_updated_at")
                < F.current_timestamp() - F.expr(f"INTERVAL {int(stale_lease_s)} SECONDS")
            )
            claimable = (
                current.filter(
                    F.col("status").isin(LedgerStatus.PENDING, LedgerStatus.FAILED)
                    | stale
                )
                .orderBy("first_discovered_at", "s3_key")
                .limit(batch_size)
            )
            paths = [r.s3_key for r in claimable.select("s3_key").collect()]
            if paths:
                claim = [(sql_in("s3_key", paths), LedgerStatus.PROCESSING, None)]
                # PROCESSING is not terminal: the deferred count carries over
                # (None under a legacy pointer, whose next write migrates it)
                self._commit_active(
                    _transition(current, claim, run_id, increment_retry=True),
                    segs,
                    self._deferred_terminal(),
                )
            return paths

    def set_status(
        self,
        paths: list[str] | DataFrame,
        status: str,
        error_message: str | None = None,
        run_id: str | None = None,
        increment_retry: bool = False,
        fence_run_id: str | None = None,
    ) -> list[str]:
        """Transition the given files to ``status`` (sudo_code.txt:141,
        psuedo_code.txt:207,241).

        ``fence_run_id``: when set, a row transitions ONLY if its current
        ``run_id`` equals the fence — the snapshot-ledger analogue of the
        reference's transactional ``UPDATE ... WHERE id = ?`` inside the
        claim's DB transaction. A slow runner whose PROCESSING lease expired
        and whose files were reclaimed by another runner is fenced out here
        instead of silently overwriting the new owner's state. Returns the
        fenced-out (lost-claim) paths; empty when not fencing.

        A DataFrame of keys is a bulk flip (operational tools): its keys
        are joined, never collected, so it keeps the range-pruned
        terminal probe and the split write without the driver-side
        bookkeeping of the list-keyed path."""
        with self._mutex():
            if isinstance(paths, DataFrame):
                return self._set_status_frame(
                    paths, status, error_message, run_id, increment_retry,
                    fence_run_id,
                )
            return self._transition_keys(
                [(list(paths), status, error_message)],
                run_id,
                fence_run_id,
                increment_retry,
            )

    def apply_outcomes(
        self,
        outcomes: list[tuple[list[str], str, str | None]],
        run_id: str,
        fence: bool = True,
    ) -> list[str]:
        """Apply several status transitions in ONE snapshot write:
        ``outcomes`` is [(paths, status, error_message), ...]. A batch's
        commit touches the ledger once instead of once per status group —
        the ledger write amplification is O(1) per batch, not O(states).

        ``fence=True`` (default): each transition applies only where the
        row's current ``run_id`` equals ``run_id`` — i.e. this runner still
        owns the claim. Reclaimed rows (lease expired, another runner took
        over) are left untouched and returned as lost-claim paths so the
        caller can abort their side effects (see ingest_batch)."""
        groups = [(list(paths), status, msg) for paths, status, msg in outcomes if paths]
        if not groups:
            return []
        with self._mutex():
            return self._transition_keys(groups, run_id, run_id if fence else None)

    def _key_state(self, active: str | None, segs: list[str]) -> DataFrame:
        """The active part plus ``segs``, each row tagged ``in_segment``."""
        state = self._read_dirs([active] if active else []).withColumn(
            "in_segment", F.lit(False)
        )
        if segs:
            state = state.unionByName(
                self._read_dirs(segs).withColumn("in_segment", F.lit(True))
            )
        return state

    def _transition_keys(
        self,
        groups: list[tuple[list[str], str, str | None]],
        run_id: str | None,
        fence_run_id: str | None,
        increment_retry: bool = False,
    ) -> list[str]:
        """List-keyed transition (caller holds the mutex): one bounded
        probe, then one write. ``groups`` is [(paths, status, error), ...];
        a key listed twice takes its first group.

        The probe collects the batch keys' current rows from the active part
        and from the terminal segments whose footer key range can hold a
        batch key — O(batch) rows, never O(history). From those rows, on
        the driver:

        - the fenced-out keys: rows not carrying ``fence_run_id`` (lost
          claims), returned to the caller;
        - the terminal hit: a transitioning row that lives in a terminal
          segment routes the update to the rare full compaction. Under a
          fence a segment row reclaimed-and-completed by another runner
          carries that runner's id and is fenced out, so a routine
          lease-expiry race never triggers an O(N) rewrite;
        - the exact change in terminal rows of the active part, which keeps
          the pointer's deferred count exact for the split decision.

        A transition that moves no row (every key fenced out or unknown)
        writes nothing."""
        keys = sorted({p for paths, _, _ in groups for p in paths})
        if not keys:
            return []
        active, segs, _legacy = self._current_parts()
        rows = (
            self._key_state(active, self._segs_for_keys(segs, keys[0], keys[-1]))
            .filter(sql_in("s3_key", keys))
            .select("s3_key", "status", "run_id", "in_segment")
            .collect()
        )
        moving, fenced_out = [], []
        for r in rows:
            if fence_run_id is None or r.run_id == fence_run_id:
                moving.append(r)
            else:
                fenced_out.append(r.s3_key)
        if not moving:
            return fenced_out  # nothing transitions: the snapshot stands
        new_status: dict[str, str] = {}
        for paths, status, _msg in groups:
            for p in paths:
                new_status.setdefault(p, status)
        rules = [
            (sql_in("s3_key", paths), status, msg) for paths, status, msg in groups
        ]

        def transition(df: DataFrame) -> DataFrame:
            return _transition(df, rules, run_id, fence_run_id, increment_retry)

        if any(r.in_segment for r in moving):
            self.overwrite(transition(self.read()))
        else:
            terminal_rows = self._deferred_terminal()
            if terminal_rows is not None:
                terminal_rows = max(
                    0,
                    terminal_rows
                    + sum(
                        (new_status[r.s3_key] in TERMINAL_STATUSES)
                        - (r.status in TERMINAL_STATUSES)
                        for r in moving
                    ),
                )
            self._commit_active(transition(self._active_part()), segs, terminal_rows)
        return fenced_out

    def _set_status_frame(
        self,
        paths: DataFrame,
        status: str,
        error_message: str | None,
        run_id: str | None,
        increment_retry: bool,
        fence_run_id: str | None,
    ) -> list[str]:
        # persisted: the probe and both split writes must see one key set,
        # whatever the caller's frame is built from
        keys = paths.select(F.col(paths.columns[0]).alias("s3_key")).persist()
        try:
            active, segs, _legacy = self._current_parts()
            probe_segs = self._segs_for_keys(segs, *self._key_bounds(keys)) if segs else []
            state = self._key_state(active, probe_segs).join(
                F.broadcast(keys), "s3_key", "left_semi"
            )
            owned = _owned(fence_run_id)
            fenced_out = (
                []
                if fence_run_id is None
                else [r.s3_key for r in state.filter(~owned).select("s3_key").collect()]
            )
            rules = [(F.col("_hit").isNotNull(), status, error_message)]

            def transition(df: DataFrame) -> DataFrame:
                hits = F.broadcast(keys.withColumn("_hit", F.lit(1)))
                return _transition(
                    df.join(hits, "s3_key", "left"),
                    rules,
                    run_id,
                    fence_run_id,
                    increment_retry,
                )

            if probe_segs and state.filter(F.col("in_segment") & owned).limit(1).count():
                self.overwrite(transition(self.read()))
            else:
                self._commit_active(
                    transition(self._active_part()),
                    segs,
                    # a non-terminal flip can only shrink the deferred
                    # count; a terminal one is unknown without counting
                    None if status in TERMINAL_STATUSES else self._deferred_terminal(),
                )
            return fenced_out
        finally:
            keys.unpersist()

    def _commit_active(
        self,
        updated: DataFrame,
        segs: list[str],
        terminal_rows: int | None,
    ) -> None:
        """Publish an updated ACTIVE part. ``terminal_rows`` bounds the
        terminal rows it holds (exact for list-keyed transitions; None when
        unknown — legacy pointers, terminal bulk flips).

        Adaptive deferral (round 9): the split into an appended terminal
        segment is paid only once terminal rows exceed
        TERMINAL_SPLIT_MIN_FRAC of the active dir. Below that — the
        all-PENDING backfill phase, or a fully fenced-out / no-match commit
        whose terminal delta is ZERO rows (ADVICE r8: such a commit used to
        append an EMPTY segment per batch, burning segment slots) — the
        commit is one plain write and terminal rows ride along in the
        active part until the fraction crosses the threshold, at which
        point one segment write drains them all.

        The decision is driver-side metadata, not a Spark job: the pointer
        carries the deferred count, the probe gives the batch's change to
        it, and the active dir size comes from parquet footers. The split
        itself filters one projection twice; the transition's timestamp is
        a driver-side literal and its inputs are immutable snapshot files,
        so the two writes agree without a persist, and ``_publish`` drops a
        segment that came out empty."""
        if terminal_rows is not None:
            n_active = self._active_row_count() if terminal_rows else 0
            if not terminal_rows or (
                n_active is not None
                and (n_active == 0 or terminal_rows <= TERMINAL_SPLIT_MIN_FRAC * n_active)
            ):
                self._publish(updated, segs, deferred_terminal=terminal_rows)
                return
        is_terminal = F.col("status").isin(*TERMINAL_STATUSES)
        self._publish(
            updated.filter(~is_terminal),
            segs,
            updated.filter(is_terminal),
            deferred_terminal=0,
        )

    def owned_by(self, paths: list[str], run_id: str) -> set[str]:
        """The subset of ``paths`` whose ledger row currently carries
        ``run_id`` — i.e. claims this runner still holds. Read-only (no
        mutex needed: the authoritative check re-runs inside the fenced
        commit); used to skip side effects for already-reclaimed files."""
        if not paths:
            return set()
        return {
            r.s3_key
            for r in self.read()
            .filter(sql_in("s3_key", paths) & (F.col("run_id") == F.lit(run_id)))
            .select("s3_key")
            .collect()
        }

    def counts(self) -> dict[str, int]:
        return {
            r["status"]: r["n"]
            for r in self.read().groupBy("status").agg(F.count("*").alias("n")).collect()
        }
