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
reference's transactional UPDATE+COMMIT becomes snapshot-and-swap. A
snapshot holds metadata rows only, so every read-modify-write runs on the
driver in Arrow (``pyarrow.parquet`` + ``pyarrow.compute``), the way the
reference's driver issues one SQL statement per transition: a Spark job's
scheduling, Catalyst planning and single-task write cost more than the
rows themselves. Spark reads the same files for ``read()``.

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
compaction at MAX_TERMINAL_SEGMENTS.

Job budget: a claim and a list-keyed commit (``apply_outcomes``,
``set_status`` with a list) launch no Spark job. A claim is a top-k over
the active part; a commit reads the active part and the terminal segments
whose footer key range can hold a batch key, derives the fenced-out keys,
whether a terminal segment row moves, and the split decision on the
driver, and writes one file (two when it splits terminal rows into a
segment). ``register`` is one Spark left join of the discovery listing
against the ledger keys, which collects only the unknown keys and the
SUCCEEDED ones, followed by an Arrow append. A DataFrame-keyed bulk flip
(operational tools) collects its key column, then transitions like a list.
Snapshot files are written with microsecond UTC timestamps; Spark-written
snapshots (INT96) are read too.

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
from collections.abc import Callable
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.footers import dir_stats
from datalakejson_spark.fsutil import atomic_write_json, atomic_write_text
from datalakejson_spark.session import local_df
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


# The Arrow form of LEDGER_SCHEMA: what every snapshot file is written as,
# and what a file of either writer is conformed to on read. Timestamps are
# microseconds in UTC, which Spark reads back exactly as TimestampType (a
# nanosecond file fails Spark's read under LEDGER_SCHEMA); Spark-written
# snapshots hold INT96, which is read at microsecond precision.
_TS = pa.timestamp("us", tz="UTC")
ARROW_SCHEMA = pa.schema(
    [
        ("s3_key", pa.string()),
        ("file_size_bytes", pa.int64()),
        ("status", pa.string()),
        ("retry_count", pa.int32()),
        ("error_message", pa.string()),
        ("first_discovered_at", _TS),
        ("last_updated_at", _TS),
        ("run_id", pa.string()),
    ]
)
_TERMINAL = pa.array(TERMINAL_STATUSES, pa.string())


def _now() -> pa.Scalar:
    """The driver's clock as a ledger timestamp: one value per operation,
    so every row an operation writes carries the same stamp."""
    return pa.scalar(time.time_ns() // 1000, _TS)


def _conform(table: pa.Table, schema: pa.Schema = ARROW_SCHEMA) -> pa.Table:
    """``table``'s columns named by ``schema``, cast to its types (a
    Spark-written INT96 column reads as naive microseconds, which are UTC)."""
    return pa.table([table[f.name].cast(f.type) for f in schema], schema=schema)


def _is_terminal(table: pa.Table) -> pa.ChunkedArray:
    return pc.is_in(table["status"], value_set=_TERMINAL)


def _transition(
    table: pa.Table,
    rules: dict[str, tuple[str, str | None]],
    run_id: str | None,
    fence_run_id: str | None = None,
    increment_retry: bool = False,
) -> tuple[pa.Table, pa.ChunkedArray]:
    """The one status/fence update over snapshot rows: a row whose key has a
    rule — under a fence only while it still carries ``fence_run_id`` —
    gets that rule's status and error, ``run_id`` (when given),
    retry_count+1 (when asked) and a fresh ``last_updated_at``. Returns the
    updated table and the per-row hit mask."""
    keys = list(rules)
    pos = pc.index_in(table["s3_key"], value_set=pa.array(keys, pa.string()))
    hit = pc.is_valid(pos)
    if fence_run_id is not None:
        hit = pc.and_(hit, pc.fill_null(pc.equal(table["run_id"], fence_run_id), False))

    def on_hit(value, name: str):
        return pc.if_else(hit, value, table[name])

    def per_rule(values: list, name: str):
        return on_hit(pc.take(pa.array(values, pa.string()), pos), name)

    retry = table["retry_count"]
    columns = {
        "s3_key": table["s3_key"],
        "file_size_bytes": table["file_size_bytes"],
        "status": per_rule([rules[k][0] for k in keys], "status"),
        "retry_count": (
            on_hit(pc.add(retry, pa.scalar(1, pa.int32())), "retry_count")
            if increment_retry
            else retry
        ),
        "error_message": per_rule([rules[k][1] for k in keys], "error_message"),
        "first_discovered_at": table["first_discovered_at"],
        "last_updated_at": on_hit(_now(), "last_updated_at"),
        "run_id": (
            on_hit(pa.scalar(run_id, pa.string()), "run_id")
            if run_id is not None
            else table["run_id"]
        ),
    }
    return pa.table(columns, schema=ARROW_SCHEMA), hit


# A runner that dies holding the lock must not wedge the fleet: locks whose
# mtime is older than this are broken. A LIVE holder heartbeats the lockfile
# mtime every LOCK_HEARTBEAT_S from a daemon thread, so lock age is decoupled
# from how long the critical section runs (register's join is a Spark job,
# and any write can far exceed a fixed budget under GC/FS stalls) — only a
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
    (see ``_break_if_stale``). ``_publish`` raises this BEFORE the pointer
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

    def _pointer_meta(self) -> dict:
        """The pointer's JSON dict; ``{}`` before the first publish. A
        pointer that is not JSON raises."""
        try:
            return json.loads(self._pointer.read_text())
        except FileNotFoundError:
            return {}

    def _current_parts(self) -> tuple[str | None, list[str]]:
        """(active_version, terminal_segments)."""
        meta = self._pointer_meta()
        return meta.get("active"), list(meta.get("terminal", []))

    def _data_files(self, dirname: str) -> list[Path]:
        """The parquet files of one snapshot dir, skipping ``_``/``.`` names
        as Spark's reader does (``_SUCCESS``, checksums, old sidecars)."""
        return sorted(
            p
            for p in (self.root / dirname).iterdir()
            if p.name.endswith(".parquet") and not p.name.startswith(("_", "."))
        )

    def _load(self, names: list[str], columns: list[str] | None = None) -> pa.Table:
        """The rows of snapshot dirs as one Arrow table — driver-side, no
        Spark job. Files of either writer are conformed to ARROW_SCHEMA (or
        to its ``columns``)."""
        schema = (
            ARROW_SCHEMA
            if columns is None
            else pa.schema([ARROW_SCHEMA.field(c) for c in columns])
        )
        parts = [
            _conform(
                pq.read_table(
                    f, columns=schema.names, coerce_int96_timestamp_unit="us"
                ),
                schema,
            )
            for n in names
            for f in self._data_files(n)
        ]
        return pa.concat_tables(parts) if parts else schema.empty_table()

    def _key_range(self, dirname: str) -> tuple[str, str] | None:
        """The s3_key range of a written parquet dir from its FOOTERS
        (:func:`datalakejson_spark.footers.dir_stats`). A missing dir or
        unreadable footer gives None: the range is then unknown."""
        try:
            return dir_stats(str(self.root / dirname), "s3_key")[0]
        except (OSError, ValueError):  # pyarrow's ArrowInvalid is a ValueError
            return None

    def _read_dirs(self, names: list[str]) -> DataFrame:
        paths = [str(self.root / n) for n in names]
        if not paths:
            return local_df(self.spark, [], LEDGER_SCHEMA)
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(*paths)

    def read(self) -> DataFrame:
        """The whole ledger as a Spark DataFrame (monitor, tools, tests)."""
        active, segs = self._current_parts()
        return self._read_dirs(([active] if active else []) + segs)

    # -- per-segment key ranges from the segment footers -------------------
    # A terminal segment is one parquet file whose footer already records the
    # min/max s3_key of its rows. This is the reference's
    # ``idx_processing_status``+pkey analogue for the terminal majority: a
    # commit-path probe over 10^8 terminal rows touches only segments whose
    # [min,max] s3_key range can contain a batch key, so probe cost tracks
    # batch locality instead of total history. A segment whose footer lacks
    # usable stats is conservatively probed.
    def _segs_for_keys(
        self, segs: list[str], kmin: str | None, kmax: str | None
    ) -> list[str]:
        """Segments whose footer key range can intersect [kmin, kmax];
        segments without usable footer stats are conservatively included."""
        if kmin is None or kmax is None:
            return []  # no keys — nothing can hit
        out = []
        for s in segs:
            r = self._key_range(s)
            if r is None or (r[0] <= kmax and kmin <= r[1]):
                out.append(s)
        return out

    def _owns_lock(self) -> bool:
        """Does the lockfile still carry this thread's mutex token? Outside a
        mutex (direct writes in tests/tools) there is nothing to verify."""
        token = getattr(self._held, "token", None)
        if token is None:
            return True
        try:
            return self._lockfile.read_text() == token
        except OSError:
            return False  # renamed/unlinked — dispossessed either way

    def _rewrite_all(self, table: pa.Table) -> None:
        """Full-state write (the rare path: a transition that moves a row
        out of a terminal segment). Splits ``table`` by status group into a
        fresh active part and ONE terminal segment, which also folds the
        accumulated segments. A state with
        zero terminal rows publishes no segment."""
        term = _is_terminal(table)
        self._publish(table.filter(pc.invert(term)), [], table.filter(term))

    def _write_dir(self, table: pa.Table, name: str) -> None:
        """Write one snapshot dir as a single parquet file, with the footer
        statistics that segment pruning reads."""
        d = self.root / name
        d.mkdir(exist_ok=True)
        pq.write_table(_conform(table), str(d / "part-00000.parquet"))

    def _publish(
        self,
        active: pa.Table,
        segments: list[str],
        new_segment: pa.Table | None = None,
    ) -> None:
        """Write the active part (and optionally one appended terminal
        segment), fold segments when over MAX_TERMINAL_SEGMENTS, then
        atomically swap the pointer and prune unreferenced dirs. The
        pointer's ``deferred_terminal`` is the exact count of terminal rows
        the written active part holds.

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
        self._write_dir(active, version)
        segs = list(segments)
        if new_segment is not None and new_segment.num_rows:
            # never reference an empty segment
            seg = f"t{ns}"
            self._write_dir(new_segment, seg)
            segs.append(seg)
        if len(segs) > MAX_TERMINAL_SEGMENTS:
            merged = f"t{ns}c"
            self._write_dir(self._load(segs), merged)
            segs = [merged]
        if not self._owns_lock():
            raise LedgerLockLost(
                f"ledger lock {self._lockfile} stolen mid-write; snapshot "
                f"{version} aborted before publish"
            )
        # Monotonic publish counter: read-increment under the mutex, so it
        # advances by exactly one per publish REGARDLESS of which machine's
        # clock minted the version name — the retirement grace counts these,
        # never wall-clock-derived names (see _prune).
        meta = self._pointer_meta()
        seq = int(meta.get("publish_seq", 0)) + 1
        atomic_write_text(  # atomic commit point
            str(self._pointer),
            json.dumps(
                {
                    "active": version,
                    "terminal": segs,
                    "deferred_terminal": pc.sum(_is_terminal(active)).as_py() or 0,
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
        (monitor counts, owned_by, register). Instead,
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
            if stamp is None:
                retired[p.name] = {"seq": seq}  # grace starts at retirement
                changed = True
            elif seq - stamp["seq"] >= keep:
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
    def register(
        self,
        discovered: DataFrame,
        on_succeeded: Callable[[list[str]], None] | None = None,
    ) -> int:
        """Idempotent insert of (s3_key, file_size_bytes) rows as PENDING —
        the ``ON CONFLICT DO NOTHING`` insert (J1; sudo_code.txt:90).
        Returns the number of newly registered files.

        One Spark left join of the listing against every ledger key (active
        and terminal, column-pruned to s3_key and status) collects only the
        rows the driver needs: the unknown keys, which are appended to the
        active part as PENDING, and the keys already SUCCEEDED. With
        ``on_succeeded``, the latter — files completed but still listed, the
        crash-after-commit-before-archive case — are passed to it after the
        publish, outside the mutex."""

        def body() -> tuple[int, list[str]]:
            active, segs = self._current_parts()
            names = ([active] if active else []) + segs
            listing = discovered.select("s3_key", "file_size_bytes")
            if names:
                known = self._read_dirs(names).select("s3_key", "status")
                listing = listing.join(known, "s3_key", "left").filter(
                    F.col("status").isNull()
                    | (F.col("status") == LedgerStatus.SUCCEEDED)
                )
            else:
                listing = listing.withColumn("status", F.lit(None).cast("string"))
            got = listing.toArrow()
            done = got.filter(pc.is_valid(got["status"]))["s3_key"]
            fresh = got.filter(pc.is_null(got["status"]))
            # a listing may name a key twice: keep its first row
            keys = fresh["s3_key"]
            fresh = fresh.take(pc.index_in(pc.unique(keys), value_set=keys))
            if fresh.num_rows:
                now = _now()
                n = fresh.num_rows
                rows = pa.table(
                    {
                        "s3_key": fresh["s3_key"],
                        "file_size_bytes": fresh["file_size_bytes"],
                        "status": pa.repeat(LedgerStatus.PENDING, n),
                        "retry_count": pa.repeat(pa.scalar(0, pa.int32()), n),
                        "error_message": pa.nulls(n, pa.string()),
                        "first_discovered_at": pa.repeat(now, n),
                        "last_updated_at": pa.repeat(now, n),
                        "run_id": pa.nulls(n, pa.string()),
                    },
                    schema=ARROW_SCHEMA,
                )
                current = self._load([active] if active else [])
                self._publish(pa.concat_tables([current, rows]), segs)
            return fresh.num_rows, sorted(set(done.to_pylist()))

        n_new, succeeded = self._retrying(body)
        if on_succeeded is not None and succeeded:
            on_succeeded(succeeded)
        return n_new

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
        ``idx_processing_status`` index, sudo_code.txt:49). The selection is
        a top-k over (first_discovered_at, s3_key) on the driver; no Spark
        job."""
        with self._mutex():
            active, segs = self._current_parts()
            current = self._load([active] if active else [])
            cutoff = pa.scalar(
                time.time_ns() // 1000 - int(stale_lease_s * 1_000_000), _TS
            )
            status = current["status"]
            claimable = current.filter(
                pc.or_(
                    pc.is_in(
                        status,
                        value_set=pa.array([LedgerStatus.PENDING, LedgerStatus.FAILED]),
                    ),
                    pc.and_(
                        pc.equal(status, LedgerStatus.PROCESSING),
                        pc.less(current["last_updated_at"], cutoff),
                    ),
                )
            )
            if not claimable.num_rows:
                return []
            oldest = pc.select_k_unstable(
                claimable,
                k=min(batch_size, claimable.num_rows),
                sort_keys=[("first_discovered_at", "ascending"), ("s3_key", "ascending")],
            )
            paths = claimable["s3_key"].take(oldest).to_pylist()
            rules = {p: (LedgerStatus.PROCESSING, None) for p in paths}
            updated, _hit = _transition(current, rules, run_id, increment_retry=True)
            self._commit_active(updated, segs)
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

        A DataFrame of keys is a bulk flip (operational tools): its first
        column is collected, then it transitions like a list."""
        if isinstance(paths, DataFrame):
            paths = paths.select(paths.columns[0]).toArrow().column(0).to_pylist()
        with self._mutex():
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

    def _transition_keys(
        self,
        groups: list[tuple[list[str], str, str | None]],
        run_id: str | None,
        fence_run_id: str | None,
        increment_retry: bool = False,
    ) -> list[str]:
        """Keyed transition (caller holds the mutex) on the driver.
        ``groups`` is [(paths, status, error), ...]; a key listed twice
        takes its first group.

        The active part is read whole (it is rewritten anyway); of the
        terminal segments only those whose footer key range can hold a
        batch key are read, column-pruned — O(batch) rows, never
        O(history). A row not carrying ``fence_run_id`` is fenced out (a
        lost claim) and returned to the caller. A moving row that lives in
        a terminal segment routes the update to the rare full rewrite;
        under a fence a segment row reclaimed-and-completed by another
        runner carries that runner's id and is fenced out, so a routine
        lease-expiry race never triggers an O(N) rewrite.

        A transition that moves no row (every key fenced out or unknown)
        writes nothing."""
        rules: dict[str, tuple[str, str | None]] = {}
        for paths, status, msg in groups:
            for p in paths:
                rules.setdefault(p, (status, msg))
        if not rules:
            return []
        active, segs = self._current_parts()
        current = self._load([active] if active else [])
        updated, hit = _transition(
            current, rules, run_id, fence_run_id, increment_retry
        )
        keys = pa.array(list(rules), pa.string())
        probed = self._load(
            self._segs_for_keys(segs, min(rules), max(rules)), ["s3_key", "run_id"]
        )
        in_segs = probed.filter(pc.is_in(probed["s3_key"], value_set=keys))
        if fence_run_id is None:
            fenced_out: list[str] = []
            segment_moves = in_segs.num_rows > 0
        else:
            seg_owned = pc.fill_null(pc.equal(in_segs["run_id"], fence_run_id), False)
            listed = pc.is_in(current["s3_key"], value_set=keys)
            fenced_out = (
                current.filter(pc.and_(listed, pc.invert(hit)))["s3_key"].to_pylist()
                + in_segs.filter(pc.invert(seg_owned))["s3_key"].to_pylist()
            )
            segment_moves = bool(pc.any(seg_owned).as_py())
        if segment_moves:
            everything = pa.concat_tables([current, self._load(segs)])
            self._rewrite_all(
                _transition(everything, rules, run_id, fence_run_id, increment_retry)[0]
            )
        elif pc.any(hit).as_py():
            self._commit_active(updated, segs)
        return fenced_out

    def _commit_active(self, updated: pa.Table, segs: list[str]) -> None:
        """Publish an updated ACTIVE part.

        Adaptive deferral (round 9): the split into an appended terminal
        segment is paid only once terminal rows exceed
        TERMINAL_SPLIT_MIN_FRAC of the active part. Below that — the
        all-PENDING backfill phase — the commit is one plain write and
        terminal rows ride along in the active part until the fraction
        crosses the threshold, at which point one segment write drains them
        all. The count is exact: the updated part is in driver memory."""
        term = _is_terminal(updated)
        n_term = pc.sum(term).as_py() or 0
        if n_term <= TERMINAL_SPLIT_MIN_FRAC * updated.num_rows:
            self._publish(updated, segs)
        else:
            self._publish(updated.filter(pc.invert(term)), segs, updated.filter(term))

    def owned_by(self, paths: list[str], run_id: str) -> set[str]:
        """The subset of ``paths`` whose ledger row currently carries
        ``run_id`` — i.e. claims this runner still holds. Read-only (no
        mutex needed: the authoritative check re-runs inside the fenced
        commit); used to skip side effects for already-reclaimed files.
        Reads the active part and the range-pruned segments."""
        if not paths:
            return set()
        active, segs = self._current_parts()
        names = ([active] if active else []) + self._segs_for_keys(
            segs, min(paths), max(paths)
        )
        rows = self._load(names, ["s3_key", "run_id"])
        mine = pc.and_(
            pc.is_in(rows["s3_key"], value_set=pa.array(paths, pa.string())),
            pc.fill_null(pc.equal(rows["run_id"], run_id), False),
        )
        return set(rows.filter(mine)["s3_key"].to_pylist())

    def counts(self) -> dict[str, int]:
        """Files per status, from the status column of every live dir."""
        active, segs = self._current_parts()
        status = self._load(([active] if active else []) + segs, ["status"])["status"]
        return {
            r["values"]: r["counts"] for r in pc.value_counts(status).to_pylist()
        }
