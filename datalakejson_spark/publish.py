"""The staged-publish protocol: the one implementation every persisted store
rides to make a multi-file write exactly-once under crashes and concurrent
runners (the write-side form of the reference's claim → process → commit,
sudo_code.txt:136-139).

A writer stages its files under ``<root>/_staging/<token>/`` and commits
them with :func:`commit_stage`; publishing is then a sequence of idempotent
file moves, so a crash at ANY point replays safely:

- no ``_COMMITTED`` marker → the stage is garbage (its batch replays and
  re-stages). It is swept once the newest mtime anywhere in its TREE is
  older than ``STALE_STAGE_S`` — the age guard keeps a concurrent runner's
  mid-write stage alive — and swept by atomic rename-then-recheck, so a
  commit racing the sweep is restored whole or fails loudly, never
  half-deleted;
- marker present → the moves are completed by the next publish pass before
  any reader looks. The marker carries a file manifest; a committed stage
  that lost a listed file (present at neither the stage nor the live
  layout) is a loud ``"corrupt"`` outcome, never a partial publish;
- a maintenance stage names the live files it replaces in
  ``_SUBSUMED.json``. They are deleted AFTER the moves, so the crash
  windows leave either the old layout or a temporarily duplicated one.
  Before its first move the publish checks that snapshot: a file already
  gone means a concurrent maintenance publish won, and this stage is
  discarded whole (``"lost"``). The ``_PUBLISHING`` marker is the point of
  no return — a replay that finds it always rolls FORWARD (missing subsumed
  files are then its own completed deletes).

Outcomes per stage: ``published``, ``lost``, ``pending`` (uncommitted, or
waiting on a slot), ``raced`` (another runner finished the same stage
under us) and ``corrupt``.

What differs between stores — the dedup index's checkpoint guard, sidecar
merge and lane flip; the ANN indexes' quantizer fences, meta flip and
applied-batch marker; each store's killpoint names — plugs in through a
:class:`Store` subclass. Local-filesystem renames; on an object store the
same contract is a staged prefix plus manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from datalakejson_spark.fsutil import atomic_write_json

STAGING = "_staging"
#: markerless (uncommitted) stages younger than this are left alone — they
#: may belong to a LIVE concurrent runner mid-stage, not a crashed one. A
#: crashed run's stage is garbage either way (its batch replays and
#: re-stages), so deferring the cleanup one grace period is free.
STALE_STAGE_S = 3600.0

_COMMITTED = "_COMMITTED"
_SUBSUMED = "_SUBSUMED.json"
_PUBLISHING = "_PUBLISHING"
_SWEEP_PREFIX = "_SWEEP-"
_SLOT_PREFIX = "_SLOT_"


class Store:
    """One persisted store as the protocol sees it: ``root`` holds the live
    layout and ``_staging``; staged files under ``<stage>/<data>`` publish
    to the same relative paths under ``<root>/<data>``. Every hook defaults
    to a plain additive store; subclasses override what their store needs.
    """

    #: serialize publishes of DIFFERENT stages on the ``PUBLISH`` slot: the
    #: subsumed-snapshot loser check is check-then-act, and two stages
    #: subsuming the same files could both pass it before either deletes
    serialize = False

    def __init__(self, root: str, data: str = "") -> None:
        self.root = root
        self.data = data
        self.staging = os.path.join(root, STAGING)

    def holds(self, stage: str) -> bool:
        """An uncommitted stage the age sweep must never reclaim."""
        return False

    def fenced(self, stage: str) -> bool:
        """A store-specific loser check, run with the snapshot check."""
        return False

    def lost(self, stage: str, missing: list[str]) -> None:
        """Called before a losing committed stage is discarded."""

    def publishing(self, stage: str) -> None:
        """Called past the point of no return, before the first move."""

    def flip(self, stage: str) -> str | None:
        """Called between the moves and the subsumed deletes; a returned
        outcome ends the publish there."""
        return None

    def finish(self, stage: str, moved: list[str], subsumed: list[str]) -> None:
        """Called after the deletes, before the stage is removed."""


# ---------------------------------------------------------------------------
# Writer side
# ---------------------------------------------------------------------------
def staged_files(root: str) -> list[str]:
    """Sorted relative paths of the parquet files under ``root``, skipping
    hidden (``_``/``.``-prefixed) directories such as committer scratch."""
    out: list[str] = []
    for cur, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel = os.path.relpath(cur, root)
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                out.append(name if rel == "." else os.path.join(rel, name))
    return sorted(out)


def commit_stage(stage: str, data: str = "") -> None:
    """Commit a stage: ``_COMMITTED`` holds the staged parquet paths
    (relative to ``<stage>/<data>``), written atomically so a torn marker
    never exists. The publisher verifies the manifest before any move."""
    atomic_write_json(
        os.path.join(stage, _COMMITTED),
        {"files": staged_files(os.path.join(stage, data))},
    )


def is_committed(stage: str) -> bool:
    return os.path.exists(os.path.join(stage, _COMMITTED))


def write_subsumed(stage: str, rels: list[str]) -> None:
    """Record the live files (relative to ``<root>/<data>``) this stage
    replaces. Written before :func:`commit_stage`."""
    os.makedirs(stage, exist_ok=True)
    atomic_write_json(os.path.join(stage, _SUBSUMED), sorted(rels))


def read_subsumed(stage: str) -> list[str]:
    """The stage's subsumed relpaths: the JSON list :func:`write_subsumed`
    wrote, or ``[]`` for a stage that subsumes nothing. Any other content
    raises ValueError before the publish moves anything."""
    try:
        with open(os.path.join(stage, _SUBSUMED)) as fh:
            doc = json.load(fh)
    except FileNotFoundError:
        if not os.path.isdir(stage):
            raise  # another runner finished the stage under us: "raced"
        return []
    if not isinstance(doc, list):
        raise ValueError(f"{stage}/{_SUBSUMED} is not a list of relpaths")
    return doc


def move_files(src: str, dst: str, rels: list[str]) -> list[str]:
    """Path-preserving idempotent moves of ``rels`` from ``src`` to
    ``dst``; returns the paths this call moved. A file already at its
    destination is done — either a replay of this publish or another
    runner finishing the same stage under us."""
    moved: list[str] = []
    for rel in rels:
        target = os.path.join(dst, rel)
        if os.path.exists(target):
            continue
        os.makedirs(os.path.dirname(target), exist_ok=True)
        try:
            os.replace(os.path.join(src, rel), target)
        except FileNotFoundError:
            if not os.path.exists(target):
                raise
            continue
        moved.append(rel)
    return moved


def error_condition(exc) -> str | None:
    """Best-effort error-class/condition of a PySpark exception (the name
    changed getErrorClass -> getCondition across 4.x)."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(exc, attr, None)
        if fn is not None:
            try:
                cond = fn()
            except Exception:  # pragma: no cover - defensive
                cond = None
            if cond:
                return cond
    return None


def is_missing_file_error(exc: Exception) -> bool:
    """True when a Spark job failed because an input file vanished under
    it — the signature of a CONCURRENT publish deleting a subsumed file
    between the reader's listing and its scan. Matched on the JVM
    exception text (the Python-visible class is a generic
    Py4JJavaError/SparkException)."""
    text = str(exc)
    return any(
        marker in text
        for marker in (
            "FileNotFoundException",
            "PATH_NOT_FOUND",
            "FILE_NOT_EXIST",
            "does not exist",
        )
    )


# ---------------------------------------------------------------------------
# Stale-stage sweep
# ---------------------------------------------------------------------------
def stage_newest_mtime(stage: str) -> float:
    """Newest mtime anywhere in the stage TREE — the sweep's age basis. A
    live stager writing a long batch keeps updating deep files (parquet
    parts under ``cells/cell=N/``) while the top dir's mtime stays at
    creation time; aging on the top mtime alone would sweep an ACTIVE
    write mid-flight. A stage vanishing under us reads as fresh.
    O(files-in-one-stage) per pass."""
    try:
        newest = os.path.getmtime(stage)
    except OSError:
        return time.time()
    for root, _dirs, files in os.walk(stage):
        for name in files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
            except OSError:
                continue
    return newest


def _reclaim_if_stale(stage: str) -> None:
    """Reclaim an aged-out uncommitted stage ATOMICALLY: rename it to a
    ``_SWEEP-`` claim first, re-check for a commit that raced in, and only
    then delete. A plain rmtree could interleave with the stager's own
    marker write: the marker lands on a half-deleted tree and the next
    publish rolls a PARTIAL batch forward. After the rename the stager's
    marker write fails ENOENT (loud, it re-stages); a marker that landed
    BEFORE the rename travels with the dir, and the stage is renamed back
    intact (the commit won)."""
    if time.time() - stage_newest_mtime(stage) < STALE_STAGE_S:
        return
    trash = os.path.join(
        os.path.dirname(stage), _SWEEP_PREFIX + os.path.basename(stage)
    )
    try:
        os.rename(stage, trash)
    except OSError:
        return  # vanished or another runner's claim: not ours to sweep
    if is_committed(trash):
        try:
            os.rename(trash, stage)  # commit won the race: restore whole
        except OSError:
            pass  # original name re-taken: leave the claim for rescue
        return
    shutil.rmtree(trash, ignore_errors=True)


def _settle_sweep_claim(staging: str, token: str) -> None:
    """Rescue or clear a ``_SWEEP-`` claim left by a sweeper that died
    between its rename and its re-check: a claim holding a commit marker
    is a committed stage in trash-limbo — rename it back under its original
    token (roll-forward work); anything else is the garbage the dead
    sweeper already judged it to be."""
    trash = os.path.join(staging, token)
    orig = os.path.join(staging, token[len(_SWEEP_PREFIX):])
    if is_committed(trash) and not os.path.exists(orig):
        try:
            os.rename(trash, orig)
        except OSError:
            pass  # raced with another rescuer: either terminal is fine
        return
    shutil.rmtree(trash, ignore_errors=True)


def _stages(staging: str):
    """(token, stage dir) for every stage in ``staging``, settling dead
    sweepers' claims on the way; slot claims are fence state, not stages."""
    if not os.path.isdir(staging):
        return
    for token in sorted(os.listdir(staging)):
        stage = os.path.join(staging, token)
        if not os.path.isdir(stage) or token.startswith(_SLOT_PREFIX):
            continue
        if token.startswith(_SWEEP_PREFIX):
            _settle_sweep_claim(staging, token)
            continue
        yield token, stage


# ---------------------------------------------------------------------------
# Slot claims
# ---------------------------------------------------------------------------
def claim_slot(root: str, slot: int | str, token: str) -> bool:
    """Atomically claim a named slot for one stage's publish: an os.mkdir
    (atomic on one filesystem) of ``_staging/_SLOT_<slot>`` holding the
    claiming stage's token. Rules:

    - fresh claim → ours;
    - claim holds OUR token → a previous (crashed) publish pass of this
      same stage: still ours, proceed;
    - claim holds another token whose stage DIR still exists → that
      publish is in flight (or committed and will roll forward): lost;
    - claim holds another token whose stage is GONE → stale: take over,
      with the takeover race itself decided by the atomic re-mkdir;
    - claim holds NO token (a crash between the mkdir and the token
      write): young claims are a live claimer mid-creation (lost), claims
      older than the stale-stage grace are debris — swept and re-raced.
    """
    claim = os.path.join(root, STAGING, f"{_SLOT_PREFIX}{slot}")
    for _attempt in range(3):
        try:
            os.mkdir(claim)
            with open(os.path.join(claim, "token"), "w") as fh:
                fh.write(token)
            return True
        except FileExistsError:
            try:
                with open(os.path.join(claim, "token")) as fh:
                    owner = fh.read().strip()
            except OSError:
                try:
                    age = time.time() - os.path.getmtime(claim)
                except OSError:
                    continue  # claim vanished under us: re-race the mkdir
                if age >= STALE_STAGE_S:
                    shutil.rmtree(claim, ignore_errors=True)
                    continue
                return False  # mid-creation by a live claimer: theirs
            if owner == token:
                return True
            if os.path.isdir(os.path.join(root, STAGING, owner)):
                return False  # live (or roll-forward-able) owner: lost
            shutil.rmtree(claim, ignore_errors=True)  # stale: take over
    return False


def release_slot(root: str, slot: int | str, token: str | None = None) -> None:
    """Release a slot claim — only one we own when ``token`` is given (a
    claim owned by another token is never touched); idempotent."""
    claim = os.path.join(root, STAGING, f"{_SLOT_PREFIX}{slot}")
    if token is not None:
        try:
            with open(os.path.join(claim, "token")) as fh:
                if fh.read().strip() != token:
                    return
        except OSError:
            return
    shutil.rmtree(claim, ignore_errors=True)


# ---------------------------------------------------------------------------
# Publisher side
# ---------------------------------------------------------------------------
def publish_staged(store: Store) -> dict[str, str]:
    """Roll every stage of ``store`` forward; ``{token: outcome}``."""
    outcomes: dict[str, str] = {}
    for token, stage in _stages(store.staging):
        try:
            outcomes[token] = publish_one(store, stage)
        except FileNotFoundError:
            # two runners rolling the SAME stage forward: the other one
            # published or discarded it between our checks and our reads —
            # either terminal state is complete on its own
            outcomes[token] = "raced"
    return outcomes


def await_publish(
    store: Store, token: str, attempts: int = 20, sleep_s: float = 0.05
) -> str:
    """Publish passes until the committed stage ``token`` reaches a terminal
    outcome ("raced" once another runner finished it). "pending" means a
    live competing publish held the store's slot past every attempt: the
    stage stays committed and a later publish pass finishes it, so a
    caller must NOT rerun its verb on top of it."""
    for _ in range(attempts):
        out = publish_staged(store).get(token, "raced")
        if out != "pending":
            return out
        time.sleep(sleep_s)
    return "pending"


def _destroyed_files(store: Store, stage: str) -> list[str]:
    """Manifest entries present at NEITHER the stage NOR the live layout.
    A replayed half-moved stage passes (its moved files exist live); only
    genuinely destroyed data reports. A marker that is not the
    ``{"files": [...]}`` manifest :func:`commit_stage` writes reports
    itself: nothing can verify that stage. A stage removed under the
    reader raises FileNotFoundError (``"raced"``)."""
    with open(os.path.join(stage, _COMMITTED)) as fh:
        try:
            files = json.load(fh)["files"]
        except (ValueError, TypeError, KeyError):
            files = None
    if not isinstance(files, list):
        return [_COMMITTED]
    src = os.path.join(stage, store.data)
    dst = os.path.join(store.root, store.data)
    return [
        rel
        for rel in files
        if not os.path.exists(os.path.join(src, rel))
        and not os.path.exists(os.path.join(dst, rel))
    ]


def publish_one(store: Store, stage: str) -> str:
    """Roll one stage forward; returns its outcome."""
    if not is_committed(stage):
        if not store.holds(stage):
            _reclaim_if_stale(stage)
        return "pending"
    if _destroyed_files(store, stage):
        shutil.rmtree(stage, ignore_errors=True)
        return "corrupt"
    if not store.serialize:
        return _roll_forward(store, stage)
    # a crash mid-publish leaves the claim owned by this stage's token; the
    # next pass over the SAME stage (any process) re-enters it by the
    # own-token rule and releases on completion
    token = os.path.basename(stage)
    if not claim_slot(store.root, "PUBLISH", token):
        return "pending"
    try:
        return _roll_forward(store, stage)
    finally:
        release_slot(store.root, "PUBLISH", token)


def _roll_forward(store: Store, stage: str) -> str:
    subsumed = read_subsumed(stage)
    publishing = os.path.join(stage, _PUBLISHING)
    if subsumed and not os.path.exists(publishing):
        # loser detection BEFORE this stage's own moves and deletes: its
        # outputs are valid only against the live snapshot it read
        missing = [
            rel
            for rel in subsumed
            if not os.path.exists(os.path.join(store.root, store.data, rel))
        ]
        if missing or store.fenced(stage):
            store.lost(stage, missing)
            shutil.rmtree(stage, ignore_errors=True)
            return "lost"
        with open(publishing, "w") as fh:
            fh.write("ok")
    store.publishing(stage)
    src = os.path.join(stage, store.data)
    live = os.path.join(store.root, store.data)
    moved = move_files(src, live, staged_files(src))
    verdict = store.flip(stage)
    if verdict is not None:
        return verdict
    for rel in subsumed:
        try:
            os.remove(os.path.join(live, rel))
        except FileNotFoundError:  # idempotent re-delete
            pass
    store.finish(stage, moved, subsumed)
    shutil.rmtree(stage, ignore_errors=True)
    return "published"
