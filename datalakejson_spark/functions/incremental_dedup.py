"""Incremental (cross-batch) deduplication against a persisted corpus index.

At 100 TB you never re-run all-pairs dedup when a new ingest batch arrives.
The scale-correct pattern is an *index + delta* loop:

1. The curated corpus maintains two side tables, written once and appended
   per batch: the exact-hash index (distinct ``md5(text)``, 32 bytes/doc)
   and the LSH band index (``(doc_id, band, band_hash)``,
   NUM_BANDS rows/doc — the same table ``dedup.band_table`` builds).
2. Each new micro-batch is decided on the driver: one job collects its
   text hashes and band rows, the driver drops within-batch copies, and
   one key-filtered scan of the range-pruned indexes returns only the
   colliding keys — exact collisions on the content hash, near collisions
   on ``(band, band_hash)`` buckets. Both key on fixed-width hashes, so
   document text never shuffles and the probe costs O(batch keys x rows
   per pruned file) regardless of corpus size. ``dedup_audit`` is the
   same audit as a Spark plan (two flipped broadcast semi-join probes),
   for deltas that are not driver-bounded.
3. Survivors' hashes/bands are appended to the indexes from the same
   collected rows — the loop invariant that keeps batch N+1 as cheap as
   batch N.

This is the row-level generalization of the reference's file-level
idempotency loop (``ON CONFLICT DO NOTHING`` per file, sudo_code.txt:90;
claim-process-commit, sudo_code.txt:136-139): same incremental contract, but
over document *content* instead of file paths.
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark import publish
from datalakejson_spark.footers import UNDECODABLE, _Undecodable, dir_stats
from datalakejson_spark.footers import footer_stats as _footer_stats
from datalakejson_spark.functions.dedup import (
    band_table,
    keep_first_distinct,
    minhash_signatures,
)
from datalakejson_spark.fsutil import atomic_write_json
from datalakejson_spark.plans.killpoints import fire
from datalakejson_spark.publish import STAGING as _STAGING
from datalakejson_spark.publish import (
    STALE_STAGE_S,
    error_condition,
    is_missing_file_error,
)
from datalakejson_spark.registry import register
from datalakejson_spark.session import local_df, sql_in
from datalakejson_spark.sources.tables import load_table

_LOG = logging.getLogger(__name__)

BAND_KEY = ["band", "band_hash"]
_INDEX_SUBDIRS = ("hashes", "bands")


def _read_index_pair(
    spark: SparkSession, index_dir: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Read the persisted index pair, bootstrapping ONLY when neither path
    exists yet (first batch). The failure taxonomy is deliberate:

    - both missing -> bootstrap empty (PATH_NOT_FOUND on both)
    - one missing, one present -> raise: a half-present pair means external
      tampering (the staged-commit publish below never leaves this state),
      and auditing with one blind index silently re-ingests dups
    - present but unreadable/empty dir (UNABLE_TO_INFER_SCHEMA, corrupt
      footer, I/O error) -> raise: auditing against an accidentally-empty
      index would re-admit the whole corpus as "novel"
    """
    from pyspark.errors import AnalysisException

    def _read(path: str) -> DataFrame | None:
        try:
            return spark.read.parquet(path)
        except AnalysisException as exc:
            if error_condition(exc) == "PATH_NOT_FOUND":
                return None
            raise
    hp, bp = (os.path.join(index_dir, s) for s in _INDEX_SUBDIRS)
    hashes, bands = _read(hp), _read(bp)
    if (hashes is None) != (bands is None):
        present = hp if hashes is not None else bp
        missing = bp if hashes is not None else hp
        raise RuntimeError(
            f"half-present dedup index pair: {present} exists but {missing} "
            "is missing. Refusing to audit with one blind index (it would "
            "silently re-ingest duplicates). Restore the missing index or "
            "remove both to rebuild from scratch."
        )
    if hashes is None:
        hashes = spark.createDataFrame([], "text_hash string")
        bands = spark.createDataFrame(
            [], f"{id_col} bigint, band int, band_hash string"
        )
    return hashes, bands


def _read_index_pair_pruned(
    spark: SparkSession,
    index_dir: str,
    id_col: str,
    hash_keys: list[str],
    band_keys: list[str],
) -> tuple[DataFrame, DataFrame, dict]:
    """Range-pruned index read for a MICRO-BATCH probe: given the delta's
    (bounded, sorted) key sets, read only the index files whose footer
    key range (cached in the stats sidecar) can contain a delta key. Sound
    by construction — a skipped file provably holds no delta key, so it can
    contribute neither exact- nor near-collisions; the audit result is
    byte-identical to the full read. Returns the pair plus a stats dict
    (``{sub: (files_scanned, files_total)}``) for observability.

    The swap happens per subdir only when pruning skips at least
    ``PRUNE_MIN_SKIP_FRACTION`` of the files: an explicit path-list read
    pays a parallel-listing job per root, which is pure overhead when the
    delta's keys hit most files anyway (big batches against few files).
    Small micro-batches against a compacted many-file index — the steady
    loop — clear the guard and scan O(keys x rows_per_file) instead of
    O(corpus).

    NULL keys (a null-text document hashes to NULL) are dropped from the
    pruning key set: a NULL join key matches nothing in either probe, so
    it cannot require any file — and a None in a sorted() of strings
    would otherwise poison the planning (review catch, round 11).

    Failure taxonomy driver-side (mirrors _read_index_pair, whose frames
    are NOT built here — constructing the directory DataFrames costs an
    eager O(files) listing per subdir per batch, exactly the term the
    pruning exists to avoid): both subdirs absent -> bootstrap empty;
    one absent -> raise half-present; present but emptied of parquet
    files -> raise rather than audit blind."""
    stats: dict[str, tuple[int, int]] = {}
    out: dict[str, DataFrame] = {}
    keys = {"hashes": hash_keys, "bands": band_keys}
    schemas = {
        "hashes": "text_hash string",
        "bands": f"{id_col} bigint, band int, band_hash string",
    }
    paths = {sub: os.path.join(index_dir, sub) for sub in _INDEX_SUBDIRS}
    exists = {sub: os.path.isdir(p) for sub, p in paths.items()}
    if not any(exists.values()):  # first batch: bootstrap empty pair
        return (
            spark.createDataFrame([], schemas["hashes"]),
            spark.createDataFrame([], schemas["bands"]),
            {sub: (0, 0) for sub in _INDEX_SUBDIRS},
        )
    if not all(exists.values()):
        present = next(p for s, p in paths.items() if exists[s])
        missing = next(p for s, p in paths.items() if not exists[s])
        raise RuntimeError(
            f"half-present dedup index pair: {present} exists but {missing} "
            "is missing. Refusing to audit with one blind index (it would "
            "silently re-ingest duplicates). Restore the missing index or "
            "remove both to rebuild from scratch."
        )
    for sub in _INDEX_SUBDIRS:
        live = paths[sub]
        key_set = sorted({k for k in keys[sub] if k is not None})
        selected, total = _prune_files(live, _PRUNE_KEY[sub], key_set)
        if total == 0:
            raise RuntimeError(
                f"dedup index dir {live} exists but holds no parquet files "
                "— auditing against an accidentally-emptied index would "
                "re-admit the whole corpus as novel. Restore it or remove "
                "BOTH index dirs to rebuild from scratch."
            )
        stats[sub] = (len(selected), total)
        # the fixed schema spares each read its schema-inference job
        reader = spark.read.schema(schemas[sub])
        if len(selected) > (1 - PRUNE_MIN_SKIP_FRACTION) * total:
            # not enough skippable to beat the explicit-list read's
            # per-root listing cost — plain directory read
            stats[sub] = (total, total)
            out[sub] = reader.parquet(live)
        elif not selected:
            out[sub] = spark.createDataFrame([], schemas[sub])
        else:
            out[sub] = reader.parquet(*(os.path.join(live, n) for n in selected))
    return out["hashes"], out["bands"], stats


class _DedupStore(publish.Store):
    """The index pair on the shared staged publish (:mod:`publish`):
    appends stage ``hashes/`` + ``bands/`` deltas; compaction, rebuild and
    major stages also carry a ``_SUBSUMED.json`` snapshot. Store steps:
    resumable rebuild/major checkpoints are never swept, a discarded
    committed stage is never silent, moved files warm the stats sidecar,
    and a rebuild stage's lane marker flips last."""

    def holds(self, stage: str) -> bool:
        # a multi-hour subdir write has no heartbeat that distinguishes it
        # from a crash: only the owning admin verb adopts or resets it
        return os.path.exists(os.path.join(stage, _REBUILD_META)) or os.path.exists(
            os.path.join(stage, _MAJOR_META)
        )

    def lost(self, stage: str, missing: list[str]) -> None:
        # Discarding must never be SILENT: the in-process rebuild_index
        # verifies its own outcome, but a rebuild that CRASHED after its
        # commit and is discarded here by a LATER entry point would
        # otherwise throw away hours of work with no operator signal. Warn
        # always, and leave a tombstone for a rebuild/major stage (a plain
        # file in the staging root — the publish loop only walks dirs).
        token = os.path.basename(stage)
        _LOG.warning(
            "discarding committed maintenance stage %s under %s as a "
            "publish-race loser (%d subsumed-snapshot files already "
            "gone, e.g. %s) — the concurrent winner's layout is live",
            token, self.root, len(missing), missing[0],
        )
        if token in (_REBUILD_STAGE, _MAJOR_STAGE):
            try:  # advisory observability only
                atomic_write_json(
                    os.path.join(self.staging, f"_LOST_{token}.json"),
                    {
                        "stage": token,
                        "discarded_at": time.time(),
                        "missing_subsumed": missing[:32],
                        "missing_count": len(missing),
                    },
                )
            except OSError:  # pragma: no cover - advisory
                pass

    def publishing(self, stage: str) -> None:
        fire("dedup:publish_publishing")  # marked: replay must roll forward
        for sub in _INDEX_SUBDIRS:
            os.makedirs(os.path.join(self.root, sub), exist_ok=True)

    def finish(self, stage: str, moved: list[str], subsumed: list[str]) -> None:
        # Warm the stats sidecar from the just-moved files' footers (page-hot
        # locally; on an object store this turns N per-probe footer GETs
        # after a compaction into zero). Advisory — a failed read just means
        # _file_stats heals the entry lazily later.
        adds: dict[str, dict] = {sub: {} for sub in _INDEX_SUBDIRS}
        gone: dict[str, list[str]] = {sub: [] for sub in _INDEX_SUBDIRS}
        for rel in moved:
            sub, name = rel.split("/", 1)
            try:
                rng, rows = _footer_stats(
                    os.path.join(self.root, rel), _PRUNE_KEY[sub]
                )
                adds[sub][name] = _encode_sidecar_entry(rng, rows)
            except Exception:  # noqa: BLE001
                pass
        for rel in subsumed:
            sub, name = rel.split("/", 1)
            gone[sub].append(name)
        for sub in _INDEX_SUBDIRS:
            if adds[sub] or gone[sub]:
                _merge_sidecar_cache(
                    os.path.join(self.root, sub), adds[sub], gone[sub]
                )
        # A REBUILD stage carries the new lane-definition marker; it replaces
        # the live one only after the new files are in and the subsumed
        # old-definition files are gone. Crash before it: the stage is still
        # committed and the next _publish_staged — which every entry point
        # runs BEFORE _check_lane_meta — finishes the flip, so the guard
        # never fires on a half-rebuilt index.
        staged_lanes = os.path.join(stage, _LANES_META)
        if os.path.exists(staged_lanes):
            try:
                os.replace(staged_lanes, os.path.join(self.root, _LANES_META))
            except FileNotFoundError:  # same-stage race: the other runner
                pass                   # flipped the marker already


def _publish_staged(index_dir: str) -> dict[str, str]:
    """Roll the staged index deltas forward into the live dirs; returns
    ``{stage_token: outcome}`` (see :mod:`publish`) so a maintenance
    caller can tell whether ITS stage took effect. Every entry point runs
    this first, so the pair can never stay half-appended (the failure mode
    where a replay sees its exact-hash but not its bands and develops a
    permanent near-dup blind spot)."""
    return publish.publish_staged(_DedupStore(index_dir))


def _publish_verified(
    index_dir: str, token: str, staged: list[str], verb: str
) -> None:
    """Publish a maintenance verb's own committed stage and VERIFY it took
    effect. The subsumed-snapshot check may discard the stage as a
    publish-race LOSER, or a concurrent runner may have raced us to it; a
    multi-hour rewrite silently thrown away would strand the operator on
    the OLD index with no signal. The staged names are unique to this
    stage, so "all live now" == "took effect" whichever runner moved
    them."""
    outcome = _publish_staged(index_dir).get(token)
    if outcome == "published":
        return
    missing = [r for r in staged if not os.path.exists(os.path.join(index_dir, r))]
    if missing:
        raise RuntimeError(
            f"{verb} lost a concurrent maintenance publish race "
            f"(outcome={outcome!r}, {len(missing)} staged files never went "
            "live) — the live index is the concurrent winner's layout; "
            "rerun, or stop concurrent maintenance and retry"
        )


# -- per-file key-range stats cache (round 11) ------------------------------
# The r10 probe flip made the audit's SHUFFLE O(batch), but every micro-batch
# still SCANNED the full band/hash index (5.01M rows in SQLMetrics at a
# 10^6-doc index; at 10^9 docs that is a full-index columnar scan every
# 15 minutes). The cure is the one the ledger's terminal segments use:
# per-FILE min/max of the probe key from the parquet footers
# (datalakejson_spark/footers.py), read driver-side at probe-planning time,
# so the scan touches only files whose key range can contain a delta key.
# md5 keys are uniform, so pruning only bites on files that are
# RANGE-SORTED by the key — which is exactly what compact_index now
# produces (repartitionByRange) — while the small since-last-compaction
# appends span the space and are always scanned; steady state = a handful
# of fresh appends + the few compacted files whose narrow range holds a
# delta key. Unlike the ledger's few segments, an index subdir can hold
# 10^6 files, so the footer answers are cached in a sharded ``_RANGES``
# sidecar (below). Advisory: a missing or unreadable sidecar/footer only
# means that file is scanned conservatively.
#: Use the pruned (explicit-file-list) read only when it skips at least
#: this fraction of the live files. An explicit list of N root paths costs
#: a parallel-listing Spark job of N tasks (spark fans the listing out past
#: sources.parallelPartitionDiscovery.threshold) — measured +2.7 s per
#: 1000-doc batch at a 979-file index where the delta's 4000 keys hit ~96%
#: of the files anyway. Below the guard the probe falls back to the plain
#: directory scan: zero planning overhead, and nothing was skippable.
PRUNE_MIN_SKIP_FRACTION = 0.5


#: in-process parsed-sidecar cache: {sidecar path: (mtime_ns, size, dict)}.
#: The decade-5 planning measurement (tools/dedup_probe_decade5_r13.jsonl)
#: found the per-batch JSON REPARSE is the first driver-side structure to
#: break on the file-count axis — ~11 s and ~1 GB of fresh allocations per
#: batch at 10^6 files (a 112 MB sidecar), while the listing and the bisect
#: pruning loop stay sub-second. The parse is now keyed by (mtime, size):
#: steady-state batches reparse only when a publish actually rewrote the
#: sidecar. Entries are replaced per path (one live parse per shard), and
#: the parsed dict is shared READ-ONLY — every consumer that mutates takes
#: a copy.
_SIDECAR_PARSE_CACHE: dict[str, tuple[int, int, dict]] = {}
#: merged view across sidecar shards, keyed per live_dir by the full
#: sidecar STATE tuple (every shard's (name, mtime_ns, size)) — when one
#: shard changes, its entries re-parse and the merge re-runs; nothing else
#: re-parses (round 14, the decade-6 fix).
_SIDECAR_MERGED_CACHE: dict[str, tuple[tuple, dict]] = {}
#: fully-materialized _file_stats results, keyed per live_dir by
#: (sidecar state, hash(listing)) — see _file_stats.
_STATS_RESULT_CACHE: dict[str, tuple[tuple, dict]] = {}


#: number of sidecar SHARDS (round 14 — the decade-6 fix designed in
#: SCALE.md, implemented): the stats sidecar is split into
#: ``_RANGES.<x>.json`` by the first hex char of md5(filename), so a
#: publish rewrites (and therefore re-parses) ONLY the shards holding
#: touched files — at the measured decade-6 point (10^7 entries) that
#: turns the 53 s / 1.2 GB whole-file reparse after every publish into a
#: ~1/16 reparse, while the merged READ view stays cached per sidecar
#: STATE (re-merged, not re-parsed, when any shard changes). Pure cache
#: throughout: losing or corrupting any shard only degrades that shard's
#: files to footer reads.
_RANGES_SHARD_CHARS = "0123456789abcdef"


def _shard_of(fname: str) -> str:
    import hashlib

    return hashlib.md5(fname.encode()).hexdigest()[0]


def _shard_file(ch: str) -> str:
    return f"_RANGES.{ch}.json"


def _sidecar_state(live_dir: str) -> tuple | None:
    """((name, mtime_ns, size), ...) for every sidecar shard present, or
    None when no shard exists. One listdir-free stat pass: the candidate
    names are fixed."""
    state = []
    for name in [_shard_file(c) for c in _RANGES_SHARD_CHARS]:
        try:
            st = os.stat(os.path.join(live_dir, name))
        except OSError:
            continue
        state.append((name, st.st_mtime_ns, st.st_size))
    return tuple(state) if state else None


def _sidecar_paths(live_dir: str) -> list[str]:
    """Full paths of every sidecar shard present — the shard-agnostic
    spelling tests and tools use to poke at the cache."""
    return [
        os.path.join(live_dir, name)
        for name, _m, _s in (_sidecar_state(live_dir) or ())
    ]


def _load_one_sidecar(path: str, mtime_ns: int, size: int) -> dict:
    """One sidecar FILE, parse-cached by the (mtime, size) the caller just
    stat'ed. Unreadable/odd content degrades to empty (advisory)."""
    import json

    hit = _SIDECAR_PARSE_CACHE.get(path)
    if hit is not None and hit[0] == mtime_ns and hit[1] == size:
        return hit[2]
    try:
        with open(path) as fh:
            raw = json.load(fh)
        parsed = raw if isinstance(raw, dict) else {}
    except (OSError, ValueError):
        parsed = {}
    _SIDECAR_PARSE_CACHE[path] = (mtime_ns, size, parsed)
    return parsed


def _load_sidecar_shared(live_dir: str) -> dict:
    """The MERGED stats-sidecar view across shards, cached per sidecar
    state. READ-ONLY: callers must not mutate the returned dict. When one
    shard changes, only that shard re-parses; the merge itself (a
    dict-update pass over already-parsed shards) re-runs — O(files) of
    pointer copies, not of JSON decode."""
    state = _sidecar_state(live_dir)
    if state is None:
        return {}
    hit = _SIDECAR_MERGED_CACHE.get(live_dir)
    if hit is not None and hit[0] == state:
        return hit[1]
    merged: dict = {}
    for name, mtime_ns, size in state:
        merged.update(
            _load_one_sidecar(os.path.join(live_dir, name), mtime_ns, size)
        )
    _SIDECAR_MERGED_CACHE[live_dir] = (state, merged)
    return merged


def _write_sidecar_file(live_dir: str, name: str, data: dict) -> None:
    """Advisory write of one sidecar shard through
    :func:`fsutil.atomic_write_json` (runner-unique tmp, atomic replace,
    and a sweep of the shard's aged orphan tmps; last-writer-wins on the
    file itself is fine — advisory cache). An EMPTY shard is removed
    rather than written."""
    path = os.path.join(live_dir, name)
    try:
        if data:
            atomic_write_json(path, data)
        else:
            os.remove(path)
    except OSError:
        pass


def _persist_sidecar_sharded(live_dir: str, desired: dict) -> None:
    """Make the persisted sidecar equal ``desired``, touching ONLY the
    shards whose content differs (the publish-granular invalidation the
    sharding exists for)."""
    by_shard: dict[str, dict] = {c: {} for c in _RANGES_SHARD_CHARS}
    for f, v in desired.items():
        by_shard[_shard_of(f)][f] = v
    state = {name: (m, s) for name, m, s in (_sidecar_state(live_dir) or ())}
    for ch in _RANGES_SHARD_CHARS:
        name = _shard_file(ch)
        if name in state:
            cur = _load_one_sidecar(
                os.path.join(live_dir, name), *state[name]
            )
        else:
            cur = {}
        if by_shard[ch] != cur:
            _write_sidecar_file(live_dir, name, by_shard[ch])


def _merge_sidecar_cache(live_dir: str, add: dict, remove: list[str]) -> None:
    """Best-effort advisory update of the stats sidecar at PUBLISH time:
    entries for just-moved files merge in (computed from their staged
    footers), entries for just-subsumed files drop out — rewriting ONLY
    the affected shards. Failure is harmless — _file_stats self-heals
    lazily from footers."""
    touched: dict[str, tuple[dict, set]] = {}
    for n in remove:
        touched.setdefault(_shard_of(n), ({}, set()))[1].add(n)
    for n, v in add.items():
        touched.setdefault(_shard_of(n), ({}, set()))[0][n] = v
    state = {name: (m, s) for name, m, s in (_sidecar_state(live_dir) or ())}
    for ch, (adds, removes) in touched.items():
        name = _shard_file(ch)
        cur = dict(
            _load_one_sidecar(os.path.join(live_dir, name), *state[name])
            if name in state
            else {}
        )
        for n in removes:
            cur.pop(n, None)
        cur.update(adds)
        _write_sidecar_file(live_dir, name, cur)


def _live_files(live_dir: str) -> list[str]:
    if not os.path.isdir(live_dir):
        return []
    return sorted(n for n in os.listdir(live_dir) if n.endswith(".parquet"))


def _file_stats(
    live_dir: str, column: str
) -> dict[str, tuple[tuple[str, str] | None, int | None]]:
    """Per-live-file (key range, num_rows), cached in the
    ``{live_dir}/_RANGES.<x>.json`` shards and self-healed from footers
    (:func:`datalakejson_spark.footers.footer_stats`): files the
    sidecar doesn't know (fresh appends, or a crash between publish and
    sidecar rewrite) are footer-read here and merged in; entries for files
    that no longer exist (compaction subsumed them) are dropped. The
    sidecar is a pure CACHE — never authoritative — so no crash window can
    make pruning or compaction policy unsound, only slower/conservative.
    Entry formats: ``[lo, hi, rows]``; ``{"rows": n}`` for a file whose
    footer is MISSING key stats (always scanned, rows still known);
    ``{"rows": n, "undecodable": true}`` for stats that exist but don't
    decode losslessly (see :class:`_Undecodable` — always scanned, never
    stats-repaired); a footer READ ERROR maps to ``(None, None)`` and is
    NOT cached (transient). Any other entry is treated as unknown and
    re-read."""
    cache = _load_sidecar_shared(live_dir)  # read-only; never mutated here
    files = _live_files(live_dir)
    # Result cache (decade-5, tools/dedup_probe_decade5_r13.jsonl): at 10^6
    # live files even the cache-hit rebuild of this dict is a multi-second
    # pure-python loop, and the steady loop calls _file_stats several times
    # per batch (pruned read x2 subdirs, compaction trigger, compaction
    # planning) against an IDENTICAL (sidecar, listing) state. Keyed by the
    # full sidecar STATE (every shard) + the listing tuple's hash, so any
    # publish (new files or rewritten shard) misses and recomputes.
    sc_state = _sidecar_state(live_dir)
    state_key = (
        (sc_state, hash(tuple(files))) if sc_state is not None else None
    )
    if state_key is not None:
        hit = _STATS_RESULT_CACHE.get(live_dir)
        if hit is not None and hit[0] == state_key:
            return hit[1]
    out: dict[str, tuple[tuple[str, str] | _Undecodable | None, int | None]] = {}
    transient: set[str] = set()
    misses = 0
    for f in files:
        v = cache.get(f)
        if isinstance(v, list) and len(v) == 3:
            out[f] = ((str(v[0]), str(v[1])), int(v[2]))
            continue
        if isinstance(v, dict) and "rows" in v:
            out[f] = (
                UNDECODABLE if v.get("undecodable") else None,
                int(v["rows"]),
            )
            continue
        misses += 1
        try:
            out[f] = _footer_stats(os.path.join(live_dir, f), column)
        except Exception:  # noqa: BLE001 — advisory: scan it, retry later
            out[f] = (None, None)
            transient.add(f)
    # Persist everything EXCEPT transient read failures (a null from a
    # failed read would otherwise be cached as "no usable stats" forever
    # and the file never pruned again — review catch, round 11; a
    # stats-LESS footer is permanent and is cached, with its row count).
    # Rewrite only on real change so steady-state probes don't touch it —
    # and when EVERY file hit the sidecar verbatim and none were dropped,
    # nothing can have changed, so the O(files) persist/compare pass is
    # skipped outright (the decade-5 warm path).
    if misses == 0 and len(cache) == len(out):
        if state_key is not None:
            _STATS_RESULT_CACHE[live_dir] = (state_key, out)
        return out
    persist = {
        f: _encode_sidecar_entry(rng, rows)
        for f, (rng, rows) in out.items()
        if f not in transient
    }
    if persist != {f: v for f, v in cache.items() if f in persist} or set(
        cache
    ) - set(persist):
        # per-shard diffed write: only the shards whose files changed are
        # rewritten (and will re-parse) — a fresh append touches one shard,
        # not the whole cache (the decade-6 fix)
        _persist_sidecar_sharded(live_dir, persist)
    if not transient:
        fresh_state = _sidecar_state(live_dir)
        if fresh_state is not None:
            _STATS_RESULT_CACHE[live_dir] = (
                (fresh_state, hash(tuple(files))),
                out,
            )
    return out


def _encode_sidecar_entry(
    rng: tuple[str, str] | _Undecodable | None, rows: int | None
):
    """JSON form of one stats-sidecar entry (see _file_stats formats)."""
    if isinstance(rng, tuple):
        return [rng[0], rng[1], rows]
    if rng is UNDECODABLE:
        return {"rows": rows, "undecodable": True}
    return {"rows": rows}


def _file_ranges(live_dir: str, column: str) -> dict[str, tuple[str, str] | None]:
    """Per-live-file key ranges for PRUNING (see _file_stats for cache
    semantics). The pruning view collapses UNDECODABLE to None — both mean
    "always scan this file"; only the repair/layout policy in compact_index
    distinguishes them (None is fixable by rewrite, UNDECODABLE is not)."""
    return {
        f: (rng if isinstance(rng, tuple) else None)
        for f, (rng, _rows) in _file_stats(live_dir, column).items()
    }


def _ranges_disjoint(ranges: dict[str, tuple[str, str] | None]) -> bool:
    """True when every file has a usable range and no two ranges overlap —
    i.e. the layout is already range-sorted and the pruning is armed.
    STRICT at the boundary (``hi1 < lo2``): two files sharing the exact
    boundary key — possible from direct-writer appends, never from
    repartitionByRange, which sends every copy of a key to one partition —
    are NOT a sorted run (ADVICE r11; probe pruning is per-file and stays
    sound either way, but the dirty-run check should not let a mildly
    overlapping run pass as clean)."""
    spans = sorted(r for r in ranges.values() if isinstance(r, tuple))
    if len(spans) != len(ranges):
        return False
    return all(hi1 < lo2 for (_, hi1), (lo2, _) in zip(spans, spans[1:]))


def _prune_files(
    live_dir: str, column: str, keys_sorted: list[str]
) -> tuple[list[str], int]:
    """(files that can contain a key, total live file count). A file is
    skipped only when its recorded [min,max] provably contains NO delta
    key; files without usable ranges are kept."""
    import bisect

    ranges = _file_ranges(live_dir, column)
    keep = []
    for f, rng in ranges.items():
        if rng is None:
            keep.append(f)
            continue
        lo, hi = rng
        i = bisect.bisect_left(keys_sorted, lo)
        if i < len(keys_sorted) and keys_sorted[i] <= hi:
            keep.append(f)
    return keep, len(ranges)


#: the probe key column each index subdir is range-compacted and pruned on
_PRUNE_KEY = {"hashes": "text_hash", "bands": "band_hash"}

#: consecutive race-aborted compactions per index_dir (this runner's view).
#: A LOST maintenance race is normal and self-healing — the winner's layout
#: is complete and the next trigger re-plans — but is_missing_file_error
#: matches on substrings (incl. the broad "does not exist"), so a PERSISTENT
#: non-race failure (manually deleted file, bad mount, an unrelated error
#: whose text matches) could masquerade as an endless lost race: every
#: compaction a silent no-op, runs growing unboundedly, nothing surfacing
#: (ADVICE r12). Each abort logs a warning; crossing the cap raises.
_COMPACT_ABORTS: dict[str, int] = {}
MAX_COMPACT_ABORTS = 5

# -- segmented (per-range) base maintenance (round 12) ----------------------
# The r11 tiered merge made the append tail O(appends), but a dirty BASE run
# (one oversized file, one stats-less file, an overlapping direct-writer
# pair) still rewrote the ENTIRE base — the last O(corpus) rewrite in the
# loop. Because the base is range-disjoint on the probe key, dirtiness is a
# per-FILE property: rewriting only the affected files (plus the disjoint
# siblings their ranges touch) restores every layout invariant while the
# rest of the base is never read or written. The rewritten output is RENAMED
# into the base generation's job UUID so the base remains ONE run for the
# run-count trigger and future merges.
#: segmented fold engages only when the fold set's ranges touch at most this
#: fraction of the base run's files — past it, a wholesale rewrite costs the
#: same and leaves a cleaner layout (uniform-key appends span the whole
#: space and always exceed this, falling back to the r11 new-generation
#: tiered path).
FOLD_MAX_TOUCH_FRACTION = 0.5
#: cap on per-subdir component writes per compaction (each component is its
#: own small Spark job; a fold set scattered into more pieces than this is
#: cheaper as one wholesale write)
MAX_FOLD_COMPONENTS = 16
#: cap on per-file min/max resolve jobs for stats-less repair files
MAX_RANGE_RESOLVES = 4


def _classify_base(
    run: list[str],
    ranges: dict[str, tuple[str, str] | None],
    rows: dict[str, int | None],
    target_rows_per_file: int,
) -> tuple[list[str], list[str], bool]:
    """Split the base generation into ``(kept, repair, ok)``: ``kept`` is a
    maximal range-disjoint subset of healthy files, ``repair`` is every file
    that violates a layout invariant — oversized (> 2x target), stats-less
    (rows known, range absent), 0-row, or overlapping a kept sibling
    (greedy by (lo, hi): the first file wins the range, later overlappers
    repair). ``ok=False`` when a TRANSIENT footer failure (rows unknown)
    makes per-file layout reasoning unsafe — the caller must then treat the
    base as one opaque clean run (never rewrite on a flaky read — the
    O(corpus) spiral the tiered design exists to avoid). An UNDECODABLE
    range (stats present but not losslessly UTF-8 — permanent for a binary
    key; a rewrite reproduces it) also returns ok=False: the file must NOT
    be repaired (ADVICE r12's rewrite-every-compaction loop), and with its
    true range unknowable the kept-set overlap reasoning is unsafe too."""
    if any(rows[f] is None or ranges[f] is UNDECODABLE for f in run):
        return list(run), [], False
    repair = {
        f
        for f in run
        if rows[f] == 0 or ranges[f] is None or rows[f] > 2 * target_rows_per_file
    }
    kept: list[str] = []
    prev_hi: str | None = None
    for (lo, hi), f in sorted(
        (ranges[f], f) for f in run if f not in repair
    ):
        if prev_hi is not None and lo <= prev_hi:
            repair.add(f)
        else:
            kept.append(f)
            prev_hi = hi
    return kept, sorted(repair), True


def _fold_components(
    kept: dict[str, tuple[str, str]],
    fold: dict[str, tuple[str, str]],
) -> tuple[list[list[str]], int]:
    """Connected components of range overlap over the fold files plus the
    kept base files their ranges touch. Each component must rewrite as one
    unit: its range-sorted output spans at most the component's hull, which
    by construction overlaps no file outside the component — so every
    untouched base file is provably disjoint from every output file and the
    base generation stays range-disjoint without being read. Pure-kept
    components (no fold member) are untouched and dropped. Overlap is
    inclusive (a shared boundary key connects) so no output can collide
    with a kept file even at the boundary. Returns
    ``(components, n_touched_kept)``."""
    ivals = sorted(
        (lo, hi, f, f in fold)
        for f, (lo, hi) in list(kept.items()) + list(fold.items())
    )
    comps: list[list[str]] = []
    touched = 0

    cur: list[tuple[str, bool]] = []
    cur_hi: str | None = None
    cur_fold = False

    def flush() -> None:
        nonlocal touched
        if cur and cur_fold:
            comps.append([f for f, _ in cur])
            touched += sum(1 for _, is_fold in cur if not is_fold)

    for lo, hi, f, is_fold in ivals:
        if cur and lo <= cur_hi:
            cur.append((f, is_fold))
            cur_hi = max(cur_hi, hi)
            cur_fold |= is_fold
        else:
            flush()
            cur, cur_hi, cur_fold = [(f, is_fold)], hi, is_fold
    flush()
    return comps, touched


def _resolve_ranges(
    spark: SparkSession,
    live: str,
    key: str,
    files: list[str],
    ranges: dict[str, tuple[str, str] | None],
    rows: dict[str, int | None],
) -> bool:
    """Fill in missing key ranges for a FEW known-row files via a one-file
    min/max aggregate each (the files are in the rewrite set already — this
    is O(repair bytes), never a hot-path scan). Mutates the caller's local
    ``ranges`` copy only (the sidecar cache is untouched: a footer with no
    stats stays cached as rows-only). Returns False when any range stays
    unknown — the caller falls back to the wholesale path. An UNDECODABLE
    range is never resolved here (a Spark string min/max over a
    lossily-decoded binary key would reproduce the unsound bound the
    sentinel exists to reject) — it forces the wholesale fallback too."""
    if any(ranges[f] is UNDECODABLE for f in files):
        return False
    unknown = [f for f in files if ranges[f] is None]
    if not unknown:
        return True
    if len(unknown) > MAX_RANGE_RESOLVES or any(rows[f] is None for f in unknown):
        return False
    for f in unknown:
        row = (
            spark.read.parquet(os.path.join(live, f))
            .agg(F.min(key), F.max(key))
            .first()
        )
        if row[0] is None:
            return False
        ranges[f] = (str(row[0]), str(row[1]))
    return True


def _next_part_idx(files: list[str], gen_uuid: str) -> int:
    """First free part index within a write generation (for renaming
    segmented-rewrite outputs into it)."""
    pat = re.compile(r"^part-(\d+)-" + re.escape(gen_uuid))
    mx = -1
    for f in files:
        m = pat.match(f)
        if m:
            mx = max(mx, int(m.group(1)))
    return mx + 1


_PART_UUID = re.compile(
    r"^part-\d+-([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})"
)


def derive_runs(files) -> list[list[str]]:
    """Group the live files into RUNS = write generations, identified by
    the job UUID every Spark write embeds in its part filenames
    (``part-NNNNN-<uuid>-c000...``) — no manifest to keep crash-consistent,
    and publishes preserve staged names. One compaction/rebuild output is
    one run (range-disjoint by construction: repartitionByRange); each
    per-batch append is its own run. Unrecognized names become singleton
    runs.

    A range-based chain partition was tried first and is a TRAP: greedy
    interval chaining happily splices an append into the middle of the
    half-built base chain (the append's start lies past the base's
    current end), so "smallest runs" ended up containing base files and
    the tiered merge rewrote parts of the base it promised not to touch.
    Generation identity is what the merge policy actually wants.

    This is the LSM view of the index: one big base run from the last
    full compaction, zero or more merged middle runs, and a tail of
    per-batch append runs. The run count bounds the probe's pruned scan
    (at most delta-keys files PER sorted run) and counts appends since
    the last merge; merging only the SMALLEST runs keeps write
    amplification O(appends) per trigger instead of O(corpus)."""
    groups: dict[str, list[str]] = {}
    for f in files:
        m = _PART_UUID.match(f)
        groups.setdefault(m.group(1) if m else f, []).append(f)
    return list(groups.values())


def compact_index(
    spark: SparkSession,
    index_dir: str,
    target_rows_per_file: int = 1_000_000,
    max_runs: int = 1,
) -> dict[str, tuple[int, int]]:
    """Rewrite enough of the live index pair to restore the layout
    invariants: at most ``max_runs`` sorted runs per subdir, every file
    range-sorted with usable stats, no file above ~2x
    ``target_rows_per_file`` rows. Returns
    ``{subdir: (files_before, files_after)}``.

    ``max_runs=1`` (default) is FULL compaction: everything merges into
    one range-disjoint run — right for offline maintenance and small
    indexes. ``max_runs>1`` is TIERED (LSM-style) compaction, the loop
    posture: only the SMALLEST runs merge (newest append tail first),
    so folding a day of micro-batch appends costs O(appends) — not the
    O(corpus) a full rewrite pays — while the base run is rewritten only
    when enough merged middle runs accumulate to reach it (geometric
    cascade: each row is rewritten O(log(corpus/batch)) times over its
    life). The probe prunes per FILE regardless of runs; its scan bound
    is ``delta keys x target_rows_per_file x n_runs``, so ``max_runs``
    trades write amplification against probe scans.

    ``target_rows_per_file`` is the probe-scan knob, not just a file-count
    knob: compacted files are range-DISJOINT on the probe key, so a
    micro-batch with K distinct keys touches at most K compacted files and
    the pruned audit scans ≈ ``K x target_rows_per_file`` rows PLUS the
    small since-last-compaction appends — constant in corpus size, where
    the unpruned scan is O(corpus). Size it for the batch you probe with:
    1M band rows ≈ 40-50 MB parquet (healthy object-store files), and a
    1000-doc delta (4000 band keys) then scans at most ~4x10^9 rows-worth
    of files no matter whether the index holds 10^7 or 10^10 documents.
    Smaller files buy proportionally smaller per-batch scans at the cost
    of file-count overhead.

    Every staged append publishes at least one new parquet file per
    subdir, so a 15-minute ingest cadence grows the index by thousands of
    small files per week — and the audit pays the file count every batch
    (measured: +45% audit wall time at 2048 files vs 32 on LOCAL fs at a
    10^6-doc index; object-store per-file opens make it far worse). Same
    disease, same cure as the ledger's small-file compaction.

    Crash safety rides the SAME staged-publish path the appends use, plus
    a ``_SUBSUMED.json`` manifest naming the exact live files the
    compacted set replaces (the read is pinned to that listed snapshot,
    not the directory). The compacted files move in BEFORE the subsumed
    originals are deleted, so every crash window leaves either the old
    layout (stage unmarked → swept) or a temporarily DUPLICATED index
    (marker present → _publish_staged finishes the moves AND the deletes
    before the next audit). Duplicate index rows are harmless to the
    semi-join probes — correctness is never in the window, only bytes.

    Segmented (per-range) base maintenance (round 12): the base generation
    is range-disjoint, so layout violations are per-FILE, not per-run — a
    dirty base no longer rewrites the corpus. Base files that are
    oversized, stats-less, 0-row, or overlap a sibling become REPAIR
    files; the fold set (repairs + dirty middles + cascade-folded runs)
    groups into connected components of range overlap together with the
    kept base files those ranges touch, each component rewrites alone,
    and the outputs are renamed into the base generation's job UUID — the
    base stays ONE run, untouched outside the affected ranges, and the
    rewrite cost is O(fold-set key span), not O(corpus). Uniform-key
    appends span the whole space, exceed ``FOLD_MAX_TOUCH_FRACTION``, and
    fall back to the r11 tiered path (new-generation output, base never
    read) — segmented mode engages exactly when it wins: repairing a
    bounded set of base files or folding a span-bounded delta.

    Concurrency posture (round 12): safe to run WHILE another runner
    audits+appends. A concurrent audit that catches a subsumed file
    vanishing mid-scan re-plans from a fresh listing
    (``is_missing_file_error`` retry in ingest_batch_dedup); two RACING
    maintenance publishes are fenced by the `_SUBSUMED` snapshot check in
    ``_publish_staged`` (the loser discards itself) plus stage-unique
    output names in the segmented path, so the worst surviving overlap is
    duplicated rows — harmless to the probes and folded away by the next
    repair. This side of the race is symmetric too: if a concurrent
    publish deletes a live file under THIS compaction's scan, the run
    aborts cleanly (stage removed, ``{}`` returned) instead of raising
    into its caller — the inline trigger runs inside streaming
    foreachBatch, where an escaped scan error would fail the query. Still
    run it from ONE maintenance runner by preference: a lost race is
    wasted work, never corruption.
    """
    import math

    _publish_staged(index_dir)  # complete any predecessor first
    _check_lane_meta(index_dir)
    stage = os.path.join(index_dir, _STAGING, uuid.uuid4().hex)
    subsumed: dict[str, list[str]] = {}
    counts: dict[str, tuple[int, int]] = {}
    try:
        for sub in _INDEX_SUBDIRS:
            live = os.path.join(index_dir, sub)
            files = _live_files(live)
            if not files:
                counts[sub] = (0, 0)
                continue
            key = _PRUNE_KEY[sub]
            # Ranges + per-file row counts from the same sidecar/footer cache —
            # driver-side metadata, no Spark job (layout decisions must
            # never cost a scan of the data they're about). A file whose
            # footer won't read gets rows=None (treated as target-sized for
            # the layout checks; never the reason for a rewrite on its own).
            stats = _file_stats(live, key)
            ranges = {f: rng for f, (rng, _r) in stats.items()}
            rows = {f: r for f, (_rng, r) in stats.items()}

            def run_rows(run: list[str]) -> int:
                # None (transient footer failure) -> assume target-sized;
                # a KNOWN 0-row file counts as 0 (`or` would inflate it)
                return sum(
                    target_rows_per_file if rows[n] is None else rows[n]
                    for n in run
                )

            runs = sorted(derive_runs(files), key=run_rows)
            # The BASE candidate is the largest generation; it gets per-FILE
            # classification (segmented repair). Every other generation keeps
            # the run-level rules: DIRTY — must rewrite regardless of run
            # count — when it has a stats-less file (unprunable until
            # rewritten; a TRANSIENT footer failure has rows=None and is NOT
            # dirty — it may read fine next call), an oversized file, more
            # files than its rows justify (fragmentation), or KNOWN ranges
            # that overlap (a direct-writer append is not a sorted run).
            base_run = runs[-1] if runs else []
            base_uuid_m = _PART_UUID.match(base_run[0]) if base_run else None
            base_uuid = base_uuid_m.group(1) if base_uuid_m else None
            base_kept: list[str] = []
            base_repair: list[str] = []
            if base_run and base_uuid is not None:
                kept, repair, ok = _classify_base(
                    base_run, ranges, rows, target_rows_per_file
                )
                # Fragmentation stays a whole-run property (scattered small
                # files can only be merged by rewriting across ranges): a
                # fragmented base takes the wholesale path, amortized like an
                # LSM major compaction.
                fragmented = ok and len(kept) > max(
                    1,
                    math.ceil(sum(rows[f] for f in kept) / target_rows_per_file),
                )
                if ok and not fragmented:
                    base_kept, base_repair = kept, repair
                    runs = runs[:-1]  # handled per-file, not as a run
            dirty: list[str] = []
            clean_runs: list[list[str]] = []
            for run in runs:
                oversized = any(
                    (rows[n] or 0) > 2 * target_rows_per_file for n in run
                )
                # The BASE candidate (largest run) is exempt from the
                # fragmentation criterion in TIERED mode (round 13): a
                # scattered-small-file base can only be cured by a
                # cross-range rewrite — O(corpus), which must never run
                # inline in the streaming loop. It is left clean here,
                # recorded in the fold history, and cured by the staged,
                # resumable major_compact_index admin verb (or an explicit
                # max_runs=1 full compaction, where the cascade folds the
                # base anyway).
                fragmented = not (max_runs > 1 and run is base_run) and len(
                    run
                ) > max(1, math.ceil(run_rows(run) / target_rows_per_file))
                statless = any(
                    ranges[n] is None and rows[n] is not None for n in run
                )
                # UNDECODABLE ranges are excluded like missing ones: they
                # can't witness a sort violation, and feeding the sentinel
                # to _ranges_disjoint would flag the run dirty forever
                known = {n: ranges[n] for n in run if isinstance(ranges[n], tuple)}
                unsorted = len(run) > 1 and len(known) > 1 and not _ranges_disjoint(known)
                if oversized or fragmented or statless or unsorted:
                    dirty.extend(run)
                else:
                    clean_runs.append(run)
            # Tiered merge: fold the SMALLEST clean runs (the append tail) into
            # the rewrite until the surviving run count fits max_runs. The base
            # joins only when the middle runs have grown past it — the
            # geometric cascade that keeps per-row write amplification
            # logarithmic instead of rewriting O(corpus) per trigger.
            if base_kept:
                clean_runs.append(base_kept)
            clean_runs.sort(key=run_rows)
            merge = dirty + base_repair
            while clean_runs and len(clean_runs) + (1 if merge else 0) > max_runs:
                folded = clean_runs.pop(0)
                if folded is base_kept:
                    base_kept = []  # the cascade reached the base: wholesale
                merge.extend(folded)
            if not merge:
                counts[sub] = (len(files), len(files))
                continue
            # 0-row files (e.g. all-duplicate replay appends — no key stats,
            # permanently statless) are subsumed WITHOUT writing: the publish
            # deletes them and the merge converges instead of re-emitting a
            # fresh empty file each call (review catch, round 11).
            zero = sorted(f for f in merge if rows[f] == 0)
            merge = [f for f in merge if rows[f] != 0]
            if not merge:
                if zero:
                    subsumed[sub] = zero
                counts[sub] = (len(files), len(files) - len(zero))
                continue
            # Segmented fold: resolve the few unknown fold ranges (a stats-less
            # repair file is about to be read anyway — one min/max job each),
            # group fold + touched-kept files into overlap components, and
            # engage only when the fold provably leaves most of the base alone.
            comps: list[list[str]] | None = None
            if base_kept and _resolve_ranges(spark, live, key, merge, ranges, rows):
                cand, touched = _fold_components(
                    {f: ranges[f] for f in base_kept},
                    {f: ranges[f] for f in merge},
                )
                if (
                    touched <= FOLD_MAX_TOUCH_FRACTION * len(base_kept)
                    and len(cand) <= MAX_FOLD_COMPONENTS
                ):
                    comps = cand
            if comps is not None:
                sub_stage = os.path.join(stage, sub)
                os.makedirs(sub_stage, exist_ok=True)
                next_idx = _next_part_idx(files, base_uuid)
                gone: set[str] = set(zero)
                out_files = 0
                for ci, comp in enumerate(comps):
                    comp_rows = sum(
                        target_rows_per_file if rows[f] is None else rows[f]
                        for f in comp
                    )
                    parts = max(1, math.ceil(comp_rows / target_rows_per_file))
                    tmp = os.path.join(stage, f"_{sub}.comp{ci}")
                    spark.read.parquet(
                        *(os.path.join(live, f) for f in comp)
                    ).repartitionByRange(parts, key).sortWithinPartitions(
                        key
                    ).write.mode("overwrite").parquet(tmp)
                    for name in _live_files(tmp):
                        # stage-unique suffix: two RACING compactions renaming
                        # into the same base generation must never collide on a
                        # name (an os.replace collision would silently replace
                        # the winner's rows with a different slice — data
                        # loss). With unique names the worst a lost publish
                        # race leaves is duplicated rows, which the probes
                        # tolerate and the next repair folds away; the
                        # _publish_staged loser check avoids even that in the
                        # common case.
                        os.replace(
                            os.path.join(tmp, name),
                            os.path.join(
                                sub_stage,
                                f"part-{next_idx:05d}-{base_uuid}-c000-"
                                f"{os.path.basename(stage)[:8]}.snappy.parquet",
                            ),
                        )
                        next_idx += 1
                        out_files += 1
                    shutil.rmtree(tmp, ignore_errors=True)
                    gone.update(comp)
                subsumed[sub] = sorted(gone)
                counts[sub] = (len(files), len(files) - len(gone) + out_files)
                continue
            # Wholesale path (no base, cascade reached the base, or the fold
            # spans most of it): one range-sorted rewrite into a NEW
            # generation. Range-sorting by the probe key makes compacted files
            # range-DISJOINT on uniformly-distributed md5 keys — what makes
            # the footer-range file pruning selective (an unsorted file always
            # spans ~the whole key space and can never be skipped).
            n_rows = sum(rows[n] or 0 for n in merge)
            df = spark.read.parquet(*(os.path.join(live, n) for n in merge))
            if any(rows[n] is None for n in merge):
                n_rows = df.count()  # fall back to a count job
            parts = max(1, math.ceil(n_rows / target_rows_per_file))
            subsumed[sub] = sorted(set(merge) | set(zero))
            df.repartitionByRange(parts, key).sortWithinPartitions(key).write.mode(
                "overwrite"
            ).parquet(os.path.join(stage, sub))
            counts[sub] = (len(files), len(files) - len(merge) - len(zero) + parts)
    except Exception as exc:  # noqa: BLE001 — narrowed below
        if not is_missing_file_error(exc):
            raise
        # A concurrent maintenance publish deleted a live file between
        # this compaction's listing and its scan: this run LOST the
        # race. Losing is wasted work, never corruption — the winner's
        # layout is complete, and the next trigger re-plans from a
        # fresh listing. Abort cleanly instead of failing the caller
        # (the inline trigger runs inside streaming foreachBatch) — but
        # never SILENTLY: a persistent non-race failure whose message
        # happens to match the missing-file markers must not be able to
        # masquerade as an endless lost race (ADVICE r12), so each abort
        # warns with its consecutive count and crossing MAX_COMPACT_ABORTS
        # in a row (per runner, per index_dir; any successful compaction
        # resets it) escalates to an error the operator sees.
        shutil.rmtree(stage, ignore_errors=True)
        n_aborts = _COMPACT_ABORTS.get(index_dir, 0) + 1
        _COMPACT_ABORTS[index_dir] = n_aborts
        _LOG.warning(
            "compact_index(%s) aborted as a maintenance-race loser "
            "(%d consecutive; raises at %d): %s",
            index_dir, n_aborts, MAX_COMPACT_ABORTS, exc,
        )
        if n_aborts >= MAX_COMPACT_ABORTS:
            raise RuntimeError(
                f"compact_index({index_dir}) aborted {n_aborts} consecutive "
                "times on missing-file errors — a genuinely lost concurrent "
                "race is transient, so this is likely a PERSISTENT failure "
                "(externally deleted file, bad mount, or an unrelated error "
                "whose text matches the race markers) masquerading as one. "
                f"Last error: {exc}"
            ) from exc
        return {}
    _COMPACT_ABORTS.pop(index_dir, None)  # planned cleanly: not a wedge
    if not subsumed:
        shutil.rmtree(stage, ignore_errors=True)
        _record_fold_history(index_dir, target_rows_per_file, max_runs, counts)
        return counts
    fire("dedup:compact_staged")  # no marker yet: crash = old layout wins
    # write_subsumed creates the stage dir: every subdir can take the
    # n_rows==0 subsume-without-write path (e.g. a tail of all-duplicate
    # replay batches, each appending a 0-row stats-less file, crosses
    # max_runs while nothing non-empty folds in), leaving no Spark write
    # to have created it
    publish.write_subsumed(
        stage, [f"{sub}/{n}" for sub, names in subsumed.items() for n in names]
    )
    publish.commit_stage(stage)
    fire("dedup:compact_committed")  # committed, not yet published
    _publish_staged(index_dir)
    _record_fold_history(index_dir, target_rows_per_file, max_runs, counts)
    return counts


_LANES_META = "_LANES.json"


def _current_lane_meta() -> dict:
    from datalakejson_spark.functions.dedup import BAND_ROWS, LANE_HEX, NUM_HASHES

    return {"num_hashes": NUM_HASHES, "lane_hex": LANE_HEX,
            "band_rows": BAND_ROWS}


def write_lane_meta(index_dir: str, force: bool = False) -> None:
    """Stamp ``index_dir`` with the CURRENT minhash lane definition. The
    staged-publish loop stamps bootstrapped indexes automatically; call
    this yourself only when building an index pair with the direct writers
    (``exact_hash_index(...).write`` / ``band_table(...).write`` — the
    bench and scale harnesses do), asserting "these files really were
    written under the current definition".

    Refuses to overwrite a marker recording a DIFFERENT definition unless
    ``force=True`` (review catch, round 10): a caller that habitually
    stamps before auditing would otherwise silently neutralize the
    lane-definition guard on an index built under another definition —
    the stamp is an assertion about how the FILES were written, and
    re-asserting a different definition over live files is exactly the
    drift the guard exists to catch. Re-stamping a MATCHING marker stays
    idempotent. ``force=True`` is for the rebuild path, where the files
    themselves are being rewritten under the current definition
    (:func:`rebuild_index`)."""
    import json

    os.makedirs(index_dir, exist_ok=True)
    meta_path = os.path.join(index_dir, _LANES_META)
    current = _current_lane_meta()
    if os.path.exists(meta_path) and not force:
        with open(meta_path) as fh:
            recorded = json.load(fh)
        if recorded != current:
            raise RuntimeError(
                f"refusing to re-stamp {index_dir}: existing {_LANES_META} "
                f"records lane definition {recorded}, this build uses "
                f"{current}. Stamping over it would neutralize the "
                "definition-drift guard on files written under the old "
                "definition — rebuild the index (rebuild_index) or pass "
                "force=True only if the files are KNOWN to match the "
                "current definition."
            )
    atomic_write_json(meta_path, current)


def _check_lane_meta(index_dir: str) -> None:
    """Refuse to audit with an index built under a DIFFERENT minhash lane
    definition (band hashes are md5 strings — definition drift is invisible
    in the data itself, and auditing across it silently disables near-dup
    detection for the whole pre-drift corpus).

    Adoption rules (review catch, round 10): the current definition is
    stamped only when the index is EMPTY (bootstrap — no parquet files in
    either subdir). A non-empty index with NO marker is refused, not
    adopted: it predates the marker (or was built by a direct writer that
    skipped :func:`write_lane_meta`), and its band hashes may encode ANY
    lane width — silently adopting would be exactly the blind spot this
    guard exists to prevent (the 16→32-bit widening shipped in the same
    change as the marker, so every pre-widening index is marker-less)."""
    import json

    current = _current_lane_meta()
    meta_path = os.path.join(index_dir, _LANES_META)
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            recorded = json.load(fh)
        if recorded != current:
            raise RuntimeError(
                f"dedup index at {index_dir} was built with minhash lane "
                f"definition {recorded}, but this build uses {current}. "
                "Auditing across a lane-definition change silently loses "
                "near-dup detection for the existing corpus — rebuild the "
                "index (reindex the corpus) or run the matching build."
            )
        return
    has_files = any(
        os.path.isdir(os.path.join(index_dir, sub))
        and any(
            n.endswith(".parquet")
            for n in os.listdir(os.path.join(index_dir, sub))
        )
        for sub in _INDEX_SUBDIRS
    )
    if has_files:
        raise RuntimeError(
            f"dedup index at {index_dir} has no {_LANES_META} definition "
            "marker but already contains index files — its minhash lane "
            "definition is unknown (it may predate the 32-bit lane "
            "widening). Rebuild the index under the current definition, or "
            "stamp it with write_lane_meta(index_dir) ONLY if you are "
            "certain it was built by this exact build."
        )
    write_lane_meta(index_dir)


_REBUILD_META = "_REBUILD.json"
#: fixed stage name so a killed rebuild is findable on the next call
_REBUILD_STAGE = "rebuild"


def rebuild_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_rows_per_file: int = 4_000_000,
    resume: bool = True,
) -> dict[str, int]:
    """Rebuild the index pair from the curated corpus under the CURRENT
    minhash lane definition — the executable answer to
    :func:`_check_lane_meta`'s refusal (a marker-less or definition-drifted
    index cannot be audited against; it must be re-derived from the
    documents it indexes). Returns ``{subdir: rows_written}``.

    RESUMABLE (round 12): at 10^9+ docs the rebuild is a multi-hour job,
    and restarting from zero after a crash at 80% doubles a day's outage.
    The stage lives under the FIXED name ``_staging/rebuild`` and carries
    a ``_REBUILD.json`` checkpoint marker (lane definition, layout knobs,
    corpus doc count); each subdir's parquet write is followed by an
    atomically-written ``_DONE_<sub>.json`` checkpoint recording its row
    count. A re-invocation with ``resume=True`` (default) adopts a
    matching in-progress stage and SKIPS every checkpointed subdir — only
    the unfinished one re-runs. A mismatched checkpoint (different corpus
    size, lane definition, or ``target_rows_per_file``) or
    ``resume=False`` resets the stage and starts clean. The stale-stage
    sweeper in ``_publish_staged`` never touches a ``_REBUILD.json``
    stage — a multi-hour subdir write has no heartbeat the sweeper could
    distinguish from a crash, so reclaiming it is the rebuild's own job.

    Crash safety rides the SAME staged publish as appends and compaction:
    both new indexes are written range-sorted into one stage with a
    ``_SUBSUMED.json`` manifest naming EVERY current live file (computed
    at COMMIT time, so appends that landed before the rebuild started are
    replaced too), plus the new ``_LANES.json`` marker; the
    ``_COMMITTED`` marker makes the whole replacement roll-forward-able.
    The publish moves the new files in, deletes the old-definition files,
    and flips the lane marker LAST — and because every entry point runs
    ``_publish_staged`` before ``_check_lane_meta``, a crash in any
    window self-heals on the next call instead of stranding the index
    behind the guard. The rebuild deliberately does NOT check the
    existing marker (rebuilding across a definition change is its
    purpose).

    Corpus-scale job by design (one pass over ``docs`` per subdir): run
    it offline, single-runner, like compaction. The output layout is the
    compacted one — few large files, range-disjoint on the probe keys —
    so the footer-range pruning is armed from the first post-rebuild
    audit.
    """
    import json
    import math

    stage = os.path.join(index_dir, _STAGING, _REBUILD_STAGE)
    meta_path = os.path.join(stage, _REBUILD_META)
    # Resume identity must capture corpus CONTENT, not just its size: a
    # same-count corpus whose texts changed (repair/replacement between
    # crash and resume) adopting a half-done checkpoint would publish a
    # MIXED pair — hashes from the old corpus, bands from the new — with
    # permanent audit blind spots and no error. The fingerprint is an
    # order-independent sum of per-doc md5 prefixes (<= 2^32 each, so the
    # long sum is exact past 10^9 docs), folded into the SAME aggregate
    # job as the count — no extra corpus pass.
    fp_col = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.col(text_col))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    n_docs, corpus_fp = docs.agg(
        F.count(F.lit(1)), F.sum(fp_col)
    ).first()
    ckpt_meta = {
        "lanes": _current_lane_meta(),
        "target_rows_per_file": target_rows_per_file,
        "id_col": id_col,
        "text_col": text_col,
        "n_docs": n_docs,
        "corpus_fp": corpus_fp,
    }
    # Adopt-or-reset BEFORE _publish_staged: a committed rebuild stage is
    # finished work the publish below rolls forward (nothing to resume);
    # an uncommitted one resumes only when its checkpoint matches THIS
    # call's corpus and knobs.
    if os.path.isdir(stage) and not publish.is_committed(stage):
        recorded = None
        try:
            with open(meta_path) as fh:
                recorded = json.load(fh)
        except (OSError, ValueError):
            pass
        if not resume or recorded != ckpt_meta:
            shutil.rmtree(stage, ignore_errors=True)
    _publish_staged(index_dir)  # complete any predecessor first
    os.makedirs(stage, exist_ok=True)
    if not os.path.exists(meta_path):
        atomic_write_json(meta_path, ckpt_meta)
    frames = {
        "hashes": lambda: exact_hash_index(docs, text_col),
        # NULL and empty texts get no band rows, as in the micro-batch
        "bands": lambda: band_table(
            minhash_signatures(
                docs.filter(F.length(text_col) > 0), text_col, id_col
            ),
            id_col,
        ),
    }
    rows = {"hashes": n_docs, "bands": n_docs * _num_bands()}
    written: dict[str, int] = {}
    for sub, make_df in frames.items():
        key = _PRUNE_KEY[sub]
        done_path = os.path.join(stage, f"_DONE_{sub}.json")
        if os.path.exists(done_path):  # checkpointed by a killed run
            with open(done_path) as fh:
                written[sub] = json.load(fh)["rows"]
            continue
        parts = max(1, math.ceil(rows[sub] / target_rows_per_file))
        make_df().repartitionByRange(parts, key).sortWithinPartitions(
            key
        ).write.mode("overwrite").parquet(os.path.join(stage, sub))
        # actual rows from the just-written footers (hashes are DISTINCT
        # md5, so the n_docs bound above is only the layout estimate)
        try:
            written[sub] = dir_stats(os.path.join(stage, sub), key)[1]
        except Exception:  # noqa: BLE001 — informational only
            written[sub] = rows[sub]
        atomic_write_json(done_path, {"rows": written[sub]})
        fire("dedup:rebuild_subdir_done")  # checkpoint: resume skips this sub
    publish.write_subsumed(
        stage,
        [
            f"{sub}/{n}"
            for sub in _INDEX_SUBDIRS
            for n in _live_files(os.path.join(index_dir, sub))
        ],
    )
    with open(os.path.join(stage, _LANES_META), "w") as fh:
        json.dump(_current_lane_meta(), fh)
    staged = publish.staged_files(stage)
    fire("dedup:rebuild_staged")  # no marker yet: crash = old index wins
    publish.commit_stage(stage)
    fire("dedup:rebuild_committed")  # committed, not yet published
    _publish_verified(index_dir, _REBUILD_STAGE, staged, "rebuild_index")
    return written


def _num_bands() -> int:
    from datalakejson_spark.functions.dedup import NUM_BANDS

    return NUM_BANDS


def exact_hash_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content-hash index of a corpus: one 32-byte row per unique
    text. The only shuffle key is the hash itself."""
    return docs.select(F.md5(text_col).alias("text_hash")).distinct()


def dedup_audit(
    delta: DataFrame,
    corpus_hashes: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_delta: bool = True,
) -> DataFrame:
    """Per-delta-document audit against the corpus indexes:
    ``(id, is_exact_dup, is_near_dup, kept)``, as one Spark plan. The
    micro-batch loop (:func:`ingest_batch_dedup`) makes the same decision
    on the driver; this plan serves l15 and audits of deltas too big to
    collect.

    ``is_exact_dup``: the text hash already exists in the corpus.
    ``is_near_dup``: at least one LSH band collides with a corpus document
    (exact dups are near dups too — identical text ⇒ identical bands).
    ``kept`` = no collision of either kind.

    Both probes are distinct-marker left joins (not ``leftsemi``) so one
    result frame carries the full audit; the marker tables contain only ids.

    Probe shape (round 10): a left-semi join can only broadcast its BUILD
    (right) side, so the obvious ``delta SEMI index`` probe shuffles the
    ENTIRE index every batch — O(corpus) shuffle per 15-minute drain, the
    exact break of the "batch N+1 as cheap as batch N" invariant (measured:
    audit shuffle grew linearly to ~the full band table at 10^6 indexed
    docs). The probe is therefore flipped into two broadcast stages:
    ``index SEMI broadcast(delta keys)`` streams the index scan through a
    broadcast hash probe (ZERO index shuffle) and emits only the colliding
    keys — then distinct'd (bounded by the DELTA's key count even when a
    degenerate hot bucket holds millions of corpus rows) and broadcast back
    against the delta. Per-batch cost: one index SCAN (irreducible without
    auxiliary pruning structures) + O(batch + collisions) shuffle.

    ``broadcast_delta`` (default True) forces the broadcast hints: every
    broadcast side is delta-derived, so the bound is the DELTA's key count
    — the right posture for a delta of one micro-batch
    (maxFilesPerTrigger). The hints bypass Spark's size
    safety, so a BULK caller whose delta is itself corpus-scale (a
    backfill re-audit of ~10^7+ documents → NUM_BANDS× that in band keys)
    must pass ``broadcast_delta=False``: the flipped orientation is kept
    (the small side stays on the build-right) but the planner/AQE chooses
    broadcast vs shuffle from actual sizes, degrading gracefully instead
    of exhausting the driver (review catch, round 10)."""
    maybe_bcast = F.broadcast if broadcast_delta else (lambda df: df)
    hashed = delta.select(F.col(id_col), F.md5(text_col).alias("text_hash"))
    hit_hashes = corpus_hashes.join(
        maybe_bcast(hashed.select("text_hash").distinct()),
        "text_hash",
        "leftsemi",
    ).distinct()
    exact_ids = (
        hashed.join(maybe_bcast(hit_hashes), "text_hash", "leftsemi")
        .select(id_col)
        .distinct()
        .withColumn("_e", F.lit(True))
    )
    # NULL and empty texts share one signature: they get no band rows, so
    # one indexed document cannot make every later one a near dup
    delta_bands = band_table(
        minhash_signatures(delta.filter(F.length(text_col) > 0), text_col, id_col),
        id_col,
    )
    hit_buckets = (
        corpus_bands.select(*BAND_KEY)
        .join(
            maybe_bcast(delta_bands.select(*BAND_KEY).distinct()),
            BAND_KEY,
            "leftsemi",
        )
        .distinct()
    )
    near_ids = (
        delta_bands.join(maybe_bcast(hit_buckets), BAND_KEY, "leftsemi")
        .select(id_col)
        .distinct()
        .withColumn("_n", F.lit(True))
    )
    return (
        delta.select(id_col)
        .join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_e", F.lit(False)).alias("is_exact_dup"),
            F.coalesce("_n", F.lit(False)).alias("is_near_dup"),
            (F.coalesce("_e", F.lit(False)) | F.coalesce("_n", F.lit(False)))
            .__invert__()
            .alias("kept"),
        )
    )


COMPACT_TARGET_ROWS_PER_FILE = 1_000_000


def autotune_target_rows_per_file(
    batch_docs: int,
    scan_budget_rows: int = 250_000_000,
    min_rows: int = 4_096,
    max_rows: int = 8_000_000,
) -> int:
    """Derive the probe-scan knob from the probe batch size (round 12).

    With a range-disjoint compacted layout, a micro-batch of D documents
    probes with K ≈ D x (NUM_BANDS + 1) distinct keys (D text hashes +
    D x NUM_BANDS band hashes; within-batch dedup and duplicate bands only
    shrink K), and each key can land in at most ONE compacted file — so
    the pruned audit scans ≈ K x target_rows_per_file rows, INDEPENDENT of
    corpus size (measured across index decades 10^5..10^8 rows,
    tools/dedup_index_curve*.jsonl; formula within a few % once file
    count >> K). Inverting it: given a per-batch scan budget,
    ``target_rows_per_file = scan_budget_rows / K``, clamped to sane file
    sizes — the floor keeps a huge batch from demanding a small-file
    explosion (past it the budget is simply not achievable at that batch
    size; shrink the trigger's batch instead), the ceiling caps the
    worst-case single-key scan and keeps parquet files in a healthy
    object-store size band."""
    keys = max(1, batch_docs) * (_num_bands() + 1)
    return max(min_rows, min(max_rows, scan_budget_rows // keys))


def _needs_compaction(
    index_dir: str, max_runs: int, target_rows_per_file: int
) -> bool:
    """Driver-side loop trigger, from the stats sidecar alone: too many
    runs (each per-batch append is its own write generation, so the run
    count IS appends-since-last-merge), a visibly fragmented run (a
    generation holding far more files than its rows justify; 4 files of
    slack keep the merge from re-triggering every batch), OR an oversized
    file (> 2x target — every probe key landing in it scans that many
    rows; since round 12 the triggered compaction repairs it SEGMENTALLY,
    splitting just that file, so detecting it here is O(file), not a
    corpus rewrite)."""
    import math

    for sub in _INDEX_SUBDIRS:
        stats = _file_stats(os.path.join(index_dir, sub), _PRUNE_KEY[sub])
        runs = derive_runs(stats)
        if len(runs) > max_runs:
            return True
        if any(
            rows is not None and rows > 2 * target_rows_per_file
            for _rng, rows in stats.values()
        ):
            return True

        def run_rows(run: list[str]) -> int:
            return sum(
                target_rows_per_file if stats[f][1] is None else stats[f][1]
                for f in run
            )

        runs.sort(key=run_rows)
        # base fragmentation (the LARGEST run) is the major-compaction
        # trigger's business (needs_major_compaction) — firing the inline
        # tiered loop on it would spin forever, since the tiered fold
        # deliberately never rewrites the base (round 13)
        for run in runs[:-1]:
            if len(run) > max(4, math.ceil(run_rows(run) / target_rows_per_file)):
                return True
    return False


#: default compaction trigger for the ingest loop: tier-merge when either
#: live subdir exceeds this many SORTED RUNS (derived from the _RANGES
#: sidecar — each per-batch append is its own full-span run, so runs count
#: appends-since-last-merge without any persisted baseline; a big corpus's
#: compacted base is ONE run no matter how many files it holds). A 15-min
#: cadence crosses this every ~2 hours; the triggered merge folds only the
#: smallest runs (the tail), so its cost is O(appends), not O(corpus).
COMPACT_MAX_RUNS = 8


def ingest_batch_dedup(
    spark: SparkSession,
    delta: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    on_kept=None,
    compact_max_runs: int | None = COMPACT_MAX_RUNS,
    compact_target_rows_per_file: int | None = None,
) -> DataFrame:
    """One loop iteration over a parquet-persisted index pair under
    ``index_dir`` (``hashes/``, ``bands/``): dedup within the batch, probe
    the remainder against the indexes, deliver the survivors, THEN append
    their hashes/bands. Returns the surviving rows (full columns).

    ``on_kept``: optional callable invoked with the survivor DataFrame
    BETWEEN the audit decision and the index appends — the downstream
    (curated) write belongs there. Ordering is load-bearing for crash
    safety: if the process dies after ``on_kept`` but before the index
    appends, a replay re-audits the same documents against UNCHANGED
    indexes, keeps the same survivors, and re-runs ``on_kept`` — a
    duplicate delivery (resolvable by a replay stamp, see
    streaming/dedup_stream.py). The reverse order (indexes first) would
    make the replayed batch collide with its OWN index rows, drop every
    document, and lose the batch permanently.

    First call bootstraps empty indexes; ONLY a missing index path
    (errorClass PATH_NOT_FOUND, on both paths) falls back to the bootstrap —
    a half-present pair, an emptied dir, or any other read failure raises,
    because auditing against accidentally-empty indexes would silently
    re-ingest the whole corpus as "novel" (see _read_index_pair_pruned).

    The two index appends commit atomically-in-effect: both deltas are
    staged under ``{index_dir}/_staging/<token>/`` with a ``_COMMITTED``
    marker, then published by idempotent file moves (_publish_staged). Each
    call first rolls forward any committed-but-unpublished stage from a
    crashed predecessor, so the hash and band indexes can never drift apart.

    The decision is planned on the driver; the delta must be one bounded
    micro-batch. One job collects each document's text hash and LSH band
    rows (the shingle→minhash pipeline runs once, in Spark). The driver
    drops within-batch near dups — every id above the minimum id of its
    ``(band, band_hash)`` bucket — and probes the index with the
    survivors' keys: one scan of the range-pruned index files (only files
    whose cached footer key range can hold a key), filtered by an ``IN``
    list of text hashes and a broadcast semi-join on the band keys,
    collecting only the distinct colliding keys.
    A survivor with no colliding key is kept, and both index appends are
    written from the collected rows. A corpus-scale backfill goes through
    :func:`rebuild_index` instead.

    Compaction is loop POLICY, not a manual facade call (round 11): after
    the appends publish, if either live subdir holds more than
    ``compact_max_runs`` sorted runs (derived from the range sidecar —
    each per-batch append is its own full-span run, so the run count IS
    "appends since the last merge", while the compacted base stays ONE
    run however many files it holds), a TIERED :func:`compact_index`
    (``max_runs = compact_max_runs // 2``) folds the smallest runs — the
    append tail — into one sorted run. Cost per trigger is O(appends),
    never the O(corpus) a full rewrite pays; the base run is touched only
    when merged middle runs grow past it (geometric cascade). The trigger
    decision is driver-side metadata (cached ranges + a footer read per
    fresh append) — never a Spark job — and the compaction rides the same
    staged ``_COMMITTED``/``_SUBSUMED`` publish, so every kill window
    stays old-layout-or-harmless-duplication. Pass ``None`` to disable
    (bulk backfills that compact once at the end with ``max_runs=1``).
    """
    _publish_staged(index_dir)  # roll forward a crashed predecessor first
    _check_lane_meta(index_dir)
    uniq = keep_first_distinct(delta, text_col, id_col).localCheckpoint(
        eager=False
    )
    # Spread the micro-batch across the cluster before the per-row
    # pipeline: the checkpointed uniq frame is typically 1-2 post-AQE
    # partitions (a micro-batch), which would run the whole shingle
    # pipeline on one core; a micro-batch stays micro at any corpus scale,
    # so the exchange is O(batch) by contract (measured 1.5× on the
    # pipeline job; bit-identical — min/band aggregates are per-document).
    spread = uniq.repartition(
        delta.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    # ONE job materializes uniq and runs the shingle→minhash pipeline once:
    # a tagged union of each doc's text hash (band -1) and its band rows.
    # Only non-empty texts get band rows, as in dedup_audit.
    rows = (
        uniq.select(id_col, F.md5(text_col).alias("k"), F.lit(-1).alias("band"))
        .unionAll(
            band_table(
                minhash_signatures(
                    spread.filter(F.length(text_col) > 0), text_col, id_col
                ),
                id_col,
            ).select(id_col, F.col("band_hash").alias("k"), "band")
        )
        .collect()
    )
    rows = [r for r in rows if r[0] is not None]  # a NULL id is never kept
    text_hash = {r[0]: r[1] for r in rows if r[2] < 0}
    doc_bands = [(r[0], r[2], r[1]) for r in rows if r[2] >= 0]
    # Within-batch near dups: every id above the minimum id of its
    # (band, band_hash) bucket — the higher id of each colliding pair.
    bucket_min: dict = {}
    losers = set()
    for doc, band, h in sorted(doc_bands, key=lambda b: b[0]):
        if h is not None and bucket_min.setdefault((band, h), doc) != doc:
            losers.add(doc)
    survivors = [doc for doc in text_hash if doc not in losers]
    survivor_bands = [b for b in doc_bands if b[0] not in losers]
    hash_keys = sorted({text_hash[d] for d in survivors} - {None})
    band_keys = sorted({(b, h) for _d, b, h in survivor_bands if h is not None})
    # The probe reads a SNAPSHOT of the live index files; a CONCURRENT
    # maintenance publish (compaction/rebuild on another runner) may delete
    # a subsumed file mid-job, failing the read with a missing-file error.
    # The probe is pure (nothing is written until the decision is made), so
    # the fix is a bounded re-plan from a fresh listing — the publish is
    # driver-side file moves, so a second snapshot is consistent with
    # overwhelming probability.
    for attempt in range(3):
        try:
            corpus_hashes, corpus_bands, stats = _read_index_pair_pruned(
                spark, index_dir, id_col, hash_keys, [h for _b, h in band_keys]
            )
            if not any(scanned for scanned, _total in stats.values()):
                hits = set()  # bootstrap, or every index file pruned away
                break
            # A parsed IN list costs Catalyst time linear in its length (~1 s
            # per 20k keys), so the band keys — four per document — ride a
            # broadcast semi-join against a driver-built local relation. The
            # text hashes stay an IN list: a second broadcast would be a
            # second job. distinct bounds the collect by the batch's own keys
            # even when the index holds a hot bucket.
            hits = {
                (r.band, r.k)
                for r in corpus_hashes.filter(sql_in("text_hash", hash_keys))
                .select(F.lit(-1).alias("band"), F.col("text_hash").alias("k"))
                .unionAll(
                    corpus_bands.select("band", F.col("band_hash").alias("k")).join(
                        F.broadcast(local_df(spark, band_keys, "band int, k string")),
                        ["band", "k"],
                        "leftsemi",
                    )
                )
                .distinct()
                .collect()
            }
            break
        except Exception as exc:  # noqa: BLE001 — retried narrowly below
            if attempt == 2 or not is_missing_file_error(exc):
                raise
    dups = {d for d in survivors if (-1, text_hash[d]) in hits} | {
        d for d, band, h in survivor_bands if (band, h) in hits
    }
    kept_ids = [d for d in survivors if d not in dups]
    # The decision is a literal id list over the checkpointed batch, so the
    # appends below — which refresh the very paths the probe read — cannot
    # re-run it against an index that already holds the survivors' own
    # hashes (a plan over the index would be recomputed by the
    # CacheManager's recacheByPath and collapse the batch to empty).
    kept = uniq.filter(sql_in(id_col, kept_ids))
    if on_kept is not None:
        on_kept(kept)
    stage = os.path.join(index_dir, _STAGING, uuid.uuid4().hex)
    # Both appends are built from the collected rows, ONE file per lane per
    # batch (every file is a footer the pruned probe must consider); a
    # null-text survivor still contributes its NULL hash row, as
    # exact_hash_index does.
    hashes = local_df(spark, [(text_hash[d],) for d in kept_ids], "text_hash string")
    hashes.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "hashes"))
    fire("dedup:after_hash_stage")  # half-staged pair: must never publish
    kept_set = set(kept_ids)
    bands = local_df(
        spark,
        [b for b in survivor_bands if b[0] in kept_set],
        f"`{id_col}` {uniq.schema[id_col].dataType.simpleString()}, "
        "band int, band_hash string",
    )
    bands.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "bands"))
    fire("dedup:before_commit_marker")  # both staged, marker missing
    publish.commit_stage(stage)
    fire("dedup:after_commit_marker")  # committed, not yet published
    _publish_staged(index_dir)
    # one resolution shared by the trigger AND the triggered compaction —
    # two spellings of the default here could silently diverge and leave
    # the trigger firing every batch against a compaction that never
    # satisfies it (review catch, round 12)
    target_rows = compact_target_rows_per_file or COMPACT_TARGET_ROWS_PER_FILE
    if compact_max_runs is not None and _needs_compaction(
        index_dir, compact_max_runs, target_rows
    ):
        compact_index(
            spark,
            index_dir,
            target_rows_per_file=target_rows,
            max_runs=max(1, compact_max_runs // 2),
        )
    return kept


# --------------------------------------------------------------------------
# Registered oracle query: corpus = doc_id % 4 != 0, delta = doc_id % 4 == 0
# --------------------------------------------------------------------------
_L15_SQL = """
    WITH tok AS (
        SELECT doc_id, doc_id % 4 = 0 AS is_delta, string_split(text, ' ') AS w
        FROM documents
    ),
    shingled AS (
        SELECT doc_id, is_delta, unnest(list_distinct({shingles})) AS shingle
        FROM tok
    ),
    hashed AS (
        SELECT doc_id, is_delta, md5(shingle) AS h FROM shingled
    ),
    sigs AS (
        SELECT doc_id, max(is_delta) AS is_delta,
           {minhash_aggs}
        FROM hashed
        GROUP BY doc_id
    ),
    bands AS (
        {bands_union}
    ),
    exact_ids AS (
        SELECT DISTINCT d.doc_id
        FROM documents d
        JOIN documents c ON md5(d.text) = md5(c.text) AND c.doc_id % 4 <> 0
        WHERE d.doc_id % 4 = 0
    ),
    near_ids AS (
        SELECT DISTINCT d.doc_id
        FROM bands d
        JOIN bands c ON d.band = c.band AND d.band_hash = c.band_hash
                    AND NOT c.is_delta
        WHERE d.is_delta
    )
    SELECT t.doc_id,
           t.doc_id IN (SELECT doc_id FROM exact_ids) AS is_exact_dup,
           t.doc_id IN (SELECT doc_id FROM near_ids) AS is_near_dup,
           t.doc_id NOT IN (SELECT doc_id FROM exact_ids)
               AND t.doc_id NOT IN (SELECT doc_id FROM near_ids) AS kept
    FROM documents t WHERE t.doc_id % 4 = 0
"""


def _l15_sql() -> str:
    from datalakejson_spark.functions import dedup

    bands_union = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, is_delta, {band} AS band, {expr} AS band_hash FROM sigs"
        for band, expr in dedup._BAND_EXPRS
    )
    return _L15_SQL.format(
        shingles=dedup._DUCK_SHINGLES,
        minhash_aggs=dedup._MINHASH_AGGS,
        bands_union=bands_union,
    )


@register("l15_incremental_dedup", survey="L1,L2,J2", extended=True, sql=_l15_sql())
def l15_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup demo on a deterministic corpus/delta split of the
    documents table (delta = every 4th doc): the audit every new batch gets
    before entering the curated lake. The oracle reproduces both probes —
    exact content-hash collision and LSH band collision — with the
    byte-identical md5 pipeline, so the kept/dropped decision for every delta
    document is verified cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    corpus_bands = band_table(minhash_signatures(corpus))
    # broadcast_delta=False: this demo's "delta" is 25% of the corpus —
    # corpus-PROPORTIONAL, not a bounded micro-batch — so forcing the
    # broadcast hints would collect corpus-scale band keys to the driver at
    # large sf. The flipped probe orientation is preserved; the planner/AQE
    # picks broadcast vs shuffle from actual sizes (the bulk-backfill
    # posture the dedup_audit docstring prescribes).
    return dedup_audit(
        delta, exact_hash_index(corpus), corpus_bands, broadcast_delta=False
    )


# -- fragmented-base MAJOR compaction (round 13) -----------------------------
# The tiered loop deliberately never rewrites the base run, so scattered
# small base files (accumulated segmented repairs and narrow folds) are the
# one layout disease the loop cannot cure — the last amortized O(corpus)
# event in the index lifecycle. The cure is an explicit, staged, RESUMABLE
# admin verb (major_compact_index), and its trigger is derived from the
# MEASURED fold history — fragmentation that persisted across several
# completed tiered folds — never from total file count (a big corpus
# legitimately holds many files; the r11 trap).
_FOLD_HISTORY = "_FOLDS.jsonl"
_MAJOR_META = "_MAJOR.json"
_MAJOR_STAGE = "major"
#: the major trigger fires only when this many CONSECUTIVE completed folds
#: all left the base fragmented — one noisy reading never costs a corpus
#: rewrite.
MAJOR_MIN_PERSIST = 3


def _base_frag_excess(
    stats: dict, target_rows_per_file: int
) -> tuple[int, int, int]:
    """(files, rows, excess) for the LARGEST run in one subdir's stats:
    ``excess`` = files beyond what the run's rows justify at the target
    (mirrors _needs_compaction's 4-file slack), >0 = fragmented."""
    import math

    runs = derive_runs(stats)
    if not runs:
        return 0, 0, 0

    def run_rows(run: list[str]) -> int:
        return sum(
            target_rows_per_file if stats[f][1] is None else stats[f][1]
            for f in run
        )

    base = max(runs, key=run_rows)
    rows = run_rows(base)
    ideal = max(4, math.ceil(rows / target_rows_per_file))
    return len(base), rows, len(base) - ideal


def _record_fold_history(
    index_dir: str,
    target_rows_per_file: int,
    max_runs: int,
    counts: dict[str, tuple[int, int]],
) -> None:
    """Append one measured record per COMPLETED compaction to
    ``_FOLDS.jsonl``: the post-fold base fragmentation per subdir plus what
    the fold did. Best-effort observability (O_APPEND single write; a torn
    tail line is skipped by the reader) — the trigger needs a few recent
    records, never a consistent full log."""
    import json

    try:
        rec: dict = {"ts": time.time(), "max_runs": max_runs,
                     "target_rows_per_file": target_rows_per_file,
                     "counts": {k: list(v) for k, v in counts.items()}}
        for sub in _INDEX_SUBDIRS:
            stats = _file_stats(os.path.join(index_dir, sub), _PRUNE_KEY[sub])
            files, rows, excess = _base_frag_excess(stats, target_rows_per_file)
            rec[sub] = {"base_files": files, "base_rows": rows,
                        "base_frag_excess": excess}
        with open(os.path.join(index_dir, _FOLD_HISTORY), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
    except OSError:  # pragma: no cover - advisory
        pass


def _read_fold_history(index_dir: str) -> list[dict]:
    import json

    out: list[dict] = []
    try:
        with open(os.path.join(index_dir, _FOLD_HISTORY)) as fh:
            for line in fh:
                try:
                    out.append(json.loads(line))
                except ValueError:  # torn tail line from a crash
                    continue
    except OSError:
        pass
    return out


def needs_major_compaction(
    index_dir: str,
    target_rows_per_file: int = COMPACT_TARGET_ROWS_PER_FILE,
    min_persist: int = MAJOR_MIN_PERSIST,
) -> bool:
    """The major-compaction trigger, derived from MEASURED fold history:
    True when the last ``min_persist`` completed tiered folds ALL left some
    subdir's base fragmented (base files exceeding what its rows justify at
    the target, with the standard 4-file slack). Persistence across folds is
    the point — it proves the tiered loop cannot cure this layout, so the
    one remaining cross-range rewrite is actually needed; a single noisy
    record (a fold that simply hadn't reached the base yet) never schedules
    an O(corpus) event. Records with a different ``target_rows_per_file``
    are ignored (a knob change resets the evidence)."""
    hist = [
        r
        for r in _read_fold_history(index_dir)
        if r.get("target_rows_per_file") == target_rows_per_file
    ]
    if len(hist) < min_persist:
        return False
    recent = hist[-min_persist:]
    for sub in _INDEX_SUBDIRS:
        if all(r.get(sub, {}).get("base_frag_excess", 0) > 0 for r in recent):
            return True
    return False


def major_compact_index(
    spark: SparkSession,
    index_dir: str,
    target_rows_per_file: int = COMPACT_TARGET_ROWS_PER_FILE,
    resume: bool = True,
) -> dict[str, int]:
    """The cross-range MAJOR rewrite: every live file (snapshotted at entry)
    rewrites into ONE range-disjoint run per subdir at the target file size
    — the LSM major compaction the tiered loop defers to. Corpus-scale by
    design: run it offline, single-runner, when
    :func:`needs_major_compaction` says the fold history proves it's
    needed. Returns ``{subdir: rows_written}``.

    RESUMABLE, reusing the rebuild's checkpoint machinery: the stage lives
    at the fixed name ``_staging/major`` with a ``_MAJOR.json`` checkpoint
    whose identity is the SNAPSHOT FILE LISTING plus the layout knob — a
    crash after one subdir's multi-hour write resumes with only the
    unfinished subdir (per-subdir ``_DONE_<sub>.json``), while a checkpoint
    whose snapshot no longer matches the live files (a concurrent
    maintenance publish subsumed one) or whose knob changed is discarded
    and the rewrite restarts from a fresh snapshot. The stale-stage sweeper
    never reclaims a ``_MAJOR.json`` stage (same contract as rebuild).

    Appends that land AFTER the snapshot stay live untouched (they are not
    in ``_SUBSUMED``) — the major merge and the ingest loop compose. The
    publish is verified like rebuild's: losing a concurrent maintenance
    race RAISES instead of silently discarding hours of work."""
    import json
    import math

    stage = os.path.join(index_dir, _STAGING, _MAJOR_STAGE)
    meta_path = os.path.join(stage, _MAJOR_META)
    _publish_staged(index_dir)  # complete any predecessor first
    _check_lane_meta(index_dir)
    snapshot = {
        sub: _live_files(os.path.join(index_dir, sub))
        for sub in _INDEX_SUBDIRS
    }
    ckpt_meta = {
        "target_rows_per_file": target_rows_per_file,
        "snapshot": snapshot,
    }
    if os.path.isdir(stage) and not publish.is_committed(stage):
        recorded = None
        try:
            with open(meta_path) as fh:
                recorded = json.load(fh)
        except (OSError, ValueError):
            pass
        # adopt only when the recorded snapshot is STILL the live prefix:
        # every snapshotted file must still exist (a concurrent publish
        # that subsumed one invalidates the half-done rewrite), and the
        # knob must match. Files appended since the snapshot don't matter —
        # the rewrite only covers its recorded snapshot either way.
        ok = (
            resume
            and isinstance(recorded, dict)
            and recorded.get("target_rows_per_file") == target_rows_per_file
            and all(
                os.path.exists(os.path.join(index_dir, sub, name))
                for sub, names in (recorded.get("snapshot") or {}).items()
                for name in names
            )
        )
        if ok:
            ckpt_meta = recorded
            snapshot = recorded["snapshot"]
        else:
            shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage, exist_ok=True)
    if not os.path.exists(meta_path):
        atomic_write_json(meta_path, ckpt_meta)
    written: dict[str, int] = {}
    for sub in _INDEX_SUBDIRS:
        key = _PRUNE_KEY[sub]
        done_path = os.path.join(stage, f"_DONE_{sub}.json")
        if os.path.exists(done_path):  # checkpointed by a killed run
            with open(done_path) as fh:
                written[sub] = json.load(fh)["rows"]
            continue
        live = os.path.join(index_dir, sub)
        names = snapshot.get(sub) or []
        if not names:
            written[sub] = 0
            atomic_write_json(done_path, {"rows": 0})
            continue
        stats = _file_stats(live, key)
        n_rows = sum(
            stats[n][1] or 0 for n in names if n in stats
        )
        df = spark.read.parquet(*(os.path.join(live, n) for n in names))
        if any(n not in stats or stats[n][1] is None for n in names):
            n_rows = df.count()  # fall back to a count job
        parts = max(1, math.ceil(n_rows / target_rows_per_file))
        df.repartitionByRange(parts, key).sortWithinPartitions(key).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, sub))
        written[sub] = n_rows
        atomic_write_json(done_path, {"rows": n_rows})
        fire("dedup:major_subdir_done")  # checkpoint: resume skips this sub
    publish.write_subsumed(
        stage, [f"{sub}/{n}" for sub, names in snapshot.items() for n in names]
    )
    staged = publish.staged_files(stage)
    fire("dedup:major_staged")  # no marker yet: crash = old layout wins
    publish.commit_stage(stage)
    fire("dedup:major_committed")  # committed, not yet published
    _publish_verified(index_dir, _MAJOR_STAGE, staged, "major_compact_index")
    # the major rewrite IS the cure the history was evidencing: reset it so
    # the trigger re-arms only on fresh post-major measurements
    try:
        os.remove(os.path.join(index_dir, _FOLD_HISTORY))
    except OSError:
        pass
    return written
