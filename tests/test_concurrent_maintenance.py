"""Concurrent index maintenance (round 12, VERDICT ask #4): one runner
compacts/rebuilds WHILE another audits+appends. The fencing contract:

- audits stay EXACT across concurrent tiered merges (the reader re-plans
  from a fresh listing when a subsumed file vanishes mid-scan);
- two racing maintenance publishes detect a loser via the `_SUBSUMED`
  snapshot check (the loser discards itself; the winner's layout wins);
- a publish interrupted AFTER its `_PUBLISHING` point-of-no-return rolls
  FORWARD on replay instead of misreading its own deletes as a lost race.

The two publish-protocol behaviours run once per store (the dedup index
and the IVF index), since both ride datalakejson_spark/publish.py.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest

from datalakejson_spark.functions import incremental_dedup as inc
from datalakejson_spark.functions.incremental_dedup import (
    compact_index,
    ingest_batch_dedup,
)

# Multi-minute soak/race/kill/lifecycle suite: excluded from the default
# pytest run (pyproject addopts -m 'not soak') so the driver's verify
# window holds; run per round with `python -m pytest tests/ -m soak`.
pytestmark = pytest.mark.soak


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _distinct_text(i: int) -> str:
    import hashlib

    return " ".join(
        hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8] for j in range(10)
    )


def _index_rows(spark, idx: str, sub: str) -> list[tuple]:
    return sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(idx, sub)).collect()
    )


def test_concurrent_compaction_soak(spark, tmp_path):
    """Two-runner soak: an ingest loop appends novel batches while a
    maintenance loop tier-merges the same index as fast as it can. Every
    batch must keep ALL its novel docs (a half-read index would re-admit
    or falsely reject), the final index must know every ingested doc, and
    no stage may be left stranded."""
    idx = str(tmp_path / "idx")
    n_batches, per = 10, 8
    kept_counts: list[int] = []
    maint_errors: list[BaseException] = []
    compactions = 0
    stop = threading.Event()

    # bootstrap (also stamps the lane marker) before the racers start
    ingest_batch_dedup(
        spark,
        _docs(spark, [(i, _distinct_text(i)) for i in range(per)]),
        idx,
        compact_max_runs=None,
    )

    def maintenance():
        nonlocal compactions
        while not stop.is_set():
            try:
                compact_index(spark, idx, target_rows_per_file=16, max_runs=2)
                compactions += 1
            except BaseException as exc:  # noqa: BLE001 — the assertion
                maint_errors.append(exc)
                return
            time.sleep(0.05)

    t = threading.Thread(target=maintenance, daemon=True)
    t.start()
    try:
        for b in range(1, n_batches):
            kept = ingest_batch_dedup(
                spark,
                _docs(
                    spark,
                    [
                        (b * per + k, _distinct_text(b * per + k))
                        for k in range(per)
                    ],
                ),
                idx,
                compact_max_runs=None,
            )
            kept_counts.append(kept.count())
    finally:
        stop.set()
        t.join(timeout=120)
    assert not maint_errors, maint_errors
    assert compactions > 0  # the race was real
    assert kept_counts == [per] * (n_batches - 1)  # every novel doc kept

    # the final index knows every ingested doc: a full replay keeps nothing
    total = n_batches * per
    replay = ingest_batch_dedup(
        spark,
        _docs(
            spark,
            [(10_000 + i, _distinct_text(i)) for i in range(total)],
        ),
        idx,
        compact_max_runs=None,
    )
    assert replay.count() == 0
    # ...and a genuinely novel doc still passes
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(20_000, "never before seen probe words")]),
        idx,
        compact_max_runs=None,
    )
    assert kept.count() == 1
    # index-pair consistency + no stranded committed stages
    hashes = spark.read.parquet(f"{idx}/hashes")
    assert hashes.distinct().count() == total + 1
    staging = os.path.join(idx, inc._STAGING)
    if os.path.isdir(staging):
        for token in os.listdir(staging):
            assert not os.path.exists(
                os.path.join(staging, token, "_COMMITTED")
            )


class _DedupIndex:
    """A dedup index pair with three appended runs."""

    kill = "dedup:compact_committed"

    def __init__(self, spark, tmp_path):
        self.spark, self.idx = spark, str(tmp_path / "idx")
        self.live = self.idx  # subsumed relpaths are under the index root
        for b in range(3):
            ingest_batch_dedup(
                spark,
                _docs(spark, [(b * 6 + k, _distinct_text(b * 6 + k)) for k in range(6)]),
                self.idx,
                compact_max_runs=None,
            )

    def compact(self):
        compact_index(self.spark, self.idx, target_rows_per_file=16, max_runs=1)

    def publish(self):
        return inc._publish_staged(self.idx)

    def rows(self):
        return _index_rows(self.spark, self.idx, "bands")

    def runs(self):
        return [
            len(inc.derive_runs(inc._live_files(f"{self.idx}/{sub}")))
            for sub in ("hashes", "bands")
        ]


class _IvfIndex:
    """An IVF index with two appended runs per touched cell."""

    kill = "ivf:compact_committed"
    _SCHEMA = "vec_id bigint, embedding array<double>"

    def __init__(self, spark, tmp_path):
        from datalakejson_spark.functions.ivf import (
            build_ivf_index,
            ivf_index_append,
        )

        self.spark, self.idx = spark, str(tmp_path / "ivf")
        self.live = os.path.join(self.idx, "cells")
        build_ivf_index(self._rows(0, 60), self.idx, n_cells=2)
        for b in range(2):
            ivf_index_append(spark, self._rows(1000 + 10 * b, 10), self.idx)

    def _rows(self, start, n):
        return self.spark.createDataFrame(
            [(i, [float(i % 7), float(i % 11)]) for i in range(start, start + n)],
            self._SCHEMA,
        )

    def compact(self):
        from datalakejson_spark.functions.ivf import compact_ivf_cells

        compact_ivf_cells(self.spark, self.idx, max_runs_per_cell=1)

    def publish(self):
        from datalakejson_spark.functions.ivf import _publish_ivf_staged

        return _publish_ivf_staged(self.idx)

    def rows(self):
        return sorted(
            (r.vec_id, tuple(r.embedding), r.cell)
            for r in self.spark.read.parquet(self.live).collect()
        )

    def runs(self):
        from datalakejson_spark.functions.index_maintenance import (
            live_partition_files,
        )

        return [
            len(inc.derive_runs(files))
            for files in live_partition_files(self.idx, "cells").values()
        ]


@pytest.fixture(params=["dedup", "ivf"])
def store(request, spark, tmp_path):
    return {"dedup": _DedupIndex, "ivf": _IvfIndex}[request.param](spark, tmp_path)


def _killed_compaction(store):
    """A committed, unpublished compaction stage (the crash window between
    the commit and the publish) — returns the staging dir and its token."""
    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.killpoints import InjectedKill

    killpoints.kill_once(store.kill)
    with pytest.raises(InjectedKill):
        store.compact()
    staging = os.path.join(store.idx, inc._STAGING)
    (token,) = os.listdir(staging)
    return staging, token


def test_publish_race_loser_is_discarded(store):
    """Two committed maintenance stages subsuming the same snapshot: the
    first publish wins; the second must detect the missing subsumed files
    and discard itself — never delete the winner's output or resurrect
    duplicated rows."""
    rows_before = store.rows()
    staging, token = _killed_compaction(store)
    # the racing twin: an identical committed stage from "another runner"
    shutil.copytree(
        os.path.join(staging, token), os.path.join(staging, "zz-racer")
    )

    out = store.publish()  # publishes the winner, discards the loser
    assert out == {token: "published", "zz-racer": "lost"}, out
    assert not (os.path.isdir(staging) and os.listdir(staging))
    assert store.rows() == rows_before  # no loss, no dup
    assert set(store.runs()) == {1}


def test_publishing_marker_rolls_forward_not_loses(store):
    """A publish that crashed AFTER its _PUBLISHING point-of-no-return has
    already deleted some subsumed files; the replay must roll FORWARD
    (finish moves + deletes), not misread its own progress as a lost race
    and discard the stage (which would lose the moved-out rows)."""
    from datalakejson_spark import publish

    rows_before = store.rows()
    staging, token = _killed_compaction(store)
    stage = os.path.join(staging, token)
    # simulate the crash window: marker down, one subsumed delete done
    with open(os.path.join(stage, "_PUBLISHING"), "w") as fh:
        fh.write("ok")
    victim = publish.read_subsumed(stage)[0]
    os.remove(os.path.join(store.live, victim))

    assert store.publish() == {token: "published"}
    assert not (os.path.isdir(staging) and os.listdir(staging))
    assert store.rows() == rows_before  # rolled forward
    assert set(store.runs()) == {1}


def test_kill_at_publishing_marker_recovers(spark, tmp_path):
    """Crash immediately after the _PUBLISHING marker (before any move):
    the next entry point completes the whole publish."""
    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.killpoints import InjectedKill

    idx = str(tmp_path / "idx")
    for b in range(2):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 6 + k, _distinct_text(b * 6 + k)) for k in range(6)]),
            idx,
            compact_max_runs=None,
        )
    rows_before = _index_rows(spark, idx, "bands")
    killpoints.kill_once("dedup:publish_publishing")
    with pytest.raises(InjectedKill):
        compact_index(spark, idx, target_rows_per_file=16, max_runs=1)
    # recovery via any entry point's roll-forward
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(900, "wholly novel probe words here")]),
        idx,
        compact_max_runs=None,
    )
    assert kept.count() == 1
    probe_rows = _index_rows(spark, idx, "bands")
    base = [r for r in probe_rows if r[0] < 900]
    assert base == rows_before


def test_audit_retries_when_snapshot_file_vanishes(spark, tmp_path, monkeypatch):
    """The missing-file retry: make the FIRST audit attempt read a file
    list containing a just-deleted file (the concurrent-publish
    signature); the batch must succeed on re-plan, not raise."""
    idx = str(tmp_path / "idx")
    for b in range(2):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 6 + k, _distinct_text(b * 6 + k)) for k in range(6)]),
            idx,
            compact_max_runs=None,
        )
    compact_index(spark, idx, target_rows_per_file=8, max_runs=1)

    real = inc._read_index_pair_pruned
    calls = {"n": 0}

    def flaky(spark_, index_dir, id_col, hash_keys, band_keys):
        calls["n"] += 1
        h, b, stats = real(spark_, index_dir, id_col, hash_keys, band_keys)
        if calls["n"] == 1:
            # a frame whose execution fails like a vanished input file
            import pyspark.sql.functions as F

            bad = spark_.read.schema(
                "doc_id bigint, band int, band_hash string"
            ).parquet(os.path.join(index_dir, "bands", "nope.parquet"))
            return h, b.unionByName(bad), stats
        return h, b, stats

    monkeypatch.setattr(inc, "_read_index_pair_pruned", flaky)
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(500, _distinct_text(2)), (501, "fresh novel words")]),
        idx,
        compact_max_runs=None,
    )
    assert calls["n"] == 2  # first attempt failed, second re-planned
    assert [r.doc_id for r in kept.collect()] == [501]
