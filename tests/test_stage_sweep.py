"""Stale-stage sweep fences of the shared staged publish
(datalakejson_spark/publish.py), pinned once per store — the dedup index
pair and the IVF index: the garbage sweep ages a stage by the NEWEST mtime
in its tree (a live stager's deep parquet writes keep it fresh — the top
dir's mtime alone froze at creation, so a >1h batch write could be
reclaimed mid-flight), reclaims by atomic rename-then-recheck (a commit
racing the sweep is restored whole or fails loudly, never half-deleted),
and ``_COMMITTED`` carries a file manifest the publisher verifies — a
partially destroyed committed stage becomes a loud "corrupt" outcome,
never a silent partial publish. A marker in any other format than its
writer's (an ``ok`` commit marker, a ``{subdir: [names]}`` subsumed map)
is refused before anything moves.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
import pytest

from datalakejson_spark import publish
from datalakejson_spark.functions import incremental_dedup as inc
from datalakejson_spark.functions.index_maintenance import (
    publish_staged,
    settle_committed_replay,
)
from datalakejson_spark.functions.ivf import (
    assign_cells,
    build_ivf_index,
    load_ivf_meta,
)
from datalakejson_spark.publish import commit_stage

_SCHEMA = "vec_id bigint, embedding array<double>"


def _rows(n, start=0):
    return [
        (start + i, [float((start + i) % 7), float((start + i) % 11)])
        for i in range(n)
    ]


def _build(spark, tmp_path, n=100, n_cells=2):
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        spark.createDataFrame(_rows(n), _SCHEMA), idx, n_cells=n_cells
    )
    return idx


def _stage_batch(spark, idx, token, n=10, start=5000, commit=True):
    """Hand-stage an append batch the way ivf_index_append does."""
    stage = os.path.join(idx, "_staging", token)
    meta = load_ivf_meta(idx)
    rows = spark.createDataFrame(_rows(n, start=start), _SCHEMA)
    assign_cells(rows, meta["centroids"]).repartition("cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(os.path.join(stage, "cells"))
    if commit:
        commit_stage(stage, "cells")
    return stage


class _IvfStore:
    name, data, key, rows_dir = "ivf", "cells", "vec_id", "cells"

    def __init__(self, spark, tmp_path):
        self.spark = spark
        self.root = _build(spark, tmp_path)

    def stage(self, token, n=10, start=5000, commit=True):
        return _stage_batch(self.spark, self.root, token, n, start, commit)

    def publish(self):
        return publish_staged(self.root, "cells", "_IVF.json")


class _DedupStore:
    """A dedup index pair written directly (no audit): the publish never
    reads the rows it moves, so plain hash/band rows pin it."""

    name, data, key, rows_dir = "dedup", "", "doc_id", "bands"

    def __init__(self, spark, tmp_path):
        self.spark = spark
        self.root = str(tmp_path / "dedup")
        self._write(self.root, 20, 0)

    def _write(self, root, n, start):
        ids = range(start, start + n)
        self.spark.createDataFrame(
            [(f"h{i}",) for i in ids], "text_hash string"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "hashes"))
        self.spark.createDataFrame(
            [(i, 0, f"b{i}") for i in ids], "doc_id bigint, band int, band_hash string"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "bands"))

    def stage(self, token, n=10, start=5000, commit=True):
        stage = os.path.join(self.root, "_staging", token)
        self._write(stage, n, start)
        if commit:
            commit_stage(stage)
        return stage

    def publish(self):
        return inc._publish_staged(self.root)


def _stores(spark, tmp_path):
    return [
        _DedupStore(spark, tmp_path / "dedup-case"),
        _IvfStore(spark, tmp_path / "ivf-case"),
    ]


def _live_rows(store):
    return store.spark.read.parquet(os.path.join(store.root, store.rows_dir))


def _assert_landed_once(store, start, n):
    planted = _live_rows(store).filter(F.col(store.key) >= start)
    assert planted.count() == n, store.name
    dup = planted.groupBy(store.key).count().filter("count > 1").count()
    assert dup == 0, store.name


def _first_parquet(root):
    return os.path.join(root, publish.staged_files(root)[0])


def _backdate(path, age_s):
    old = time.time() - age_s
    for root, dirs, files in os.walk(path):
        for n in dirs + files:
            os.utime(os.path.join(root, n), (old, old))
    os.utime(path, (old, old))


def test_live_stager_is_not_swept_by_tree_mtime(spark, tmp_path):
    """An uncommitted stage whose TOP dir mtime is ancient but whose deep
    files are fresh (a live Spark write in progress) survives the sweep —
    the age basis is the newest mtime in the tree."""
    for store in _stores(spark, tmp_path):
        stage = store.stage("inflight", commit=False)
        # backdate everything, then refresh ONE deep file (the live write)
        _backdate(stage, 2 * 3600)
        os.utime(_first_parquet(stage), None)
        store.publish()
        assert os.path.isdir(stage), f"{store.name}: live stage was swept"


def test_quiescent_uncommitted_stage_is_swept(spark, tmp_path):
    """A fully quiescent uncommitted stage (every mtime past the grace)
    is reclaimed — and reclaimed WHOLE: no half-deleted remnant, no
    lingering _SWEEP claim."""
    for store in _stores(spark, tmp_path):
        stage = store.stage("crashed", commit=False)
        _backdate(stage, 2 * 3600)
        store.publish()
        staging = os.path.join(store.root, "_staging")
        leftover = [t for t in os.listdir(staging) if "crashed" in t]
        assert leftover == [], (store.name, leftover)


def test_dedup_plane_sweep_uses_tree_mtime(spark, tmp_path):
    """The dedup index publisher shares the fences: a live-looking stage
    (fresh deep file) survives, a quiescent one is reclaimed whole — in
    the same publish pass, on a root with no published pair yet."""
    root = str(tmp_path / "dedup")
    staging = os.path.join(root, "_staging")
    live = os.path.join(staging, "live-stage")
    dead = os.path.join(staging, "dead-stage")
    for stage in (live, dead):
        os.makedirs(os.path.join(stage, "exact"), exist_ok=True)
        with open(os.path.join(stage, "exact", "part-0.parquet"), "w") as fh:
            fh.write("x")
        _backdate(stage, 2 * 3600)
    os.utime(os.path.join(live, "exact", "part-0.parquet"), None)
    inc._publish_staged(root)
    assert os.path.isdir(live)
    assert not any("dead-stage" in t for t in os.listdir(staging))


def test_vanished_stage_reads_as_fresh(tmp_path):
    """A stage that vanishes under the sweep (another runner published or
    reclaimed it) is aged as fresh and left alone — never a crash of the
    publish pass."""
    gone = str(tmp_path / "_staging" / "vanished")
    before = time.time()
    assert publish.stage_newest_mtime(gone) >= before
    publish._reclaim_if_stale(gone)
    assert not os.path.exists(gone)


def test_sweep_claim_with_commit_is_rescued(spark, tmp_path):
    """A _SWEEP- claim holding a _COMMITTED marker is a committed stage a
    dead sweeper left in trash-limbo (it renamed, then died before the
    re-check): the next publish pass renames it back and rolls it
    forward — the rows land, exactly once."""
    for store in _stores(spark, tmp_path):
        stage = store.stage("batch-limbo", n=10, start=7000)
        staging = os.path.join(store.root, "_staging")
        os.rename(stage, os.path.join(staging, "_SWEEP-batch-limbo"))
        store.publish()  # rescues the claim
        out = store.publish()  # publishes the stage
        assert out.get("batch-limbo") == "published", (store.name, out)
        _assert_landed_once(store, 7000, 10)


def test_sweep_claim_without_commit_is_cleared(spark, tmp_path):
    for store in _stores(spark, tmp_path):
        stage = store.stage("garbage", commit=False)
        staging = os.path.join(store.root, "_staging")
        os.rename(stage, os.path.join(staging, "_SWEEP-garbage"))
        store.publish()
        assert not any("garbage" in t for t in os.listdir(staging)), store.name


def test_corrupt_committed_stage_refuses_to_publish(spark, tmp_path):
    """A committed stage whose manifest names a file missing from both
    the stage and the live layout (a half-destroyed stage) must NOT
    publish the surviving subset — outcome 'corrupt', stage removed,
    live data untouched."""
    for store in _stores(spark, tmp_path):
        n_before = _live_rows(store).count()
        stage = store.stage("batch-torn", n=10, start=8000)
        os.remove(_first_parquet(stage))  # destroyed after the commit
        out = store.publish()
        assert out.get("batch-torn") == "corrupt", (store.name, out)
        assert not os.path.isdir(stage), store.name
        live = _live_rows(store)
        assert live.count() == n_before, store.name
        assert live.filter(F.col(store.key) >= 8000).count() == 0, store.name


def test_settle_raises_on_corrupt_committed_replay(spark, tmp_path):
    """The replay settle path refuses to treat a corrupt committed stage
    as applied OR to silently re-stage it — loud RuntimeError."""
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "batch-r2", n=10, start=8100)
    with open(os.path.join(stage, "_BATCH.json"), "w") as fh:
        json.dump({"batch_id": "r2"}, fh)
    for root, _dirs, files in os.walk(os.path.join(stage, "cells")):
        for n in files:
            if n.endswith(".parquet"):
                os.remove(os.path.join(root, n))
    with pytest.raises(RuntimeError, match="manifest"):
        settle_committed_replay(idx, stage, "cells", "_IVF.json")


def test_half_moved_replay_passes_manifest_check(spark, tmp_path):
    """A replayed publish of a stage whose files are partly MOVED already
    (crash mid-publish) is not corrupt — moved files verify at their
    destination — and completes exactly-once."""
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "batch-half", n=10, start=9000)
    manifest = json.load(open(os.path.join(stage, "_COMMITTED")))["files"]
    rel = manifest[0]
    dst = os.path.join(idx, "cells", rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(os.path.join(stage, "cells", rel), dst)
    out = publish_staged(idx, "cells", "_IVF.json")
    assert out.get("batch-half") == "published", out
    planted = spark.read.parquet(os.path.join(idx, "cells")).filter(
        F.col("vec_id") >= 9000
    )
    assert planted.count() == 10
    assert planted.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_legacy_ok_marker_publishes_unverified(spark, tmp_path):
    """A bare ``ok`` commit marker carries no manifest, and no writer
    produces one: the publisher cannot verify the stage, so it takes the
    "corrupt" outcome. The stage is removed and the live data untouched."""
    for store in _stores(spark, tmp_path):
        n_before = _live_rows(store).count()
        stage = store.stage("batch-legacy", n=5, start=9500, commit=False)
        with open(os.path.join(stage, "_COMMITTED"), "w") as fh:
            fh.write("ok")
        out = store.publish()
        assert out.get("batch-legacy") == "corrupt", (store.name, out)
        assert not os.path.isdir(stage), store.name
        assert _live_rows(store).count() == n_before, store.name


def test_legacy_subsumed_shapes_roll_forward(spark, tmp_path):
    """``_SUBSUMED.json`` has one shape, the relpath list. A committed
    stage holding the old dedup ``{subdir: [names]}`` map is refused
    before any move: the subsumed file and the live rows stay as they
    were. Rewritten as the list, the same stage rolls forward: the staged
    rows land once and the subsumed file is deleted."""
    for store in _stores(spark, tmp_path):
        live = os.path.join(store.root, store.data)
        victim = publish.staged_files(live)[0]
        sub, name = os.path.split(victim)
        stage = store.stage("compact-legacy", n=5, start=9700)
        with open(os.path.join(stage, "_SUBSUMED.json"), "w") as fh:
            json.dump({sub: [name]}, fh)
        n_before = _live_rows(store).count()
        with pytest.raises(ValueError, match="not a list"):
            store.publish()
        assert os.path.exists(os.path.join(live, victim)), store.name
        assert _live_rows(store).count() == n_before, store.name

        publish.write_subsumed(stage, [victim])
        out = store.publish()
        assert out.get("compact-legacy") == "published", (store.name, out)
        assert not os.path.exists(os.path.join(live, victim)), store.name
        _assert_landed_once(store, 9700, 5)


def test_concurrent_meta_writers_never_tear_the_meta(tmp_path):
    """Two publishers may legitimately roll the SAME stage forward (the
    own-token re-entry rule), so concurrent write_index_meta calls are a
    designed state. With a fixed tmp name, one writer's os.replace could
    publish the other's half-written tmp — the cross-JVM soak crashed on
    a torn 188 KB _IVF.json exactly this way. Unique per-write tmps keep
    every published inode a complete document: readers must never see
    invalid JSON, no matter the interleaving."""
    import threading

    from datalakejson_spark.functions.index_maintenance import (
        load_index_meta,
        write_index_meta,
    )

    idx = str(tmp_path / "idx")
    # a soak-sized meta (~200 KB): big enough that a torn write is
    # overwhelmingly likely to be caught by the reader loop
    meta = {"centroids": [[float(i)] * 32 for i in range(900)], "gen": 0}
    write_index_meta(idx, meta, "_META.json")
    stop = threading.Event()
    errors: list[str] = []

    def writer(seed: int) -> None:
        g = 0
        while not stop.is_set():
            g += 1
            write_index_meta(
                idx, {**meta, "gen": g, "writer": seed}, "_META.json"
            )

    def reader() -> None:
        while not stop.is_set():
            try:
                m = load_index_meta(idx, "_META.json", "test")
            except ValueError as exc:  # JSONDecodeError is a ValueError
                errors.append(f"torn meta: {exc}")
                return
            if len(m["centroids"]) != 900:
                errors.append(f"short meta: {len(m['centroids'])}")
                return

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    threads += [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    import time as _t

    _t.sleep(4.0)
    stop.set()
    for t in threads:
        t.join(timeout=30)
    assert errors == [], errors
