"""Tombstone retirement vs racing copiers (round 15): the cross-process
soak (tools/multiproc_ann_race.py) resurrected 82 vacuumed ids — a
split's staged halves, pinned before the vacuum's rewrite, published
after the vacuum retired the tombstone files. The fix is three fences:

1. retirement is VERIFIED: tombstone files are cleared only when a
   re-scan of the current live layout finds zero copies of the covered
   ids (`_retire_tombstones_verified`) — raced-in stale copies keep the
   tombstones, probes stay exact, the next vacuum removes the copies;
2. copier stages (fold/split/retrain-move/vacuum) are VISIBLE FROM
   BIRTH: `begin_copier_stage` mkdirs + marks the stage dir BEFORE the
   source file list is pinned, and retirement refuses while any foreign
   copier stage exists;
3. publish roll-forwards SERIALIZE on the PUBLISH slot — the
   subsumed-existence loser check was check-then-act, so two publishes
   subsuming the same file could both pass and both move copies in.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F

from datalakejson_spark import publish
from datalakejson_spark.functions.index_maintenance import (
    begin_copier_stage,
    load_tombstones,
    publish_staged,
)
from datalakejson_spark.functions.ivf import (
    build_ivf_index,
    ivf_index_delete,
    ivf_index_topk,
    vacuum_ivf_deletes,
)
from datalakejson_spark.plans.killpoints import arm, disarm
import pytest

_SCHEMA = "vec_id bigint, embedding array<double>"


def _rows(n, start=0):
    return [
        (start + i, [float((start + i) % 7), float((start + i) % 11)])
        for i in range(n)
    ]


def _build(spark, tmp_path, n=400, n_cells=4):
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark.createDataFrame(_rows(n), _SCHEMA), idx, n_cells=n_cells)
    return idx


def _live_ids(spark, idx):
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    still, _ = load_tombstones(idx)
    if still:
        cells = cells.filter(~F.col("vec_id").isin([int(i) for i in still]))
    return {r[0] for r in cells.select("vec_id").collect()}


@pytest.mark.soak
def test_raced_in_stale_copy_blocks_retirement_and_self_heals(
    spark, tmp_path
):
    """A stale copy of tombstoned rows landing between the vacuum's
    rewrite and its retirement (the soak's race, reduced to its end
    state) must KEEP the tombstone files — and the next vacuum removes
    the copy and retires them."""
    idx = _build(spark, tmp_path)
    victims = [3, 5]
    # pre-stage the stale copy: rows for the victims, written as a loose
    # parquet file we can drop into a cell dir at the killpoint (stands
    # in for a racing copier's published half)
    loose = str(tmp_path / "loose")
    spark.createDataFrame(
        [r for r in _rows(400) if r[0] in victims], _SCHEMA
    ).coalesce(1).write.parquet(loose)
    part = next(
        n for n in os.listdir(loose) if n.endswith(".parquet")
    )
    cell_dir = os.path.join(idx, "cells", "cell=0")

    def inject():
        disarm("ivf:vacuum_committed")
        shutil.copy(
            os.path.join(loose, part),
            os.path.join(cell_dir, "stale-race-copy.parquet"),
        )

    ivf_index_delete(idx, victims)
    arm("ivf:vacuum_committed", inject)
    try:
        rep = vacuum_ivf_deletes(spark, idx)
    finally:
        disarm()
    # the vacuum rewrote and published, but retirement was refused: the
    # verify scan saw the injected copies
    assert rep["vectors_removed"] == 2
    assert rep["tombstone_files_cleared"] == 0
    assert load_tombstones(idx)[0] == set(victims)
    # physical copies present, probes exact anyway (tombstones held)
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    assert cells.filter(F.col("vec_id").isin(victims)).count() == 2
    queries = spark.createDataFrame(_rows(1, start=3), _SCHEMA)
    got = {
        r.neighbor_id
        for r in ivf_index_topk(spark, queries, idx, nprobe=4).collect()
    }
    assert not (got & set(victims))
    # self-heal: the next vacuum removes the raced-in copies and retires
    rep2 = vacuum_ivf_deletes(spark, idx)
    assert rep2["vectors_removed"] == 2
    assert rep2["tombstone_files_cleared"] >= 1
    assert load_tombstones(idx)[0] == set()
    assert _live_ids(spark, idx) == set(range(400)) - set(victims)


def test_foreign_copier_stage_blocks_retirement(spark, tmp_path):
    """An in-flight copier stage (mkdir'd, not yet committed — the window
    where its pinned source list may predate the vacuum's rewrite) keeps
    the tombstone files; once it is gone, the next vacuum retires them."""
    idx = _build(spark, tmp_path)
    stage = begin_copier_stage(idx)
    ivf_index_delete(idx, [7])
    rep = vacuum_ivf_deletes(spark, idx)
    assert rep["vectors_removed"] == 1
    assert rep["tombstone_files_cleared"] == 0
    assert load_tombstones(idx)[0] == {7}
    shutil.rmtree(stage)
    rep2 = vacuum_ivf_deletes(spark, idx)  # zero matches -> verified retire
    assert rep2["tombstone_files_cleared"] >= 1
    assert load_tombstones(idx)[0] == set()
    assert _live_ids(spark, idx) == set(range(400)) - {7}


def test_copiers_mark_their_stage_before_pinning(spark, tmp_path):
    """The mkdir-before-pin ordering that makes the retire check airtight:
    at the instant a copier pins its source file list, its marked stage
    dir already exists (fold, split, and retrain all fire
    ``ivf:copier_pinned`` right after their pin)."""
    from datalakejson_spark.functions.index_maintenance import COPIER_MARKER
    from datalakejson_spark.functions.ivf import (
        compact_ivf_cells,
        ivf_index_append,
        split_ivf_cell,
    )

    idx = _build(spark, tmp_path)
    seen = []

    def check():
        staging = os.path.join(idx, "_staging")
        seen.append(
            any(
                os.path.exists(os.path.join(staging, t, COPIER_MARKER))
                for t in os.listdir(staging)
                if not t.startswith("_SLOT_")
            )
        )

    arm("ivf:copier_pinned", check)
    try:
        ivf_index_append(
            spark, spark.createDataFrame(_rows(50, 1000), _SCHEMA), idx
        )
        ivf_index_append(
            spark, spark.createDataFrame(_rows(50, 2000), _SCHEMA), idx
        )
        compact_ivf_cells(spark, idx, max_runs_per_cell=1)
        split_ivf_cell(spark, idx, 0)
    finally:
        disarm()
    assert seen and all(seen)


def test_publish_rollforwards_serialize_on_the_publish_slot(
    spark, tmp_path
):
    """Two committed stages subsuming the SAME live file: the second
    publish attempted while the first holds the PUBLISH slot returns
    'pending' (it cannot pass the loser check concurrently), and once the
    first's deletes land it is fenced out as 'lost' — never a
    double-publish with duplicate copies."""
    idx = _build(spark, tmp_path, n=60, n_cells=2)
    cells = os.path.join(idx, "cells")
    target_part = "cell=0"
    victim = sorted(
        n
        for n in os.listdir(os.path.join(cells, target_part))
        if n.endswith(".parquet")
    )[0]

    def make_stage(tag, name):
        stage = begin_copier_stage(idx)
        spark.createDataFrame(
            _rows(3, start=9000 + 100 * tag), _SCHEMA
        ).coalesce(1).withColumn("cell", F.lit(0)).write.partitionBy(
            "cell"
        ).parquet(os.path.join(stage, "cells"), mode="overwrite")
        with open(os.path.join(stage, "_SUBSUMED.json"), "w") as fh:
            json.dump([f"{target_part}/{victim}"], fh)
        publish.commit_stage(stage, "cells")
        named = os.path.join(os.path.dirname(stage), name)
        os.rename(stage, named)  # deterministic publish order
        return name

    t1 = make_stage(1, "aaaa-first")
    t2 = make_stage(2, "bbbb-second")
    inner: dict[str, str] = {}

    def publish_other_midflight():
        # models a second PROCESS publishing stage t2 while this one is
        # inside t1's critical section (different token -> must wait)
        from datalakejson_spark.functions.index_maintenance import VectorStore
        from datalakejson_spark.publish import publish_one

        disarm("ivf:publish_publishing")
        inner[t2] = publish_one(
            VectorStore(idx, "cells", "_IVF.json"),
            os.path.join(idx, "_staging", t2),
        )

    arm("ivf:publish_publishing", publish_other_midflight)
    try:
        outer = publish_staged(idx, "cells", "_IVF.json")
    finally:
        disarm()
    # the mid-flight attempt could not enter the critical section
    assert inner == {t2: "pending"}, inner
    # exactly one of the two stages ever publishes; the loser is fenced
    assert outer[t1] == "published" and outer[t2] == "lost", outer
    # no duplicates, and exactly one replacement's rows are live
    dup = (
        spark.read.parquet(cells)
        .groupBy("vec_id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0
    planted = (
        spark.read.parquet(cells).filter(F.col("vec_id") >= 9000).count()
    )
    assert planted == 3


def test_committed_append_replay_is_never_cleared(spark, tmp_path):
    """A replayed append that finds its own COMMITTED stage (left pending
    by a contended PUBLISH slot) must NOT rmtree + re-stage it — a racing
    publisher could be mid-move, and re-staging would duplicate the
    already-moved subset. It drives the publish to terminal and returns 0
    (applied), with the rows landing exactly once."""
    import threading
    import time as _time

    from datalakejson_spark.functions.ivf import (
        ivf_index_append,
        load_ivf_meta,
    )

    idx = _build(spark, tmp_path, n=100, n_cells=2)
    rows = spark.createDataFrame(_rows(20, start=5000), _SCHEMA)

    # stage the batch and COMMIT it by hand (a crashed previous attempt)
    staging = os.path.join(idx, "_staging")
    stage = os.path.join(staging, "batch-replay1")
    from datalakejson_spark.functions.ivf import assign_cells

    meta = load_ivf_meta(idx)
    assign_cells(rows, meta["centroids"]).repartition("cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(os.path.join(stage, "cells"))
    with open(os.path.join(stage, "_BATCH.json"), "w") as fh:
        json.dump({"batch_id": "replay1"}, fh)
    publish.commit_stage(stage, "cells")

    # wedge the PUBLISH slot with a foreign claim whose "stage" dir exists
    # (claim_slot reads that as a live owner), released after ~1s
    fake = os.path.join(staging, "fakeowner")
    os.makedirs(fake, exist_ok=True)
    claim = os.path.join(staging, "_SLOT_PUBLISH")
    os.makedirs(claim, exist_ok=True)
    with open(os.path.join(claim, "token"), "w") as fh:
        fh.write("fakeowner")

    def release():
        _time.sleep(1.0)
        shutil.rmtree(fake, ignore_errors=True)
        shutil.rmtree(claim, ignore_errors=True)

    th = threading.Thread(target=release, daemon=True)
    th.start()
    n = ivf_index_append(spark, rows, idx, batch_id="replay1")
    th.join()
    assert n == 0  # applied via the committed stage, never re-staged
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    planted = cells.filter(F.col("vec_id") >= 5000)
    assert planted.count() == 20
    assert (
        planted.groupBy("vec_id").count().filter("count > 1").count() == 0
    )
    # marker present: a second replay is the plain marker-skip path
    assert ivf_index_append(spark, rows, idx, batch_id="replay1") == 0


def test_committed_lsh_append_replay_is_never_cleared(spark, tmp_path):
    """LSH twin of the committed-replay settle: a replayed
    lsh_index_append finding its own COMMITTED stage drives the publish
    to terminal instead of rmtree + re-staging (which would duplicate
    rows a racing publisher already moved)."""
    import threading
    import time as _time

    from datalakejson_spark.functions.lsh_index import (
        _with_tb,
        build_lsh_index,
        load_lsh_meta,
        lsh_bucket_np,
        lsh_index_append,
    )

    idx = str(tmp_path / "lsh")
    build_lsh_index(
        spark.createDataFrame(_rows(100), _SCHEMA), idx, n_planes=2, n_tables=2
    )
    meta = load_lsh_meta(idx)
    rows = spark.createDataFrame(_rows(20, start=5000), _SCHEMA)

    staging = os.path.join(idx, "_staging")
    stage = os.path.join(staging, "batch-replay1")
    (
        _with_tb(
            lsh_bucket_np(
                rows, meta["n_planes"], meta["n_tables"], meta["seed"]
            ),
            meta["n_planes"],
        )
        .repartition("tb")
        .write.partitionBy("tb")
        .mode("overwrite")
        .parquet(os.path.join(stage, "buckets"))
    )
    with open(os.path.join(stage, "_BATCH.json"), "w") as fh:
        json.dump({"batch_id": "replay1"}, fh)
    publish.commit_stage(stage, "buckets")

    fake = os.path.join(staging, "fakeowner")
    os.makedirs(fake, exist_ok=True)
    claim = os.path.join(staging, "_SLOT_PUBLISH")
    os.makedirs(claim, exist_ok=True)
    with open(os.path.join(claim, "token"), "w") as fh:
        fh.write("fakeowner")

    def release():
        _time.sleep(1.0)
        shutil.rmtree(fake, ignore_errors=True)
        shutil.rmtree(claim, ignore_errors=True)

    th = threading.Thread(target=release, daemon=True)
    th.start()
    n = lsh_index_append(spark, rows, idx, batch_id="replay1")
    th.join()
    assert n == 0
    live = spark.read.parquet(os.path.join(idx, "buckets"))
    planted = live.filter(F.col("vec_id") >= 5000)
    # each vector appears exactly once per (vec_id, tb) — no duplicates
    assert planted.select("vec_id").distinct().count() == 20
    assert (
        planted.groupBy("vec_id", "tb").count().filter("count > 1").count()
        == 0
    )
    assert lsh_index_append(spark, rows, idx, batch_id="replay1") == 0
