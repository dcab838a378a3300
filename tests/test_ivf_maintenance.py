"""Persisted-IVF index maintenance (functions/ivf.py round-13 additions):
staged exactly-once appends, per-cell run-counting compaction, kill-window
crash safety, and the measured recall-drift retrain trigger."""

from __future__ import annotations

import os
import threading

import numpy as np
import pyspark.sql.functions as F
import pytest

from datalakejson_spark import publish
from datalakejson_spark.functions.ivf import (
    N_CELLS,
    N_PROBE,
    _ivf_live_files,
    _publish_ivf_staged,
    build_ivf_index,
    compact_ivf_cells,
    ivf_batch_applied,
    ivf_index_append,
    ivf_index_topk,
    ivf_needs_compaction,
    ivf_needs_retrain,
    ivf_recall_probe,
    load_ivf_meta,
)
from datalakejson_spark.plans import killpoints
from datalakejson_spark.plans.killpoints import InjectedKill

# Multi-minute soak/race/kill/lifecycle suite: excluded from the default
# pytest run (pyproject addopts -m 'not soak') so the driver's verify
# window holds; run per round with `python -m pytest tests/ -m soak`.
pytestmark = pytest.mark.soak

SF = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _twin_of(spark, emb, vec_id, new_id, eps=1e-4):
    base = emb.filter(F.col("vec_id") == vec_id).first()
    twin = [float(v) + eps for v in base.embedding]
    return spark.createDataFrame(
        [(new_id, twin)], "vec_id bigint, embedding array<double>"
    )


def _topk_rows(spark, queries, idx, nprobe=N_PROBE):
    return sorted(
        (r.query_id, r.neighbor_id, r.rn)
        for r in ivf_index_topk(spark, queries, idx, nprobe=nprobe).collect()
    )


def test_append_with_batch_id_is_exactly_once(spark, tmp_path):
    """Replaying an append with the same batch_id is a no-op: the vector
    lands in the cells exactly once, so probes never emit duplicate
    neighbor rows (unlike the dedup index's semi-join probes, duplicates
    here would be user-visible wrong results)."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)

    new = _twin_of(spark, emb, 7, 100000)
    assert ivf_index_append(spark, new, idx, batch_id="b1") == 1
    assert ivf_batch_applied(idx, "b1")
    assert ivf_index_append(spark, new, idx, batch_id="b1") == 0  # replay
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    assert cells.filter(F.col("vec_id") == 100000).count() == 1
    # and the meta count advanced exactly once
    assert load_ivf_meta(idx)["n_vectors"] == emb.count() + 1


def test_append_kill_windows_replay_to_exactly_once(spark, tmp_path):
    """Crash before _COMMITTED: nothing appended (old index intact), the
    replay re-stages and lands the rows once. Crash after _COMMITTED but
    before publish: the replay's entry publish rolls the stage forward and
    the applied marker makes the re-append a skip — never a duplicate."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)
    cells_root = os.path.join(idx, "cells")

    # window 1: staged, unmarked
    new1 = _twin_of(spark, emb, 3, 200000)
    killpoints.kill_once("ivf:append_staged")
    try:
        with pytest.raises(InjectedKill):
            ivf_index_append(spark, new1, idx, batch_id="w1")
    finally:
        killpoints.disarm()
    live = spark.read.parquet(cells_root)
    assert live.filter(F.col("vec_id") == 200000).count() == 0
    assert not ivf_batch_applied(idx, "w1")
    assert ivf_index_append(spark, new1, idx, batch_id="w1") == 1  # replay
    assert (
        spark.read.parquet(cells_root).filter(F.col("vec_id") == 200000).count()
        == 1
    )

    # window 2: committed, unpublished
    new2 = _twin_of(spark, emb, 5, 300000)
    killpoints.kill_once("ivf:append_committed")
    try:
        with pytest.raises(InjectedKill):
            ivf_index_append(spark, new2, idx, batch_id="w2")
    finally:
        killpoints.disarm()
    # the committed stage rolls forward on the replay's entry publish;
    # the applied marker then skips the re-append
    assert ivf_index_append(spark, new2, idx, batch_id="w2") == 0
    assert ivf_batch_applied(idx, "w2")
    assert (
        spark.read.parquet(cells_root).filter(F.col("vec_id") == 300000).count()
        == 1
    )
    # probes see the rolled-forward row
    queries = emb.filter(F.col("vec_id") == 5)
    top = (
        ivf_index_topk(spark, queries, idx, nprobe=N_PROBE)
        .filter(F.col("rn") == 1)
        .first()
    )
    assert top.neighbor_id == 300000


def test_needs_compaction_counts_runs_not_files(spark, tmp_path):
    """The trigger counts WRITE GENERATIONS per cell (job-UUID runs), never
    raw file count: a freshly-built index is one run per cell no matter how
    many cells; each append adds one run to the cells it touches."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)
    assert not ivf_needs_compaction(idx, max_runs_per_cell=1)  # 1 run/cell
    ivf_index_append(spark, _twin_of(spark, emb, 2, 400000), idx)
    assert ivf_needs_compaction(idx, max_runs_per_cell=1)  # 2 runs somewhere
    assert not ivf_needs_compaction(idx, max_runs_per_cell=2)


def test_compaction_folds_runs_and_preserves_probes(spark, tmp_path):
    """Several appends fragment the touched cells into one file per append;
    compaction folds every over-run cell back to one file and the probe
    returns row-for-row the same top-k before and after."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)
    for g in range(5):
        delta = spark.createDataFrame(
            [
                (500000 + 10 * g + j, [float(g + j)] * 64)
                for j in range(3)
            ],
            "vec_id bigint, embedding array<double>",
        )
        ivf_index_append(spark, delta, idx, batch_id=f"gen{g}")
    assert ivf_needs_compaction(idx, max_runs_per_cell=4)

    queries = _emb(spark).filter(F.col("vec_id") < 8)
    before_rows = spark.read.parquet(os.path.join(idx, "cells")).count()
    before_topk = _topk_rows(spark, queries, idx)

    folded = compact_ivf_cells(spark, idx, max_runs_per_cell=1)
    assert folded  # something was dirty
    assert all(after == 1 for _b, after in folded.values())
    assert not ivf_needs_compaction(idx, max_runs_per_cell=1)
    # no stage debris
    staging = os.path.join(idx, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []

    assert spark.read.parquet(os.path.join(idx, "cells")).count() == before_rows
    assert _topk_rows(spark, queries, idx) == before_topk
    # idempotent: nothing left to fold
    assert compact_ivf_cells(spark, idx, max_runs_per_cell=1) == {}


def test_compact_kill_windows(spark, tmp_path):
    """Kill after staging but before _COMMITTED: the old layout wins (the
    unmarked stage is garbage). Kill after _COMMITTED: the next probe's
    entry publish rolls the fold forward — moves AND subsumed deletes —
    before reading."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)
    ivf_index_append(spark, _twin_of(spark, emb, 4, 600000), idx)
    queries = emb.filter(F.col("vec_id") < 8)
    want = _topk_rows(spark, queries, idx)
    layout_before = _ivf_live_files(idx)

    killpoints.kill_once("ivf:compact_staged")
    try:
        with pytest.raises(InjectedKill):
            compact_ivf_cells(spark, idx, max_runs_per_cell=1)
    finally:
        killpoints.disarm()
    assert _ivf_live_files(idx) == layout_before  # old layout intact
    assert _topk_rows(spark, queries, idx) == want

    killpoints.kill_once("ivf:compact_committed")
    try:
        with pytest.raises(InjectedKill):
            compact_ivf_cells(spark, idx, max_runs_per_cell=1)
    finally:
        killpoints.disarm()
    # committed: the next probe rolls it forward before reading
    assert _topk_rows(spark, queries, idx) == want
    assert not ivf_needs_compaction(idx, max_runs_per_cell=1)
    # only window 1's UNCOMMITTED stage may linger (age-guarded sweep: it
    # could belong to a live concurrent runner); no committed stage remains
    staging = os.path.join(idx, "_staging")
    for token in os.listdir(staging) if os.path.isdir(staging) else []:
        assert not os.path.exists(
            os.path.join(staging, token, "_COMMITTED")
        ), token


def test_rebuild_clears_stale_staging_and_applied(spark, tmp_path):
    """build_ivf_index over an existing index is a new identity: leftover
    staged deltas and applied-batch markers from the previous life are
    cleared (publishing an old stage into rebuilt cells would resurrect
    replaced rows; a stale applied marker would silently swallow a new
    batch that happens to reuse the id)."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)
    ivf_index_append(spark, _twin_of(spark, emb, 6, 700000), idx, batch_id="bX")
    assert ivf_batch_applied(idx, "bX")
    # fabricate a leftover uncommitted stage
    os.makedirs(os.path.join(idx, "_staging", "leftover"), exist_ok=True)

    build_ivf_index(emb, idx, n_cells=N_CELLS)  # retrain/rebuild
    assert not ivf_batch_applied(idx, "bX")
    assert not os.path.isdir(os.path.join(idx, "_staging"))
    # the same batch id appends cleanly into the new life
    assert (
        ivf_index_append(
            spark, _twin_of(spark, emb, 6, 700000), idx, batch_id="bX"
        )
        == 1
    )


def test_retrain_trigger_fires_on_measured_drift(spark, tmp_path):
    """The drift trigger is MEASURED recall, not append cadence: a corpus
    clustered like the quantizer's training data keeps recall at the
    build-time baseline, appending a same-size out-of-distribution blob
    (uniform noise over a 64-cell index probing 4 cells) drops measured
    recall by several points and fires the trigger at the measured
    tolerance; a retrain (build_ivf_index again) re-records the baseline
    and the trigger clears."""
    rng = np.random.RandomState(0)
    DIM, KD, NC = 8, 64, 64
    cents = rng.standard_normal((KD, DIM)) * 5.0

    def clustered(n, start):
        lab = rng.randint(0, KD, n)
        x = cents[lab] + rng.standard_normal((n, DIM)) * 0.2
        return [(start + i, [float(v) for v in x[i]]) for i in range(n)]

    def uniform(n, start):
        x = rng.uniform(-10, 10, (n, DIM))
        return [(start + i, [float(v) for v in x[i]]) for i in range(n)]

    schema = "vec_id bigint, embedding array<double>"
    base = spark.createDataFrame(clustered(6000, 0), schema)
    idx = str(tmp_path / "ivf")
    meta = build_ivf_index(base, idx, n_cells=NC, measure_recall=True)
    assert meta["baseline_recall"] >= 0.95  # clustered data: near-exact

    # in-distribution appends do NOT fire the trigger
    indist = spark.createDataFrame(clustered(2000, 50000), schema)
    ivf_index_append(spark, indist, idx)
    needs, cur = ivf_needs_retrain(spark, idx, drift_tolerance=0.05)
    assert not needs, (needs, cur)

    # out-of-distribution drift drops MEASURED recall and fires
    drift = spark.createDataFrame(uniform(6000, 100000), schema)
    ivf_index_append(spark, drift, idx)
    needs, cur = ivf_needs_retrain(spark, idx, drift_tolerance=0.05)
    assert cur < meta["baseline_recall"] - 0.05, cur
    assert needs
    # the absolute floor fires independently of a baseline
    needs_floor, _ = ivf_needs_retrain(
        spark, idx, drift_tolerance=1.0, floor=cur + 0.01
    )
    assert needs_floor

    # retrain over the current corpus cures it: fresh quantizer, fresh
    # baseline, trigger clears at the same tolerance
    build_ivf_index(
        base.unionByName(indist).unionByName(drift),
        idx,
        n_cells=NC,
        measure_recall=True,
    )
    needs, cur = ivf_needs_retrain(spark, idx, drift_tolerance=0.05)
    assert not needs, (needs, cur)


def test_recall_probe_is_deterministic(spark, tmp_path):
    """Same index, same sample protocol → the same measured recall (the
    trigger must never flap on its own measurement)."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)
    a = ivf_recall_probe(spark, idx, n_queries=16)
    b = ivf_recall_probe(spark, idx, n_queries=16)
    assert a == b
    assert 0.0 <= a <= 1.0


def test_publish_race_loser_compaction_is_discarded(spark, tmp_path):
    """A committed compaction stage whose _SUBSUMED snapshot no longer
    matches the live cells (a concurrent winner already folded them) is
    discarded whole — never published on top of the winner's layout."""
    import json

    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)

    stage = os.path.join(idx, "_staging", "t-loser")
    os.makedirs(stage)
    with open(os.path.join(stage, "_SUBSUMED.json"), "w") as fh:
        json.dump(["cell=0/part-gone-forever.snappy.parquet"], fh)
    publish.commit_stage(stage, "cells")
    out = _publish_ivf_staged(idx)
    assert out.get("t-loser") == "lost"
    assert not os.path.isdir(stage)


def test_tiered_fold_keeps_the_largest_runs_untouched(spark, tmp_path):
    """max_runs_per_cell > 1 is the loop posture: the per-cell BASE (the
    largest runs) is never read or rewritten — only the small append tail
    folds — so a trigger costs O(appends since last fold), not O(cell).
    Pinned by file identity: the base generation's files survive by name."""
    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)  # base: ~160 rows/cell
    base_layout = _ivf_live_files(idx)
    for g in range(4):  # tiny tail appends
        delta = spark.createDataFrame(
            [(800000 + 10 * g + j, [float(g + j + 1)] * 64) for j in range(2)],
            "vec_id bigint, embedding array<double>",
        )
        ivf_index_append(spark, delta, idx, batch_id=f"tail{g}")

    queries = emb.filter(F.col("vec_id") < 8)
    want = _topk_rows(spark, queries, idx)
    folded = compact_ivf_cells(spark, idx, max_runs_per_cell=2)
    assert folded
    after = _ivf_live_files(idx)
    for cell, files in base_layout.items():
        # every original base file is still live under its own name
        assert set(files) <= set(after.get(cell, [])), cell
    # folded cells now hold exactly base + one folded tail run
    from datalakejson_spark.functions.incremental_dedup import derive_runs

    for cell in folded:
        assert len(derive_runs(after[cell])) <= 2, (cell, after[cell])
    assert _topk_rows(spark, queries, idx) == want


def _cell_of(meta, vec):
    import numpy as np

    c = np.array(meta["centroids"])
    v = np.array(vec)
    return int(((c - v) ** 2).sum(axis=1).argmin())


def test_cell_split_is_localized_and_probe_exact(spark, tmp_path):
    """Splitting one overloaded cell touches ONLY that cell (every other
    cell's files survive by name), re-homes each row to its nearer
    sub-centroid, grows the quantizer atomically, and probes stay exact:
    a twin planted in the split cell is still its query's top neighbor."""
    from datalakejson_spark.functions.ivf import (
        ivf_cell_rows,
        ivf_overloaded_cells,
        split_ivf_cell,
    )

    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)
    meta0 = load_ivf_meta(idx)

    # overload one cell: pile a localized blob into the cell of vector 7
    base = emb.filter(F.col("vec_id") == 7).first()
    target_cell = _cell_of(meta0, base.embedding)
    rng = np.random.RandomState(5)
    blob = [
        (
            900000 + i,
            [float(v) + float(rng.standard_normal() * 0.05) for v in base.embedding],
        )
        for i in range(800)
    ]
    ivf_index_append(
        spark,
        spark.createDataFrame(blob, "vec_id bigint, embedding array<double>"),
        idx,
    )
    rows_before = ivf_cell_rows(idx)
    assert target_cell in ivf_overloaded_cells(idx, factor=2.0, min_rows=256)

    queries = emb.filter(F.col("vec_id") == 7)
    layout_before = _ivf_live_files(idx)

    new_cell = split_ivf_cell(spark, idx, target_cell)
    assert new_cell == N_CELLS  # the next slot

    meta1 = load_ivf_meta(idx)
    assert meta1["n_cells"] == N_CELLS + 1
    assert len(meta1["centroids"]) == N_CELLS + 1
    # locality: every OTHER cell's files are untouched by name
    after = _ivf_live_files(idx)
    for cell, files in layout_before.items():
        if cell == f"cell={target_cell}":
            continue
        assert after.get(cell) == files, cell
    # conservation + correct re-homing
    rows_after = ivf_cell_rows(idx)
    assert (
        rows_after.get(target_cell, 0) + rows_after.get(new_cell, 0)
        == rows_before[target_cell]
    )
    # the split's invariant is the 2-WAY argmin (it refines within the
    # cell; it does not re-run global assignment — that would be O(corpus),
    # and IVF residency is an approximation contract, not strict argmin)
    c_old = np.array(meta1["centroids"][target_cell])
    c_new = np.array(meta1["centroids"][new_cell])
    cells_df = spark.read.parquet(os.path.join(idx, "cells"))
    moved = cells_df.filter(F.col("cell").isin([target_cell, new_cell]))
    for r in moved.limit(2000).collect():
        v = np.array(r.embedding)
        nearer = (
            target_cell
            if ((v - c_old) ** 2).sum() <= ((v - c_new) ** 2).sum()
            else new_cell
        )
        assert nearer == r.cell, r.vec_id
    # probe exactness: the twin blob dominates vector 7's neighborhood
    top = (
        ivf_index_topk(spark, queries, idx)
        .filter(F.col("rn") == 1)
        .first()
    )
    assert 900000 <= top.neighbor_id < 900800
    # the trigger is satisfied for that hotspot
    assert target_cell not in ivf_overloaded_cells(idx, factor=2.0, min_rows=256) or (
        new_cell in rows_after
    )


def test_cell_split_kill_windows(spark, tmp_path):
    """Kill before _COMMITTED: old layout AND old quantizer win (no meta
    flip). Kill after _COMMITTED: the next entry publish rolls the split
    forward — moves, meta flip, deletes — and a replayed split call
    against the now-grown meta targets a fresh slot instead of corrupting
    the taken one."""
    from datalakejson_spark.functions.ivf import split_ivf_cell

    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)

    killpoints.kill_once("ivf:split_staged")
    try:
        with pytest.raises(InjectedKill):
            split_ivf_cell(spark, idx, 3)
    finally:
        killpoints.disarm()
    assert load_ivf_meta(idx)["n_cells"] == N_CELLS  # meta untouched

    killpoints.kill_once("ivf:split_committed")
    try:
        with pytest.raises(InjectedKill):
            split_ivf_cell(spark, idx, 3)
    finally:
        killpoints.disarm()
    # committed: any entry point's publish completes it (here: a probe) —
    # and the SAME probe call must already use the flipped quantizer
    # (meta loads AFTER the entry publish — review catch, round 13: with
    # the pre-publish load, a probe that rolled the split forward planned
    # over pre-split centroids and silently dropped the re-homed half)
    queries = emb.filter(F.col("vec_id") < 4)
    rows = ivf_index_topk(spark, queries, idx).collect()
    assert rows
    meta = load_ivf_meta(idx)
    assert meta["n_cells"] == N_CELLS + 1
    # total rows conserved through the crash-recovered split
    cells_df = spark.read.parquet(os.path.join(idx, "cells"))
    assert cells_df.count() == emb.count()
    assert cells_df.groupBy("vec_id").count().filter("count > 1").count() == 0
    # probe exactness post-roll-forward: a vector re-homed into the NEW
    # cell is found as its own twin's top neighbor
    moved = cells_df.filter(F.col("cell") == N_CELLS).first()
    if moved is not None:  # the split may be lopsided but never empty-new
        twin = spark.createDataFrame(
            [(7777777, [float(v) + 1e-5 for v in moved.embedding])],
            "vec_id bigint, embedding array<double>",
        )
        top = (
            ivf_index_topk(spark, twin, idx)
            .filter(F.col("rn") == 1)
            .first()
        )
        assert top.neighbor_id == moved.vec_id


def test_racing_splits_fence_on_the_centroid_slot(spark, tmp_path):
    """Two splits of DIFFERENT cells racing for the same new-centroid slot:
    the loser's committed stage is discarded before any move — publishing
    it would merge two different cells' vectors into one partition."""
    import json

    from datalakejson_spark.functions.ivf import split_ivf_cell

    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)

    # fabricate the LOSER: a committed split of cell 5 claiming slot 16
    live = _ivf_live_files(idx)
    loser = os.path.join(idx, "_staging", "a-loser")
    os.makedirs(os.path.join(loser, "cells", "cell=5"))
    with open(os.path.join(loser, "_SPLIT.json"), "w") as fh:
        json.dump(
            {"cell": 5, "new_cell": N_CELLS,
             "centroids": [[0.0] * 64, [1.0] * 64]},
            fh,
        )
    with open(os.path.join(loser, "_SUBSUMED.json"), "w") as fh:
        json.dump([f"cell=5/{n}" for n in live["cell=5"]], fh)

    # the WINNER takes slot 16 first (a real split of cell 3)
    assert split_ivf_cell(spark, idx, 3) == N_CELLS

    publish.commit_stage(loser, "cells")
    out = _publish_ivf_staged(idx)
    assert out.get("a-loser") == "lost"
    meta = load_ivf_meta(idx)
    assert meta["n_cells"] == N_CELLS + 1  # only the winner's slot
    # cell 5 is fully intact
    assert _ivf_live_files(idx)["cell=5"] == live["cell=5"]


def test_concurrent_splits_serialize_on_the_slot_claim(spark, tmp_path):
    """Two split_ivf_cell calls racing from two threads: the atomic mkdir
    slot claim serializes their publishes, so the outcome is always a
    consistent quantizer — either one split won (the loser reruns against
    the grown meta) or both landed on DIFFERENT slots; never two cells
    merged under one centroid."""
    from datalakejson_spark.functions.ivf import ivf_cell_rows, split_ivf_cell

    emb = _emb(spark)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=N_CELLS)
    total = emb.count()

    results: dict[int, int | None] = {}

    def run_split(cell: int) -> None:
        results[cell] = split_ivf_cell(spark, idx, cell, seed=43 + cell)

    t1 = threading.Thread(target=run_split, args=(3,), daemon=True)
    t2 = threading.Thread(target=run_split, args=(5,), daemon=True)
    t1.start(); t2.start()
    t1.join(timeout=180); t2.join(timeout=180)

    meta = load_ivf_meta(idx)
    winners = [c for c, new in results.items() if new is not None]
    assert winners  # at least one split landed
    # slots are UNIQUE: the winners' new cells are distinct and the meta
    # grew by exactly the number of winners
    new_cells = [results[c] for c in winners]
    assert len(set(new_cells)) == len(new_cells)
    assert meta["n_cells"] == N_CELLS + len(winners)
    # conservation + no cell-merge corruption: every vector exactly once
    cells_df = spark.read.parquet(os.path.join(idx, "cells"))
    assert cells_df.count() == total
    assert cells_df.groupBy("vec_id").count().filter("count > 1").count() == 0
    assert sum(ivf_cell_rows(idx).values()) == total
    # no leaked slot claims
    staging = os.path.join(idx, "_staging")
    if os.path.isdir(staging):
        leftover = [t for t in os.listdir(staging) if t.startswith("_SLOT_")]
        assert leftover == [], leftover
