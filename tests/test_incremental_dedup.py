"""Incremental cross-batch dedup (functions/incremental_dedup.py): the
index+delta loop, audit flag semantics, and probe plan shape."""

from __future__ import annotations

import pyspark.sql.functions as F

from datalakejson_spark import publish
from datalakejson_spark.functions.incremental_dedup import (
    dedup_audit,
    exact_hash_index,
    ingest_batch_dedup,
)
from datalakejson_spark.functions.dedup import band_table, minhash_signatures
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


BASE = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the quiet river bank tonight"
OTHER = "entirely different content about distributed query engines and parquet files"


def test_ingest_batch_dedup_loop(spark, tmp_path):
    idx = str(tmp_path / "idx")

    # Batch 1 bootstraps empty indexes: everything survives.
    b1 = _docs(spark, [(1, BASE), (2, OTHER)])
    kept1 = ingest_batch_dedup(spark, b1, idx)
    assert {r.doc_id for r in kept1.collect()} == {1, 2}

    # Batch 2: exact copy of doc 1, near-copy of doc 1 (one token changed →
    # shares 3-word shingles → at least one band collides), and a novel doc.
    novel = "completely fresh text with no overlap whatsoever in any shingle window"
    b2 = _docs(spark, [(10, BASE), (11, NEAR), (12, novel)])
    kept2 = ingest_batch_dedup(spark, b2, idx)
    assert {r.doc_id for r in kept2.collect()} == {12}

    # Batch 3: re-presenting batch 2's survivor → now an exact dup (the loop
    # invariant: survivors were appended to the index).
    b3 = _docs(spark, [(20, novel)])
    kept3 = ingest_batch_dedup(spark, b3, idx)
    assert kept3.count() == 0


def test_audit_flags(spark):
    corpus = _docs(spark, [(1, BASE)])
    delta = _docs(spark, [(10, BASE), (11, NEAR), (12, OTHER)])
    bands = band_table(minhash_signatures(corpus))
    audit = {
        r.doc_id: (r.is_exact_dup, r.is_near_dup, r.kept)
        for r in dedup_audit(delta, exact_hash_index(corpus), bands).collect()
    }
    assert audit[10] == (True, True, False)  # identical text ⇒ both flags
    assert audit[11] == (False, True, False)  # near-copy: bands only
    assert audit[12] == (False, False, True)  # novel
    assert len(audit) == 3  # every delta doc audited exactly once


def test_audit_probe_plan_shape(spark):
    """Both probes must be semi-join-shaped bucket joins — never a cartesian
    or a join carrying document text. The only columns crossing the probe
    joins are fixed-width hashes + ids."""
    corpus = _docs(spark, [(i, f"{BASE} {i}") for i in range(1, 30)])
    delta = _docs(spark, [(100 + i, f"{OTHER} {i}") for i in range(30)])
    audit = dedup_audit(delta, exact_hash_index(corpus), band_table(minhash_signatures(corpus)))
    plan = audit._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert audit.count() == 30


def test_audit_probes_never_shuffle_the_index(spark):
    """The round-10 probe flip: a left-semi join broadcasts only its BUILD
    (right) side, so the naive `delta SEMI index` shape shuffles the ENTIRE
    index every batch once it outgrows the auto-broadcast threshold
    (measured: 144.5 MB shuffled per 1000-doc batch at a 10^6-doc index vs
    0.2 MB flipped). The flipped probes put the delta-derived keys on the
    build side with EXPLICIT broadcast hints, so the plan keeps its
    broadcast joins even with auto-broadcast disabled — which is exactly
    the regime a 100 TB index is always in. Pin: no SortMergeJoin /
    ShuffledHashJoin anywhere in the audit plan under threshold=-1."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        corpus = _docs(spark, [(i, f"{BASE} {i}") for i in range(1, 30)])
        delta = _docs(spark, [(100 + i, f"{OTHER} {i}") for i in range(30)])
        audit = dedup_audit(
            delta, exact_hash_index(corpus), band_table(minhash_signatures(corpus))
        )
        assert audit.count() == 30
        plan = audit._jdf.queryExecution().executedPlan().toString()
        semi_plan = plan.split("Project")[0]  # whole plan: probes + markers
        assert "SortMergeJoin LeftSemi" not in plan, plan
        assert "ShuffledHashJoin LeftSemi" not in plan, plan
        assert plan.count("BroadcastHashJoin") >= 4, semi_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_streaming_dedup_ingest(spark, tmp_path):
    """The streaming composition: drain 1 curates batch 1 and seeds the
    indexes; drain 2 (same checkpoint, new file) appends ONLY content never
    seen before — an exact re-send and a near-copy are both dropped even
    though they arrive in a brand-new file."""
    import json

    from pyspark.sql import types as T

    from datalakejson_spark.streaming.dedup_stream import streaming_dedup_ingest

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    land = tmp_path / "landing"
    land.mkdir()
    (land / "f1.json").write_text(
        json.dumps({"doc_id": 1, "text": BASE})
        + "\n"
        + json.dumps({"doc_id": 2, "text": OTHER})
        + "\n"
    )
    args = dict(
        landing_dir=str(land),
        curated_dir=str(tmp_path / "curated"),
        index_dir=str(tmp_path / "idx"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=schema,
    )
    streaming_dedup_ingest(spark, **args).awaitTermination()
    assert {
        r.doc_id for r in spark.read.parquet(args["curated_dir"]).collect()
    } == {1, 2}

    novel = "genuinely new material mentioning structured streaming checkpoints"
    (land / "f2.json").write_text(
        json.dumps({"doc_id": 10, "text": BASE})  # exact re-send
        + "\n"
        + json.dumps({"doc_id": 11, "text": NEAR})  # near-copy
        + "\n"
        + json.dumps({"doc_id": 12, "text": novel})
        + "\n"
    )
    streaming_dedup_ingest(spark, **args).awaitTermination()
    assert {
        r.doc_id for r in spark.read.parquet(args["curated_dir"]).collect()
    } == {1, 2, 12}


def test_intra_batch_duplicates_are_removed(spark, tmp_path):
    """Two copies in the SAME batch (exact + near) collapse before the
    corpus audit — the corpus-only probe can't see them, the within-batch
    stage must."""
    idx = str(tmp_path / "idx")
    batch = _docs(
        spark, [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
    )  # 2=exact dup of 1, 3=near dup of 1
    kept = ingest_batch_dedup(spark, batch, idx)
    assert {r.doc_id for r in kept.collect()} == {1, 4}


def test_crash_before_index_append_is_not_data_loss(spark, tmp_path):
    """The ordering contract: deliver (curated write) runs BEFORE the index
    appends, so a crash in between replays as a duplicate delivery — never
    as a lost batch. Simulated by an on_kept that delivers then raises."""
    idx = str(tmp_path / "idx")
    curated = str(tmp_path / "curated")

    def deliver_then_crash(kept):
        kept.write.mode("append").parquet(curated)
        raise RuntimeError("simulated crash before index append")

    b = _docs(spark, [(1, BASE)])
    try:
        ingest_batch_dedup(spark, b, idx, on_kept=deliver_then_crash)
        raise AssertionError("crash did not propagate")
    except RuntimeError:
        pass
    # Crash propagated → checkpoint would NOT commit → the batch replays.
    # The indexes are unchanged, so the replay keeps the same survivors and
    # delivers again (duplicate), then appends the indexes.
    replay_kept = ingest_batch_dedup(
        spark, b, idx, on_kept=lambda k: k.write.mode("append").parquet(curated)
    )
    assert replay_kept.count() == 1  # NOT lost
    assert spark.read.parquet(curated).count() == 2  # duplicate, resolvable
    # And a third presentation is now a plain duplicate of the indexed doc.
    assert ingest_batch_dedup(spark, _docs(spark, [(9, BASE)]), idx).count() == 0


def test_half_present_index_pair_raises(spark, tmp_path):
    """hashes/ present but bands/ missing (external tampering — the staged
    publish never leaves this state) must refuse to audit: a one-eyed audit
    would silently re-admit every near-dup."""
    import pytest

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(spark, _docs(spark, [(1, BASE)]), idx)
    import shutil

    shutil.rmtree(f"{idx}/bands")
    with pytest.raises(RuntimeError, match="half-present"):
        ingest_batch_dedup(spark, _docs(spark, [(2, OTHER)]), idx)


def test_emptied_index_dir_raises_not_bootstraps(spark, tmp_path):
    """An existing-but-emptied index dir is NOT a first-batch bootstrap: it
    raises (UNABLE_TO_INFER_SCHEMA), because auditing against an
    accidentally-empty index re-ingests the whole corpus as novel."""
    import pytest

    idx = tmp_path / "idx"
    (idx / "hashes").mkdir(parents=True)
    (idx / "bands").mkdir()
    with pytest.raises(Exception) as exc_info:
        ingest_batch_dedup(spark, _docs(spark, [(1, BASE)]), str(idx))
    assert "half-present" not in str(exc_info.value)  # the OTHER guard
    assert not isinstance(exc_info.value, AssertionError)


def test_committed_stage_rolls_forward_before_audit(spark, tmp_path):
    """Crash AFTER the _COMMITTED marker but before publish: the next call
    completes BOTH moves before auditing, so a replayed batch sees its own
    bands (not just its hashes) and the index pair never drifts apart."""
    import os
    import shutil

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(spark, _docs(spark, [(1, BASE)]), idx)
    # Simulate the crash window: re-create batch 2's committed-but-unpublished
    # stage by running it normally, then moving its published band rows back
    # into a staged dir (equivalent on-disk state).
    b2_text = "totally distinct second document content for the staging test"
    ingest_batch_dedup(spark, _docs(spark, [(2, b2_text)]), idx)
    stage = os.path.join(idx, "_staging", "deadbeef")
    os.makedirs(os.path.join(stage, "hashes"))
    os.makedirs(os.path.join(stage, "bands"))
    # Move ALL live band files into the stage (as if publish moved hashes
    # only for some earlier crash... stronger: bands entirely unpublished).
    live_bands = os.path.join(idx, "bands")
    for name in os.listdir(live_bands):
        if name.endswith(".parquet"):
            shutil.move(
                os.path.join(live_bands, name), os.path.join(stage, "bands", name)
            )
    publish.commit_stage(stage)
    # A near-copy of doc 2 must STILL be caught: roll-forward restores bands
    # before the audit reads them.
    near2 = "totally distinct second document content for the staging tests"
    kept = ingest_batch_dedup(spark, _docs(spark, [(9, near2)]), idx)
    assert kept.count() == 0
    assert not os.path.exists(stage)


def test_uncommitted_stage_is_discarded(spark, tmp_path):
    """Crash BEFORE the marker: the stage is garbage (the batch itself will
    replay) and must never publish. Sweep policy: a FRESH markerless stage
    is left alone (it may be a live concurrent runner mid-write); one older
    than the grace period is removed."""
    import os
    import time

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(spark, _docs(spark, [(1, BASE)]), idx)
    stage = os.path.join(idx, "_staging", "cafebabe")
    os.makedirs(os.path.join(stage, "hashes"))
    (spark.createDataFrame([("feedface" * 4,)], "text_hash string")
        .write.mode("overwrite").parquet(os.path.join(stage, "hashes")))
    # no _COMMITTED marker; fresh → must survive the next batch's sweep
    kept = ingest_batch_dedup(spark, _docs(spark, [(2, OTHER)]), idx)
    assert kept.count() == 1
    assert os.path.exists(stage)  # live-runner protection
    # ... but it never publishes, fresh or stale
    live = spark.read.parquet(os.path.join(idx, "hashes"))
    assert live.filter(F.col("text_hash") == "feedface" * 4).count() == 0
    # age it past the grace period → swept by the next batch. The sweep
    # ages on the NEWEST mtime in the tree (round 15: a live stager's
    # deep writes keep it alive) — backdate every entry
    old = time.time() - 7200
    for root, dirs, files in os.walk(stage):
        for name in dirs + files:
            os.utime(os.path.join(root, name), (old, old))
    os.utime(stage, (old, old))
    ingest_batch_dedup(spark, _docs(spark, [(3, NEAR)]), idx)
    assert not os.path.exists(stage)
    live = spark.read.parquet(os.path.join(idx, "hashes"))
    assert live.filter(F.col("text_hash") == "feedface" * 4).count() == 0


def test_corrupt_index_raises_not_reingests(spark, tmp_path):
    """A non-missing but unreadable index must FAIL the batch, not silently
    audit against empty indexes (which would re-ingest the whole corpus)."""
    import pytest

    idx = tmp_path / "idx"
    (idx / "hashes").mkdir(parents=True)
    (idx / "bands").mkdir()
    (idx / "hashes" / "part-0000.parquet").write_bytes(b"not parquet at all")
    (idx / "bands" / "part-0000.parquet").write_bytes(b"not parquet either")
    with pytest.raises(Exception) as exc_info:
        ingest_batch_dedup(spark, _docs(spark, [(1, BASE)]), str(idx)).count()
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


# ---------------------------------------------------------------------------
# Index compaction (round 10): every staged append publishes >=1 new file
# per subdir, and the audit pays the file count every batch (measured +45%
# wall at 2048 files vs 32, local fs, 10^6-doc index — SCALE.md).
# ---------------------------------------------------------------------------
def _parquet_files(idx: str, sub: str) -> set[str]:
    import os

    d = os.path.join(idx, sub)
    return {n for n in os.listdir(d) if n.endswith(".parquet")}


def _audit_snapshot(spark, idx: str, delta) -> list:
    from datalakejson_spark.functions.incremental_dedup import _read_index_pair

    hashes, bands = _read_index_pair(spark, idx, "doc_id")
    return sorted(
        dedup_audit(delta, hashes, bands).collect(), key=lambda r: r.doc_id
    )


@pytest.mark.soak
def test_compact_index_shrinks_files_and_preserves_audit(spark, tmp_path):
    from datalakejson_spark.functions.incremental_dedup import compact_index

    idx = str(tmp_path / "idx")
    texts = [BASE, OTHER,
             "fresh corpus text about columnar layouts and predicate pushdown",
             "another unrelated document mentioning watermark semantics today",
             "final unique entry covering broadcast joins and shuffle salting"]
    for i, t in enumerate(texts):  # 5 appends -> >=5 file sets per subdir
        ingest_batch_dedup(spark, _docs(spark, [(i, t)]), idx)
    before_h = _parquet_files(idx, "hashes")
    assert len(before_h) >= 5
    delta = _docs(spark, [(100, BASE), (101, NEAR), (102, "wholly novel words")])
    before = _audit_snapshot(spark, idx, delta)

    counts = compact_index(spark, idx)
    for sub in ("hashes", "bands"):
        b, a = counts[sub]
        assert a < b, counts
        assert len(_parquet_files(idx, sub)) == a
    assert _audit_snapshot(spark, idx, delta) == before
    # The loop keeps working on the compacted layout (append + re-audit).
    assert ingest_batch_dedup(spark, _docs(spark, [(200, BASE)]), idx).count() == 0
    kept = ingest_batch_dedup(spark, _docs(spark, [(201, "never seen before text")]), idx)
    assert kept.count() == 1
    # Recompaction folds the post-compaction appends back in…
    again = compact_index(spark, idx)
    for sub in ("hashes", "bands"):
        assert again[sub][1] <= again[sub][0]
    # …and a back-to-back call is a no-op: never rewrites to MORE files.
    noop = compact_index(spark, idx)
    for sub in ("hashes", "bands"):
        assert noop[sub][0] == noop[sub][1]


@pytest.mark.soak
def test_compact_kill_before_marker_leaves_old_layout(spark, tmp_path):
    from datalakejson_spark.plans.killpoints import InjectedKill, arm, disarm
    from datalakejson_spark.functions.incremental_dedup import compact_index

    idx = str(tmp_path / "idx")
    for i, t in enumerate([BASE, OTHER]):
        ingest_batch_dedup(spark, _docs(spark, [(i, t)]), idx)
    before_files = _parquet_files(idx, "hashes")
    delta = _docs(spark, [(100, BASE), (102, "wholly novel words")])
    before = _audit_snapshot(spark, idx, delta)

    arm("dedup:compact_staged", lambda: (_ for _ in ()).throw(InjectedKill()))
    try:
        try:
            compact_index(spark, idx)
            raise AssertionError("kill did not fire")
        except InjectedKill:
            pass
    finally:
        disarm("dedup:compact_staged")
    # No marker -> the live layout is untouched and the next batch neither
    # publishes nor loses anything (the unmarked stage ages out later).
    assert _parquet_files(idx, "hashes") == before_files
    assert _audit_snapshot(spark, idx, delta) == before
    assert ingest_batch_dedup(spark, _docs(spark, [(300, BASE)]), idx).count() == 0


@pytest.mark.soak
def test_compact_kill_after_marker_rolls_forward(spark, tmp_path):
    from datalakejson_spark.plans.killpoints import InjectedKill, arm, disarm
    from datalakejson_spark.functions.incremental_dedup import compact_index

    idx = str(tmp_path / "idx")
    for i, t in enumerate([BASE, OTHER,
                           "fresh corpus text about columnar layouts"]):
        ingest_batch_dedup(spark, _docs(spark, [(i, t)]), idx)
    n_before = len(_parquet_files(idx, "hashes"))
    delta = _docs(spark, [(100, BASE), (102, "wholly novel words")])
    before = _audit_snapshot(spark, idx, delta)

    arm("dedup:compact_committed", lambda: (_ for _ in ()).throw(InjectedKill()))
    try:
        try:
            compact_index(spark, idx)
            raise AssertionError("kill did not fire")
        except InjectedKill:
            pass
    finally:
        disarm("dedup:compact_committed")
    # Marker present, not yet published: the next batch's _publish_staged
    # completes the compaction (moves + subsumed deletes) BEFORE auditing.
    assert ingest_batch_dedup(spark, _docs(spark, [(300, BASE)]), idx).count() == 0
    assert len(_parquet_files(idx, "hashes")) < n_before + 1  # compacted + 0-1 append sets
    assert _audit_snapshot(spark, idx, delta) == before


def test_audit_bulk_posture_drops_forced_broadcast(spark):
    """broadcast_delta=False (the corpus-scale backfill posture) keeps the
    flipped orientation but drops the hints, so the planner sizes the
    joins from stats instead of force-collecting delta-derived keys to the
    driver. Results identical; with auto-broadcast disabled the plan
    proves the hints are really gone (no broadcast joins at all)."""
    corpus = _docs(spark, [(i, f"{BASE} {i}") for i in range(1, 30)])
    delta = _docs(spark, [(100, BASE), (101, NEAR), (102, OTHER)])
    hashes, bands = exact_hash_index(corpus), band_table(minhash_signatures(corpus))
    default = sorted(map(tuple, dedup_audit(delta, hashes, bands).collect()))
    bulk_df = dedup_audit(delta, hashes, bands, broadcast_delta=False)
    assert sorted(map(tuple, bulk_df.collect())) == default
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bulk_df = dedup_audit(delta, hashes, bands, broadcast_delta=False)
        bulk_df.count()
        plan = bulk_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_write_lane_meta_refuses_definition_overwrite(tmp_path, monkeypatch):
    """Re-stamping a marker that records a DIFFERENT lane definition must
    refuse (review catch, round 10): the stamp asserts how the FILES were
    written, and a habitual stamp-before-audit would otherwise neutralize
    the drift guard. Matching re-stamp stays idempotent; force=True is the
    rebuild path's escape hatch."""
    import json

    import pytest

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    inc.write_lane_meta(idx)  # fresh stamp
    inc.write_lane_meta(idx)  # matching re-stamp: idempotent, no error

    # Simulate an index built under the OLD 16-bit definition.
    stale = dict(inc._current_lane_meta(), lane_hex=4)
    with open(f"{idx}/{inc._LANES_META}", "w") as fh:
        json.dump(stale, fh)
    with pytest.raises(RuntimeError, match="refusing to re-stamp"):
        inc.write_lane_meta(idx)
    with open(f"{idx}/{inc._LANES_META}") as fh:
        assert json.load(fh) == stale  # guard left the old marker intact

    inc.write_lane_meta(idx, force=True)
    with open(f"{idx}/{inc._LANES_META}") as fh:
        assert json.load(fh) == inc._current_lane_meta()


def _distinct_text(i: int) -> str:
    """Genuinely distinct fixture documents: md5-derived token streams, so
    token sets of different ``i`` share ~nothing and neither the intra-batch
    LSH pass nor the corpus audit sees them as near-dups — unlike naive
    templates that differ by one token and ARE near-duplicates by
    construction (and unlike arithmetic-progression tokens, where certain
    id deltas align the progressions almost completely)."""
    import hashlib

    return " ".join(
        "w" + hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8]
        for j in range(14)
    )


@pytest.mark.soak
def test_range_pruned_probe_is_sound_and_selective(spark, tmp_path):
    """Round-11 index-scan pruning: after compaction range-sorts the index
    by the probe key, a micro-batch audit reads only the files whose
    _RANGES.json/footer key range can contain a delta key — with the audit
    verdicts byte-identical to the full read (a skipped file provably holds
    no delta key, so it can contribute no collision)."""
    from datalakejson_spark.functions.incremental_dedup import (
        _read_index_pair,
        _read_index_pair_pruned,
        compact_index,
    )

    idx = str(tmp_path / "idx")
    # 20 appended file sets of distinct docs, then compact with a tiny
    # target so BOTH subdirs rewrite into several range-disjoint files
    # (bands carry NUM_BANDS x the hash rows, so parts_bands = 4 x
    # parts_hashes must still be < the 20 input files).
    for b in range(20):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 12 + k, _distinct_text(b * 12 + k)) for k in range(12)]),
            idx,
            compact_max_runs=None,
        )
    compact_index(spark, idx, target_rows_per_file=60)
    n_hash_files = len(_parquet_files(idx, "hashes"))
    n_band_files = len(_parquet_files(idx, "bands"))
    assert n_hash_files >= 3 and n_band_files >= 3

    delta = _docs(
        spark, [(500, _distinct_text(7)), (501, "totally novel words here")]
    )
    hash_keys = [r[0] for r in delta.select(F.md5("text")).collect()]
    band_keys = [
        r[0]
        for r in band_table(minhash_signatures(delta)).select("band_hash").collect()
    ]
    ph, pb, stats = _read_index_pair_pruned(
        spark, idx, "doc_id", hash_keys, band_keys
    )
    # Selectivity: 2 delta docs -> at most 2 hash keys can hit, so the
    # pruned hash read must touch fewer files than the total.
    assert stats["hashes"][1] == n_hash_files
    assert stats["hashes"][0] < n_hash_files
    assert stats["bands"][0] <= n_band_files
    # Soundness: byte-identical audit verdicts vs the full read.
    fh, fb = _read_index_pair(spark, idx, "doc_id")
    pruned_df = dedup_audit(delta, ph, pb)
    full_df = dedup_audit(delta, fh, fb)
    pruned = sorted(pruned_df.collect(), key=lambda r: r.doc_id)
    full = sorted(full_df.collect(), key=lambda r: r.doc_id)
    assert pruned == full
    assert [r.doc_id for r in pruned if r.is_exact_dup] == [500]
    assert [r.doc_id for r in pruned if r.kept] == [501]
    # Executed SQLMetrics: the pruned audit must actually READ fewer index
    # rows than the full one (the r11 point — shuffle was already O(batch)
    # after the r10 flip; the scan is what the sidecars cut).
    from datalakejson_spark.plans.metrics import executed_summary

    pruned_scan = executed_summary(pruned_df)["scan_rows"]
    full_scan = executed_summary(full_df)["scan_rows"]
    assert pruned_scan < full_scan * 0.67, (pruned_scan, full_scan)

    # End-to-end: the loop itself (which plans the pruned read internally)
    # reaches the same verdicts.
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(600, _distinct_text(11)), (601, "wholly new words")]),
        idx,
        compact_max_runs=None,
    )
    assert [r.doc_id for r in kept.collect()] == [601]


@pytest.mark.soak
def test_pruning_sidecar_self_heals_and_tolerates_corruption(spark, tmp_path):
    """_RANGES.json is a pure cache: deleting or corrupting it only makes
    the next probe re-derive ranges from footers (and rewrite the sidecar);
    pruning decisions stay sound throughout."""
    import json
    import os

    from datalakejson_spark.functions.incremental_dedup import (
        _file_ranges,
        _sidecar_paths,
        compact_index,
    )

    idx = str(tmp_path / "idx")
    for b in range(8):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 8 + k, _distinct_text(b * 8 + k)) for k in range(8)]),
            idx,
            compact_max_runs=None,
        )
    compact_index(spark, idx, target_rows_per_file=20)
    live = os.path.join(idx, "hashes")
    ranges = _file_ranges(live, "text_hash")
    assert _sidecar_paths(live)  # persisted (sharded since round 14)
    assert all(r is not None and r[0] <= r[1] for r in ranges.values())
    # Ranges of compacted files are disjoint (range-sorted layout).
    spans = sorted(r for r in ranges.values() if r)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)

    # Corrupt one shard: next read self-heals its files from footers.
    victim = _sidecar_paths(live)[0]
    with open(victim, "w") as fh:
        fh.write("[not a dict")
    healed = _file_ranges(live, "text_hash")
    assert healed == ranges
    with open(victim) as fh:
        assert json.load(fh)  # rewritten as valid JSON

    # Delete every sidecar file: same answer again.
    for p in _sidecar_paths(live):
        os.remove(p)
    assert _file_ranges(live, "text_hash") == ranges


@pytest.mark.soak
def test_compaction_is_loop_policy(spark, tmp_path):
    """Round 11: ingest_batch_dedup triggers a tiered compact_index itself
    when a live subdir's RUN count (write generations — one per append)
    crosses compact_max_runs — file and run counts plateau across many
    batches instead of growing one file set per batch, the trigger
    decision is driver-side sidecar metadata, and the audits keep their
    verdicts (novel docs kept, replayed dups dropped) throughout."""
    idx = str(tmp_path / "idx")
    max_files = 0
    for i in range(14):
        kept = ingest_batch_dedup(
            spark,
            _docs(spark, [(i, _distinct_text(i))]),
            idx,
            compact_max_runs=4,
        )
        assert kept.count() == 1  # novel every time
        max_files = max(
            max_files,
            len(_parquet_files(idx, "hashes")),
            len(_parquet_files(idx, "bands")),
        )
        # replaying an already-ingested doc is still a drop after compaction
        if i in (6, 13):
            replay = ingest_batch_dedup(
                spark,
                _docs(spark, [(1000 + i, _distinct_text(i))]),
                idx,
                compact_max_runs=4,
            )
            assert replay.count() == 0
    # Plateau: at most compact_max_runs appends above the merged layout —
    # far below the 14+ files an uncompacted loop accumulates per subdir.
    assert max_files <= 8, max_files


def test_rebuild_index_is_the_lane_guards_executable_answer(spark, tmp_path):
    """A definition-drifted index refuses audits (_check_lane_meta);
    rebuild_index re-derives the pair from the curated corpus under the
    CURRENT definition via the staged publish — after it, audits resume
    with the same verdicts the index held before the drift."""
    import json
    import os

    import pytest

    from datalakejson_spark.functions.incremental_dedup import (
        _LANES_META,
        _current_lane_meta,
        rebuild_index,
    )

    idx = str(tmp_path / "idx")
    corpus_rows = [(i, _distinct_text(i)) for i in range(24)]
    ingest_batch_dedup(spark, _docs(spark, corpus_rows), idx)
    old_files = _parquet_files(idx, "hashes") | _parquet_files(idx, "bands")

    # Simulate definition drift: the marker records another lane width.
    with open(os.path.join(idx, _LANES_META), "w") as fh:
        json.dump(dict(_current_lane_meta(), lane_hex=4), fh)
    with pytest.raises(RuntimeError, match="lane"):
        ingest_batch_dedup(spark, _docs(spark, [(500, "novel")]), idx)

    written = rebuild_index(spark, _docs(spark, corpus_rows), idx)
    assert written["hashes"] == 24  # distinct texts
    assert written["bands"] == 24 * 4  # NUM_BANDS rows per doc
    with open(os.path.join(idx, _LANES_META)) as fh:
        assert json.load(fh) == _current_lane_meta()
    # Old-definition files are gone; the rebuilt layout replaced them.
    now = _parquet_files(idx, "hashes") | _parquet_files(idx, "bands")
    assert not (now & old_files)
    # Audits resume: replayed corpus doc drops, novel doc survives.
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(600, _distinct_text(3)), (601, "wholly novel words")]),
        idx,
    )
    assert [r.doc_id for r in kept.collect()] == [601]


def test_rebuild_kill_windows(spark, tmp_path):
    """Crash BEFORE the rebuild commits: old index (and old marker) win —
    the guard still refuses, rebuild is simply re-run. Crash AFTER the
    commit marker: the next entry point's _publish_staged completes the
    replacement INCLUDING the lane-marker flip before the guard runs, so
    the loop self-heals without operator action."""
    import json
    import os

    import pytest

    from datalakejson_spark.plans.killpoints import InjectedKill, arm, disarm
    from datalakejson_spark.functions.incremental_dedup import (
        _LANES_META,
        _current_lane_meta,
        rebuild_index,
    )

    idx = str(tmp_path / "idx")
    corpus_rows = [(i, _distinct_text(i)) for i in range(10)]
    ingest_batch_dedup(spark, _docs(spark, corpus_rows), idx)
    stale = dict(_current_lane_meta(), lane_hex=4)
    with open(os.path.join(idx, _LANES_META), "w") as fh:
        json.dump(stale, fh)

    # Window 1: kill before the commit marker.
    arm("dedup:rebuild_staged", lambda: (_ for _ in ()).throw(InjectedKill()))
    try:
        with pytest.raises(InjectedKill):
            rebuild_index(spark, _docs(spark, corpus_rows), idx)
    finally:
        disarm("dedup:rebuild_staged")
    with open(os.path.join(idx, _LANES_META)) as fh:
        assert json.load(fh) == stale  # old definition still recorded
    with pytest.raises(RuntimeError, match="lane"):
        ingest_batch_dedup(spark, _docs(spark, [(500, "x")]), idx)

    # Window 2: kill after the commit marker, before publish.
    arm("dedup:rebuild_committed", lambda: (_ for _ in ()).throw(InjectedKill()))
    try:
        with pytest.raises(InjectedKill):
            rebuild_index(spark, _docs(spark, corpus_rows), idx)
    finally:
        disarm("dedup:rebuild_committed")
    # Self-heal: the next loop entry rolls the rebuild forward (marker
    # flips to current) and the audit proceeds.
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(600, _distinct_text(2)), (601, "fresh novel words")]),
        idx,
    )
    assert [r.doc_id for r in kept.collect()] == [601]
    with open(os.path.join(idx, _LANES_META)) as fh:
        assert json.load(fh) == _current_lane_meta()


def test_null_text_does_not_poison_pruned_planning(spark, tmp_path):
    """A null-text document (corrupt landing line) hashes to NULL, which
    matches nothing, and gets no band rows, so the doc must flow through
    the audit as novel — and must not crash the driver-side pruning key
    sort (review catch, round 11: sorted() over a None/str mix raises, and
    a streaming replay of the same file would poison the drain
    permanently)."""
    idx = str(tmp_path / "idx")
    ingest_batch_dedup(
        spark, _docs(spark, [(i, _distinct_text(i)) for i in range(6)]), idx
    )
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(100, None), (101, _distinct_text(2)), (102, "fresh")]),
        idx,
    )
    got = {r.doc_id for r in kept.collect()}
    assert 102 in got and 101 not in got
    assert 100 in got  # null text: NULL hash, no band rows — audited as novel


def test_null_and_empty_texts_do_not_poison_later_batches(spark, tmp_path):
    """NULL and empty texts would share one MinHash signature, so they get
    no band rows: neither is a near dup of the other, in its own batch or
    once indexed. A later NULL text is novel again; a later empty text is
    still an exact copy of the indexed one."""
    idx = str(tmp_path / "idx")
    first = ingest_batch_dedup(
        spark, _docs(spark, [(1, ""), (2, None), (3, _distinct_text(3))]), idx
    )
    assert {r.doc_id for r in first.collect()} == {1, 2, 3}
    second = ingest_batch_dedup(
        spark, _docs(spark, [(10, None), (11, ""), (12, _distinct_text(12))]), idx
    )
    assert {r.doc_id for r in second.collect()} == {10, 12}


def test_rebuild_bands_match_the_micro_batch_loop(spark, tmp_path):
    """rebuild_index bands exactly the documents the micro-batch loop
    bands: over a corpus holding NULL, empty and normal texts, the rebuilt
    index holds the loop's band rows and no row for the NULL or empty
    text."""
    import os

    from datalakejson_spark.functions.incremental_dedup import rebuild_index

    rows = [(1, ""), (2, None), (3, _distinct_text(3)), (4, _distinct_text(4))]
    loop_idx, rebuilt_idx = str(tmp_path / "loop"), str(tmp_path / "rebuilt")
    ingest_batch_dedup(spark, _docs(spark, rows), loop_idx)
    rebuild_index(spark, _docs(spark, rows), rebuilt_idx)

    def bands(idx):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(idx, "bands"))
            .select("doc_id", "band", "band_hash")
            .collect()
        )

    assert bands(rebuilt_idx) == bands(loop_idx)
    assert {r[0] for r in bands(loop_idx)} == {3, 4}


@pytest.mark.soak
def test_tiered_compaction_merges_tail_not_base(spark, tmp_path):
    """LSM posture (round 11): a big corpus's compacted BASE run must not
    be rewritten when the loop folds its append tail — the triggered merge
    touches only the smallest runs, so its cost is O(appends) while the
    old full rewrite was O(corpus). Pinned by filename identity: every
    base file survives the merge untouched."""
    from datalakejson_spark.functions.incremental_dedup import compact_index

    idx = str(tmp_path / "idx")
    for b in range(6):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 4 + k, _distinct_text(b * 4 + k)) for k in range(4)]),
            idx,
            compact_max_runs=None,
        )
    # Full-compact into a many-file base (as a huge corpus would have:
    # more base files than any sane run threshold).
    compact_index(spark, idx, target_rows_per_file=8)
    base_bands = _parquet_files(idx, "bands")
    base_hashes = _parquet_files(idx, "hashes")
    assert len(base_bands) > 4

    # Append a tail of per-batch runs, then trigger a TIERED merge.
    for i in range(3):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(900 + i, _distinct_text(900 + i))]),
            idx,
            compact_max_runs=None,
        )
    tail_bands = _parquet_files(idx, "bands") - base_bands
    assert len(tail_bands) == 3
    counts = compact_index(spark, idx, target_rows_per_file=8, max_runs=2)
    # The tail folded into one run; the BASE files are byte-identical
    # survivors (never subsumed, never rewritten).
    now_bands = _parquet_files(idx, "bands")
    assert base_bands <= now_bands
    assert len(now_bands) < len(base_bands) + 3
    assert not (tail_bands & now_bands)  # tail files were subsumed
    b_before, b_after = counts["bands"]
    assert b_after < b_before

    # Audits keep their verdicts on the merged layout.
    replay = ingest_batch_dedup(
        spark,
        _docs(spark, [(1000, _distinct_text(901)), (1001, "wholly novel")]),
        idx,
        compact_max_runs=None,
    )
    assert [r.doc_id for r in replay.collect()] == [1001]

    # And the loop's own trigger fires via the run-count policy: more
    # appends than compact_max_runs collapses the run count back down.
    for i in range(4):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(1100 + i, _distinct_text(1100 + i))]),
            idx,
            compact_max_runs=4,  # tiered: triggered merges fold to 2 runs
            compact_target_rows_per_file=8,
        )
    from datalakejson_spark.functions.incremental_dedup import (
        derive_runs,
        _file_ranges,
    )
    import os

    n_runs = len(derive_runs(_file_ranges(os.path.join(idx, "bands"), "band_hash")))
    assert n_runs <= 5, n_runs
    # Base STILL untouched through all loop-triggered merges.
    assert base_bands <= _parquet_files(idx, "bands")
    assert base_hashes <= _parquet_files(idx, "hashes")


def test_transient_footer_failure_not_cached(spark, tmp_path, monkeypatch):
    """A footer READ ERROR must degrade to 'scan this file now' without
    being persisted — otherwise one transient I/O blip permanently
    disables pruning for that file (review catch, round 11)."""
    import json
    import os

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    for b in range(4):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 4 + k, _distinct_text(b * 4 + k)) for k in range(4)]),
            idx,
            compact_max_runs=None,
        )
    inc.compact_index(spark, idx, target_rows_per_file=6)
    live = os.path.join(idx, "hashes")
    for p_ in inc._sidecar_paths(live):  # force recompute of all
        os.remove(p_)

    files = inc._live_files(live)
    victim = files[0]
    real = inc._footer_stats

    def flaky(path, column):
        if os.path.basename(path) == victim:
            raise OSError("transient")
        return real(path, column)

    monkeypatch.setattr(inc, "_footer_stats", flaky)
    ranges = inc._file_ranges(live, "text_hash")
    assert ranges[victim] is None  # scanned conservatively this time
    assert victim not in inc._load_sidecar_shared(live)  # NOT cached as null

    monkeypatch.setattr(inc, "_footer_stats", real)
    healed = inc._file_ranges(live, "text_hash")
    assert healed[victim] is not None  # next probe re-reads and persists
    entry = inc._load_sidecar_shared(live)[victim]  # [lo, hi, rows]
    assert entry[:2] == list(healed[victim]) and isinstance(entry[2], int)


def test_publish_warms_stats_sidecar(spark, tmp_path, monkeypatch):
    """Publishing a stage (append, compaction) merges the new files'
    footer stats into _RANGES.json at WRITE time, so the next probe's
    planning never re-reads footers — after a 10^7-doc compaction that
    self-heal was ~12k footer opens on the probe path (measured; on an
    object store, 12k GETs). Pinned by making footer reads explode."""
    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    for b in range(3):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 6 + k, _distinct_text(b * 6 + k)) for k in range(6)]),
            idx,
            compact_max_runs=None,
        )
    inc.compact_index(spark, idx, target_rows_per_file=8)

    def boom(path, column):
        raise AssertionError(f"footer read on the probe path: {path}")

    monkeypatch.setattr(inc, "_footer_stats", boom)
    for sub, key in (("hashes", "text_hash"), ("bands", "band_hash")):
        live = f"{idx}/{sub}"
        stats = inc._file_stats(live, key)
        assert set(stats) == set(inc._live_files(live))
        # every entry is warm (range + rows), none transient
        assert all(r is not None and n is not None for r, n in stats.values())


def test_empty_append_files_converge_under_compaction(spark, tmp_path):
    """An all-duplicate replay batch appends 0-row index files (no key
    stats — permanently 'statless'). Compaction must DELETE them rather
    than re-emit a fresh empty file per call: second call is a no-op
    (review catch, round 11)."""
    import os

    from datalakejson_spark.functions.incremental_dedup import compact_index

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(
        spark,
        _docs(spark, [(i, _distinct_text(i)) for i in range(5)]),
        idx,
        compact_max_runs=None,
    )
    # replaying the same docs keeps nothing -> 0-row appended files
    replay = ingest_batch_dedup(
        spark,
        _docs(spark, [(100 + i, _distinct_text(i)) for i in range(5)]),
        idx,
        compact_max_runs=None,
    )
    assert replay.count() == 0
    import pyarrow.parquet as pq

    live = os.path.join(idx, "hashes")
    n_empty = sum(
        1
        for f in os.listdir(live)
        if f.endswith(".parquet")
        and pq.ParquetFile(os.path.join(live, f)).metadata.num_rows == 0
    )
    assert n_empty >= 1  # the replay really did append an empty file

    compact_index(spark, idx, target_rows_per_file=100)
    for sub in ("hashes", "bands"):
        d = os.path.join(idx, sub)
        assert all(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows > 0
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    noop = compact_index(spark, idx, target_rows_per_file=100)
    for sub in ("hashes", "bands"):
        assert noop[sub][0] == noop[sub][1], noop
    # and the audit still works
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(200, _distinct_text(2)), (201, "brand new words")]),
        idx,
        compact_max_runs=None,
    )
    assert [r.doc_id for r in kept.collect()] == [201]


def test_transient_footer_failure_never_dirties_the_base(spark, tmp_path, monkeypatch):
    """One flaky footer read on a base-run file (after a lost sidecar)
    must not flip the base 'unsorted'/dirty — that would convert the
    O(appends) tiered merge into the O(corpus) full rewrite (review
    catch, round 11). The flaky file is scanned conservatively; the base
    stays untouched."""
    import os

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    for b in range(4):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 6 + k, _distinct_text(b * 6 + k)) for k in range(6)]),
            idx,
            compact_max_runs=None,
        )
    inc.compact_index(spark, idx, target_rows_per_file=8)
    base = _parquet_files(idx, "bands")
    assert len(base) > 3
    # lose the sidecar, make ONE base file's footer read flaky
    live = os.path.join(idx, "bands")
    for p_ in inc._sidecar_paths(live):
        os.remove(p_)
    victim = sorted(base)[0]
    real = inc._footer_stats

    def flaky(path, column):
        if os.path.basename(path) == victim:
            raise OSError("transient")
        return real(path, column)

    monkeypatch.setattr(inc, "_footer_stats", flaky)
    counts = inc.compact_index(spark, idx, target_rows_per_file=8, max_runs=4)
    assert counts["bands"][0] == counts["bands"][1], counts  # no rewrite
    assert base <= _parquet_files(idx, "bands")


@pytest.mark.soak
def test_all_empty_tiered_merge_publishes(spark, tmp_path):
    """A tiered (max_runs>1) merge whose entire merge set is 0-row replay
    appends takes the subsume-without-write path for EVERY subdir — no
    parquet write ever creates the stage dir, so the manifest write must
    create it itself (ADVICE r11-medium: otherwise the inline-triggered
    compaction raises FileNotFoundError after every subsequent batch's
    publish, wedging the ingest loop). max_runs=1 never hits this — the
    clean base run folds into the merge and the Spark write creates the
    stage — which is why the max_runs=1 convergence test passed."""
    import os

    import pyarrow.parquet as pq

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(
        spark,
        _docs(spark, [(i, _distinct_text(i)) for i in range(5)]),
        idx,
        compact_max_runs=None,
    )
    inc.compact_index(spark, idx, target_rows_per_file=100)  # 1 clean base run
    for b in range(3):  # all-duplicate replays -> 0-row append runs
        replay = ingest_batch_dedup(
            spark,
            _docs(
                spark,
                [(100 * (b + 1) + i, _distinct_text(i)) for i in range(5)],
            ),
            idx,
            compact_max_runs=None,
        )
        assert replay.count() == 0
    # tiered: clean runs (just the base) fit max_runs, merge = empty files only
    counts = inc.compact_index(spark, idx, target_rows_per_file=100, max_runs=4)
    for sub in ("hashes", "bands"):
        d = os.path.join(idx, sub)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert files, sub
        assert all(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows > 0
            for f in files
        ), sub  # the empty appends were deleted, not re-emitted
        assert counts[sub][1] < counts[sub][0], counts
    staging = os.path.join(idx, inc._STAGING)
    assert not (os.path.isdir(staging) and os.listdir(staging))  # no stranded stage
    kept = ingest_batch_dedup(  # and the loop continues
        spark,
        _docs(spark, [(999, "entirely novel words never seen before anywhere")]),
        idx,
        compact_max_runs=None,
    )
    assert kept.count() == 1


def test_footer_stats_lossy_binary_returns_undecodable(tmp_path):
    """A parquet byte stat that does not decode losslessly as UTF-8 must
    yield the UNDECODABLE sentinel (always-scan, but NOT stats-missing)
    rather than a U+FFFD-substituted bound that can reorder against true
    byte order (ADVICE r11-low). It must be distinct from None — None means
    "fixable by rewrite", but rewriting a truly binary-keyed file
    reproduces undecodable stats, a permanent rewrite-every-compaction
    loop (ADVICE r12-low). Unreachable for today's md5-hex keys; pinned
    because the helper is generic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalakejson_spark.functions.incremental_dedup import (
        UNDECODABLE,
        _footer_stats,
    )

    path = str(tmp_path / "bin.parquet")
    tbl = pa.table({"text_hash": pa.array([b"\xc3(", b"\xff\xfe"], pa.binary())})
    pq.write_table(tbl, path)
    # only meaningful if the writer recorded byte min/max stats at all
    st = pq.ParquetFile(path).metadata.row_group(0).column(0).statistics
    rng, rows = _footer_stats(path, "text_hash")
    assert rows == 2
    if st is not None and st.has_min_max:
        assert rng is UNDECODABLE


def test_footer_row_count_skips_file_removed_mid_publish(tmp_path, monkeypatch):
    """The file-list footer row count sums ``num_rows`` and skips a listed
    file that a racing publish removed before the read, instead of raising;
    the IVF cell and LSH bucket statistics count through it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalakejson_spark.footers import row_count
    from datalakejson_spark.functions import ivf, lsh_index

    cell, bucket = tmp_path / "cells" / "cell=3", tmp_path / "buckets" / "tb=0_1"
    for part in (cell, bucket):
        part.mkdir(parents=True)
        pq.write_table(pa.table({"id": [1, 2, 3]}), str(part / "a.parquet"))
        pq.write_table(pa.table({"id": [4, 5]}), str(part / "b.parquet"))
    listed = ["a.parquet", "b.parquet", "gone.parquet"]
    assert row_count(str(cell / f) for f in listed) == 5

    monkeypatch.setattr(ivf, "_ivf_live_files", lambda d: {"cell=3": listed})
    assert ivf.ivf_cell_rows(str(tmp_path)) == {3: 5}
    monkeypatch.setattr(
        lsh_index, "live_partition_files", lambda d, sub: {"tb=0_1": listed}
    )
    assert lsh_index.lsh_bucket_stats(str(tmp_path))["total_rows"] == 5


def test_undecodable_stats_survive_the_sidecar_and_never_dirty(tmp_path):
    """The UNDECODABLE classification round-trips through the _RANGES.json
    sidecar cache, prunes as always-scan, and does NOT mark the file
    stats-dirty in _classify_base (ok=False: opaque clean base, no rewrite
    loop)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalakejson_spark.functions import incremental_dedup as inc

    live = tmp_path / "hashes"
    live.mkdir()
    name = "part-00000-11111111-1111-1111-1111-111111111111-c000.parquet"
    tbl = pa.table({"text_hash": pa.array([b"\xc3(", b"\xff\xfe"], pa.binary())})
    pq.write_table(tbl, str(live / name))
    st = pq.ParquetFile(str(live / name)).metadata.row_group(0).column(0).statistics
    if st is None or not st.has_min_max:
        import pytest

        pytest.skip("writer recorded no byte stats for this column")

    # first read: footer → sentinel; second read: cache → same sentinel
    first = inc._file_stats(str(live), "text_hash")[name]
    assert first[0] is inc.UNDECODABLE and first[1] == 2
    import json

    cached = inc._load_sidecar_shared(str(live))[name]
    assert cached == {"rows": 2, "undecodable": True}
    second = inc._file_stats(str(live), "text_hash")[name]
    assert second[0] is inc.UNDECODABLE

    # pruning view: unusable range → always scanned (kept)
    keep, total = inc._prune_files(str(live), "text_hash", ["zzzz"])
    assert keep == [name] and total == 1

    # layout view: NOT repair material — classify refuses per-file reasoning
    stats = inc._file_stats(str(live), "text_hash")
    ranges = {f: rng for f, (rng, _r) in stats.items()}
    rows = {f: r for f, (_rng, r) in stats.items()}
    kept, repair, ok = inc._classify_base([name], ranges, rows, 1_000_000)
    assert ok is False and kept == [name] and repair == []


def test_ranges_disjoint_strict_at_boundary():
    """Boundary-sharing files (hi1 == lo2 — possible from direct-writer
    appends, never from repartitionByRange) are NOT a sorted run
    (ADVICE r11-low)."""
    from datalakejson_spark.functions.incremental_dedup import _ranges_disjoint

    assert _ranges_disjoint({"a": ("00", "7f"), "b": ("80", "ff")})
    assert not _ranges_disjoint({"a": ("00", "80"), "b": ("80", "ff")})
    assert not _ranges_disjoint({"a": ("00", "90"), "b": ("80", "ff")})
    assert not _ranges_disjoint({"a": ("00", "7f"), "b": None})


@pytest.mark.soak
def test_rebuild_resumes_from_subdir_checkpoint(spark, tmp_path):
    """A rebuild killed after the hashes subdir checkpoint RESUMES: the
    re-invocation adopts the stage, skips the finished subdir (its staged
    files publish byte-identical — name+size+mtime pinned), rewrites only
    the unfinished one, and the final index matches an uninterrupted
    rebuild row-for-row (round 12, VERDICT ask #2)."""
    import os
    import time

    import pytest

    from datalakejson_spark.functions import incremental_dedup as inc
    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.killpoints import InjectedKill

    corpus_rows = [(i, _distinct_text(i)) for i in range(12)]

    # the oracle: an uninterrupted rebuild over the same corpus
    ref_idx = str(tmp_path / "ref")
    ingest_batch_dedup(spark, _docs(spark, corpus_rows), ref_idx)
    inc.rebuild_index(spark, _docs(spark, corpus_rows), ref_idx)

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(spark, _docs(spark, corpus_rows), idx)

    killpoints.kill_once("dedup:rebuild_subdir_done")  # after hashes done
    with pytest.raises(InjectedKill):
        inc.rebuild_index(spark, _docs(spark, corpus_rows), idx)

    stage = os.path.join(idx, inc._STAGING, inc._REBUILD_STAGE)
    assert os.path.exists(os.path.join(stage, "_DONE_hashes.json"))
    assert not os.path.exists(os.path.join(stage, "_DONE_bands.json"))
    staged = {
        f: os.stat(os.path.join(stage, "hashes", f)).st_mtime_ns
        for f in inc._live_files(os.path.join(stage, "hashes"))
    }
    assert staged

    # an unrelated entry point's publish pass must NOT sweep the
    # checkpoint, however old it looks
    old = time.time() - 2 * inc.STALE_STAGE_S
    os.utime(stage, (old, old))
    inc._publish_staged(idx)
    assert os.path.isdir(stage)

    written = inc.rebuild_index(spark, _docs(spark, corpus_rows), idx)
    assert written["hashes"] == 12
    # the checkpointed subdir's files were PUBLISHED, not rewritten
    live = os.path.join(idx, "hashes")
    for f, mtime in staged.items():
        assert os.stat(os.path.join(live, f)).st_mtime_ns == mtime
    for sub in ("hashes", "bands"):
        got = sorted(
            tuple(r) for r in spark.read.parquet(f"{idx}/{sub}").collect()
        )
        ref = sorted(
            tuple(r) for r in spark.read.parquet(f"{ref_idx}/{sub}").collect()
        )
        assert got == ref, sub
    assert not os.path.isdir(stage)  # stage consumed by the publish
    # the rebuilt index audits normally
    kept = ingest_batch_dedup(
        spark,
        _docs(spark, [(700, _distinct_text(2)), (701, "wholly new words")]),
        idx,
    )
    assert [r.doc_id for r in kept.collect()] == [701]


def test_rebuild_checkpoint_mismatch_resets(spark, tmp_path):
    """A leftover rebuild checkpoint for a DIFFERENT corpus/knobs must not
    be adopted — the stage resets and both subdirs rewrite (adopting a
    9-doc hashes checkpoint into a 12-doc rebuild would publish a
    half-stale index)."""
    import os

    import pytest

    from datalakejson_spark.functions import incremental_dedup as inc
    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.killpoints import InjectedKill

    idx = str(tmp_path / "idx")
    small = [(i, _distinct_text(i)) for i in range(9)]
    full = [(i, _distinct_text(i)) for i in range(12)]
    ingest_batch_dedup(spark, _docs(spark, full), idx)

    killpoints.kill_once("dedup:rebuild_subdir_done")
    with pytest.raises(InjectedKill):
        inc.rebuild_index(spark, _docs(spark, small), idx)  # 9-doc checkpoint

    written = inc.rebuild_index(spark, _docs(spark, full), idx)
    assert written["hashes"] == 12  # NOT the stale 9-doc checkpoint
    assert spark.read.parquet(f"{idx}/hashes").count() == 12

    # resume=False always resets, even on a matching checkpoint
    killpoints.kill_once("dedup:rebuild_subdir_done")
    with pytest.raises(InjectedKill):
        inc.rebuild_index(spark, _docs(spark, full), idx)
    stage = os.path.join(idx, inc._STAGING, inc._REBUILD_STAGE)
    staged = set(inc._live_files(os.path.join(stage, "hashes")))
    inc.rebuild_index(spark, _docs(spark, full), idx, resume=False)
    live_files = set(inc._live_files(os.path.join(idx, "hashes")))
    assert not (staged & live_files)  # checkpointed files were discarded
    assert spark.read.parquet(f"{idx}/hashes").count() == 12


def test_autotune_target_rows_per_file():
    """The knob inversion from the measured K x rows_per_file law
    (tools/dedup_probe_decade4_r12.jsonl: formula within 1.7% at a
    1.25x10^8-row index): budget / (batch x (bands+1)), clamped."""
    from datalakejson_spark.functions.incremental_dedup import (
        _num_bands,
        autotune_target_rows_per_file,
    )

    keys_per_doc = _num_bands() + 1
    # the d4 probe's shape: 100-doc batch, default budget
    assert autotune_target_rows_per_file(100) == 250_000_000 // (100 * keys_per_doc)
    # monotone: bigger batches -> smaller files, same scan budget
    assert autotune_target_rows_per_file(1000) < autotune_target_rows_per_file(100)
    # clamps hold at the extremes
    assert autotune_target_rows_per_file(10**9) == 4096
    assert autotune_target_rows_per_file(1, scan_budget_rows=10**12) == 8_000_000
    # scan estimate under the tuned knob never exceeds the budget when the
    # floor is not binding
    for batch in (10, 100, 1000, 10_000):
        rows = autotune_target_rows_per_file(batch)
        if rows > 4096:
            assert batch * keys_per_doc * rows <= 250_000_000


def _write_landing_files(land, files):
    """files: list of (fname, [(doc_id, text), ...]) JSON-lines docs."""
    import json as _json

    land.mkdir(exist_ok=True)
    for fname, rows in files:
        (land / fname).write_text(
            "".join(
                _json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in rows
            )
        )


def _doc_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )


@pytest.mark.soak
def test_streaming_inline_compaction_across_restart(spark, tmp_path):
    """VERDICT r11 #7: the inline tiered-compaction trigger runs INSIDE
    streaming micro-batches, across a checkpoint restart, and the result is
    identical to a compaction-free batch loop over the same documents —
    the index maintenance plane and the file-source metadata log never
    interfere (disjoint trees: index_dir staging vs ckpt/sources)."""
    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.variant_ingest import resolve_replays
    from datalakejson_spark.streaming.dedup_stream import streaming_dedup_ingest

    texts = [  # pairwise-disjoint vocabularies: no cross-doc shingles at all
        f"doc {i} " + " ".join(f"w{i}x{j}" for j in range(14)) for i in range(6)
    ]
    wave1 = [
        (f"f{i}.json", [(10 * i, texts[i]), (10 * i + 1, texts[0])])
        for i in range(3)
    ]  # each file: one novel doc + one exact dup of doc 0
    wave2 = [
        (f"f{i}.json", [(10 * i, texts[i]), (10 * i + 1, texts[0])])
        for i in range(3, 6)
    ]
    land = tmp_path / "landing"
    args = dict(
        landing_dir=str(land),
        curated_dir=str(tmp_path / "curated"),
        index_dir=str(tmp_path / "idx"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_doc_schema(),
        max_files_per_trigger=1,  # one file per micro-batch: 3 batches/drain
        compact_max_runs=2,  # every batch appends a run -> triggers often
        compact_target_rows_per_file=50,
    )
    n_compactions = 0

    def count() -> None:
        nonlocal n_compactions
        n_compactions += 1

    killpoints.arm("dedup:compact_staged", count)
    try:
        _write_landing_files(land, wave1)
        streaming_dedup_ingest(spark, **args).awaitTermination()
        assert n_compactions >= 1  # fired mid-stream, not just at the end
        _write_landing_files(land, wave2)  # restart: same ckpt, new query
        streaming_dedup_ingest(spark, **args).awaitTermination()
    finally:
        killpoints.disarm("dedup:compact_staged")
    assert n_compactions >= 2

    curated = resolve_replays(spark.read.parquet(args["curated_dir"]))
    got = {r.doc_id for r in curated.select("doc_id").collect()}

    # Reference: the same 6 per-file batches through the batch loop with
    # compaction DISABLED in a fresh index.
    ref_idx = str(tmp_path / "ref_idx")
    ref_kept: set[int] = set()
    for _, rows in wave1 + wave2:
        kept = ingest_batch_dedup(
            spark, _docs(spark, rows), ref_idx, compact_max_runs=None
        )
        ref_kept |= {r.doc_id for r in kept.collect()}
    # doc 1 (exact within-batch dup of 0) and every 10i+1 re-send drop
    assert got == ref_kept == {0, 10, 20, 30, 40, 50}

    # Audit equivalence: a probe delta sees the same world in both indexes.
    probe = _docs(spark, [(900, texts[2]), (901, f"{OTHER} probe tail")])
    assert _audit_snapshot(spark, args["index_dir"], probe) == _audit_snapshot(
        spark, ref_idx, probe
    )

    # Source log intact: an empty re-drain is a no-op (no file replays).
    before = curated.count()
    streaming_dedup_ingest(spark, **args).awaitTermination()
    assert resolve_replays(spark.read.parquet(args["curated_dir"])).count() == before


@pytest.mark.soak
def test_streaming_compaction_kill_then_restart_converges(spark, tmp_path):
    """A failure INSIDE the inline compaction of a streaming micro-batch
    (stage written, no commit marker) fails the query; a plain restart on
    the same checkpoint converges: the batch's appends were already
    published (compaction runs after publish), the replay audits everything
    as duplicate, the unmarked stage is ignored, and no document is lost or
    double-curated after replay resolution.

    The injected failure here is a plain RuntimeError, NOT InjectedKill:
    a BaseException raised inside foreachBatch never crosses the py4j
    callback boundary (the callback handler translates only Exception), so
    instead of failing the query it leaves the JVM stream-execution thread
    blocked forever on the callback socket — a pytest hang, not a test.
    For THIS window the distinction is immaterial: nothing between the
    compaction trigger and the batch commit catches broad Exceptions, so a
    RuntimeError reaches the stream engine exactly like a death would."""
    import pyspark.errors as PE

    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.variant_ingest import resolve_replays
    from datalakejson_spark.streaming.dedup_stream import streaming_dedup_ingest

    texts = [  # pairwise-disjoint vocabularies (shared tokens => near-dups)
        f"kill {i} " + " ".join(f"k{i}v{j}" for j in range(14)) for i in range(4)
    ]
    land = tmp_path / "landing"
    _write_landing_files(
        land,
        [(f"f{i}.json", [(10 * i, texts[i])]) for i in range(4)],
    )
    args = dict(
        landing_dir=str(land),
        curated_dir=str(tmp_path / "curated"),
        index_dir=str(tmp_path / "idx"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_doc_schema(),
        max_files_per_trigger=1,
        compact_max_runs=2,
        compact_target_rows_per_file=50,
    )
    def die_once() -> None:
        killpoints.disarm("dedup:compact_staged")
        raise RuntimeError("injected failure inside inline compaction")

    killpoints.arm("dedup:compact_staged", die_once)
    try:
        try:
            streaming_dedup_ingest(spark, **args).awaitTermination()
            raise AssertionError("injected failure did not fail the query")
        except PE.exceptions.base.PySparkException:
            pass  # the foreachBatch failure surfaces as a query exception
    finally:
        killpoints.disarm()

    streaming_dedup_ingest(spark, **args).awaitTermination()  # recover
    curated = resolve_replays(spark.read.parquet(args["curated_dir"]))
    assert {r.doc_id for r in curated.select("doc_id").collect()} == {
        0,
        10,
        20,
        30,
    }
    assert curated.count() == 4  # exactly once after replay resolution
    # and the index converged: every text audits as an exact duplicate now
    probe = _docs(spark, [(900 + i, t) for i, t in enumerate(texts)])
    snap = _audit_snapshot(spark, args["index_dir"], probe)
    assert all(r.is_exact_dup for r in snap)


def test_publish_outcomes_reported(spark, tmp_path):
    """_publish_staged returns a per-stage outcome map: a committed append
    stage reports "published"; a maintenance stage whose _SUBSUMED snapshot
    no longer matches the live files reports "lost" (review, round 12 —
    rebuild_index needs this to know its multi-hour stage took effect)."""
    import json
    import os

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(spark, _docs(spark, [(1, _distinct_text(1))]), idx)

    # fabricate a committed APPEND stage: publishes
    stage = os.path.join(idx, inc._STAGING, "t-append")
    os.makedirs(os.path.join(stage, "hashes"))
    src = os.path.join(idx, "hashes", inc._live_files(os.path.join(idx, "hashes"))[0])
    import shutil as _sh

    _sh.copy(src, os.path.join(stage, "hashes", "part-99999-feedface-c000.snappy.parquet"))
    publish.commit_stage(stage)
    out = inc._publish_staged(idx)
    assert out.get("t-append") == "published"

    # fabricate a committed MAINTENANCE stage whose snapshot is stale: lost
    stage = os.path.join(idx, inc._STAGING, "t-loser")
    os.makedirs(stage)
    with open(os.path.join(stage, "_SUBSUMED.json"), "w") as fh:
        json.dump(["hashes/part-gone-forever.snappy.parquet"], fh)
    publish.commit_stage(stage)
    out = inc._publish_staged(idx)
    assert out.get("t-loser") == "lost"
    assert not os.path.isdir(stage)


@pytest.mark.soak
def test_compact_aborts_cleanly_when_live_file_vanishes(spark, tmp_path):
    """A concurrent maintenance publish deleting a live file between
    compact_index's listing and its scan must make THIS compaction a clean
    race loser (stage removed, {} returned) — not an exception escaping
    into the caller, which in the streaming loop would fail the query
    (review, round 12)."""
    import os

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    for i in range(4):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(i, _distinct_text(i))]),
            idx,
            compact_max_runs=None,
        )
    orig = inc._file_stats
    zapped = {"done": False}

    def stats_then_zap(live, key):
        stats = orig(live, key)
        if not zapped["done"] and live.endswith("bands"):
            victim = sorted(stats)[0]
            os.remove(os.path.join(live, victim))
            zapped["done"] = True
        return stats

    inc._file_stats = stats_then_zap
    try:
        counts = inc.compact_index(spark, idx)
    finally:
        inc._file_stats = orig
    assert counts == {}
    assert zapped["done"]
    # no stage debris, and the index still audits (minus the zapped file's
    # rows — acceptable here: the test fabricated the delete; real races
    # only delete files whose rows the winner already rewrote)
    staging = os.path.join(idx, inc._STAGING)
    leftover = [t for t in (os.listdir(staging) if os.path.isdir(staging) else [])]
    assert leftover == [], leftover
    kept = ingest_batch_dedup(
        spark, _docs(spark, [(900, "wholly novel words after abort")]), idx
    )
    assert kept.count() == 1


def test_rebuild_raises_when_publish_race_lost(spark, tmp_path):
    """A rebuild whose committed stage is discarded as a publish-race loser
    (a concurrent compaction subsumed a live file after the rebuild's
    snapshot) must RAISE, not return success — silently throwing away a
    multi-hour rebuild while reporting row counts strands the operator on
    the old index (review, round 12)."""
    import os

    import pytest

    from datalakejson_spark.functions import incremental_dedup as inc
    from datalakejson_spark.plans import killpoints

    idx = str(tmp_path / "idx")
    corpus = [(i, _distinct_text(i)) for i in range(6)]
    ingest_batch_dedup(spark, _docs(spark, corpus), idx)
    live_before = {
        sub: inc._live_files(os.path.join(idx, sub))
        for sub in ("hashes", "bands")
    }

    def concurrent_subsume() -> None:  # what a racing compaction's publish does
        killpoints.disarm("dedup:rebuild_committed")
        victim = live_before["hashes"][0]
        os.remove(os.path.join(idx, "hashes", victim))

    killpoints.arm("dedup:rebuild_committed", concurrent_subsume)
    try:
        with pytest.raises(RuntimeError, match="publish race"):
            inc.rebuild_index(spark, _docs(spark, corpus), idx)
    finally:
        killpoints.disarm()
    # the old layout (minus the simulated winner's delete) is still live;
    # a clean re-run rebuilds successfully
    written = inc.rebuild_index(spark, _docs(spark, corpus), idx)
    assert written["hashes"] == 6
    kept = ingest_batch_dedup(spark, _docs(spark, [(700, _distinct_text(3))]), idx)
    assert kept.count() == 0  # exact dup of the rebuilt corpus


def test_rebuild_resume_rejects_same_count_different_content(spark, tmp_path):
    """Resume identity includes a corpus-content fingerprint: a crash-then-
    resume over a SAME-SIZE corpus whose texts changed must reset the stage
    (adopting the old hashes checkpoint would publish a mixed pair — hashes
    from the old corpus, bands from the new) (review, round 12)."""
    import os

    import pytest

    from datalakejson_spark.functions import incremental_dedup as inc
    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.killpoints import InjectedKill

    idx = str(tmp_path / "idx")
    old_corpus = [(i, _distinct_text(i)) for i in range(6)]
    new_corpus = old_corpus[:-1] + [(5, _distinct_text(500))]  # same count
    ingest_batch_dedup(spark, _docs(spark, old_corpus), idx)

    killpoints.kill_once("dedup:rebuild_subdir_done")  # after hashes done
    with pytest.raises(InjectedKill):
        inc.rebuild_index(spark, _docs(spark, old_corpus), idx)
    stage = os.path.join(idx, inc._STAGING, inc._REBUILD_STAGE)
    assert os.path.exists(os.path.join(stage, "_DONE_hashes.json"))

    inc.rebuild_index(spark, _docs(spark, new_corpus), idx)
    # the pair must agree on the NEW corpus: old doc 5's text audits novel,
    # new doc 5's text audits as an exact dup — in BOTH indexes
    probe = _docs(
        spark, [(800, _distinct_text(5)), (801, _distinct_text(500))]
    )
    snap = {r.doc_id: (r.is_exact_dup, r.kept) for r in _audit_snapshot(spark, idx, probe)}
    assert snap[800] == (False, True)  # replaced text: novel again
    assert snap[801] == (True, False)  # new text: known exactly


def test_sidecar_tmp_files_are_swept(spark, tmp_path):
    """Crashed sidecar writers leave runner-unique shard tmps
    (``_RANGES.<x>.json.<hex>.tmp``) that nothing would ever overwrite; the
    next write of that shard sweeps them once they are older than the tmp
    grace, and a live writer's fresh tmp survives (review, r12)."""
    import os
    import time

    from datalakejson_spark import fsutil
    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(spark, _docs(spark, [(1, _distinct_text(1))]), idx)
    live = os.path.join(idx, "hashes")
    name = "part-99999-planted-c000.parquet"
    shard = os.path.join(live, inc._shard_file(inc._shard_of(name)))
    orphan = f"{shard}.deadbeef.tmp"
    open(orphan, "w").write("{")
    old = time.time() - 2 * fsutil.TMP_GRACE_S
    os.utime(orphan, (old, old))
    fresh = f"{shard}.cafecafe.tmp"
    open(fresh, "w").write("{")  # a LIVE writer's tmp must survive
    inc._merge_sidecar_cache(live, {name: {"rows": 0}}, [])
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh)


def test_compact_abort_streak_escalates(spark, tmp_path, monkeypatch, caplog):
    """A swallowed missing-file abort must never be SILENT: each one warns
    with its consecutive count, and MAX_COMPACT_ABORTS in a row raises —
    a persistent non-race failure (deleted file, bad mount, unrelated
    error whose text matches the race markers) cannot masquerade as an
    endless lost race (ADVICE r12-medium). A successful compaction resets
    the streak."""
    import logging
    import os

    import pytest

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    for i in range(3):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(i, _distinct_text(i))]),
            idx,
            compact_max_runs=None,
        )

    def always_vanished(live, key):
        raise RuntimeError("java.io.FileNotFoundException: fabricated")

    monkeypatch.setattr(inc, "_file_stats", always_vanished)
    with caplog.at_level(logging.WARNING):
        for n in range(1, inc.MAX_COMPACT_ABORTS):
            assert inc.compact_index(spark, idx) == {}
        assert any(
            "aborted as a maintenance-race loser" in r.message
            for r in caplog.records
        )
        with pytest.raises(RuntimeError, match="consecutive"):
            inc.compact_index(spark, idx)
    monkeypatch.undo()
    # a real (successful) compaction resets the streak
    assert inc.compact_index(spark, idx)
    assert inc._COMPACT_ABORTS.get(idx, 0) == 0
    # index still audits fine afterwards
    kept = ingest_batch_dedup(
        spark, _docs(spark, [(700, "novel words after the streak reset")]), idx
    )
    assert kept.count() == 1


def test_lost_rebuild_stage_leaves_tombstone(spark, tmp_path):
    """A committed REBUILD stage discarded by a later entry point as a
    publish-race loser must leave an operator-visible record: the
    _staging/_LOST_rebuild.json tombstone plus a warning (ADVICE r12-low —
    the in-process verification in rebuild_index only protects the run
    that didn't crash)."""
    import json
    import os

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(spark, _docs(spark, [(1, _distinct_text(1))]), idx)

    # fabricate a crashed-but-committed rebuild stage whose _SUBSUMED
    # snapshot no longer matches the live files (the winner compacted)
    stage = os.path.join(idx, inc._STAGING, inc._REBUILD_STAGE)
    os.makedirs(stage)
    with open(os.path.join(stage, "_SUBSUMED.json"), "w") as fh:
        json.dump(["hashes/part-gone-forever.snappy.parquet"], fh)
    publish.commit_stage(stage)

    out = inc._publish_staged(idx)
    assert out.get(inc._REBUILD_STAGE) == "lost"
    tomb = os.path.join(idx, inc._STAGING, f"_LOST_{inc._REBUILD_STAGE}.json")
    assert os.path.exists(tomb)
    rec = json.load(open(tomb))
    assert rec["missing_count"] == 1
    assert rec["missing_subsumed"] == ["hashes/part-gone-forever.snappy.parquet"]
    # the tombstone (a plain file) must not confuse later publish passes
    assert inc._publish_staged(idx) == {}
    # and a fresh ingest over the same index still works
    kept = ingest_batch_dedup(
        spark, _docs(spark, [(2, _distinct_text(2))]), idx
    )
    assert kept.count() == 1


def test_stats_caches_invalidate_on_publish(spark, tmp_path):
    """The decade-5 planning caches (parsed sidecar keyed by mtime/size,
    materialized _file_stats result keyed by sidecar state + listing) must
    never serve stale layout: a publish that adds files or rewrites the
    sidecar misses the cache and re-plans, while back-to-back calls against
    an unchanged index return the identical object without re-parsing."""
    import os

    from datalakejson_spark.functions import incremental_dedup as inc

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(spark, _docs(spark, [(1, _distinct_text(1))]), idx)
    live = os.path.join(idx, "hashes")

    a = inc._file_stats(live, "text_hash")
    b = inc._file_stats(live, "text_hash")
    assert b is a  # steady state: the result cache serves the same object

    # a publish (new append files) must invalidate via the listing key
    ingest_batch_dedup(spark, _docs(spark, [(2, _distinct_text(2))]), idx)
    c = inc._file_stats(live, "text_hash")
    assert c is not a and len(c) == len(a) + 1

    # a compaction (sidecar rewritten, files replaced) invalidates too,
    # and the fresh plan prunes on the compacted layout
    inc.compact_index(spark, idx, target_rows_per_file=1_000_000, max_runs=1)
    d = inc._file_stats(live, "text_hash")
    assert d is not c
    assert set(d) == set(inc._live_files(live))
    ranges = inc._file_ranges(live, "text_hash")
    assert inc._ranges_disjoint(ranges)


def _spy_collects(spark, monkeypatch) -> list[list]:
    """Record the rows of every ``DataFrame.collect`` from now on."""
    frame_cls = type(spark.range(1))
    real, results = frame_cls.collect, []

    def spy(self):
        out = real(self)
        results.append(out)
        return out

    monkeypatch.setattr(frame_cls, "collect", spy)
    return results


def _reference_kept(spark, batch, idx: str) -> set[int]:
    """The decision as Spark plans: keep-first-distinct, drop the higher id
    of every colliding band pair, then ``dedup_audit`` against the full
    index read."""
    from datalakejson_spark.functions.dedup import (
        keep_first_distinct,
        lsh_candidate_pairs,
    )
    from datalakejson_spark.functions.incremental_dedup import _read_index_pair

    uniq = keep_first_distinct(batch)
    texts = uniq.filter(F.length("text") > 0)
    losers = lsh_candidate_pairs(minhash_signatures(texts)).select(
        F.col("doc_b").alias("doc_id")
    )
    survivors = uniq.join(losers, "doc_id", "left_anti")
    hashes, bands = _read_index_pair(spark, idx, "doc_id")
    return {r.doc_id for r in dedup_audit(survivors, hashes, bands).collect() if r.kept}


def test_driver_decision_matches_spark_audit(spark, tmp_path, monkeypatch):
    """The driver-planned micro-batch keeps exactly the ids the Spark-plan
    audit keeps after the within-batch rule — over in-batch exact copies,
    a near-dup chain, a null-text row, a NULL id, exact and near
    collisions with the index, and a hot index bucket of 1,200 rows. The probe collects at
    most one row per distinct batch key, however hot the bucket."""
    import random

    idx = str(tmp_path / "idx")
    ingest_batch_dedup(
        spark, _docs(spark, [(i, _distinct_text(i)) for i in range(12)]), idx
    )
    hot_doc = _distinct_text(900)
    hot_hash = (
        band_table(minhash_signatures(_docs(spark, [(1, hot_doc)])))
        .filter("band = 0")
        .first()
        .band_hash
    )
    # a hot bucket: 1,200 index rows share the hot document's band-0 key
    spark.createDataFrame(
        [(10_000 + i, 0, hot_hash) for i in range(1_200)],
        "doc_id bigint, band int, band_hash string",
    ).coalesce(1).write.mode("append").parquet(f"{idx}/bands")
    for seed in (7, 8):
        rng = random.Random(seed)
        base = 1_000 * seed
        rows = [(base + i, _distinct_text(base + i)) for i in range(6)]
        rows.append((base + 6, rows[0][1]))  # in-batch exact copy
        chain_words = _distinct_text(base + 500).split() * 2
        chain = range(base + 10, base + 16)
        for doc in chain:  # near-dup chain: one word changed per document
            words = list(chain_words)
            words[rng.randrange(len(words))] = f"c{doc}"
            rows.append((doc, " ".join(words)))
        rows.append((base + 20, None))
        rows.append((None, _distinct_text(base + 30)))  # a NULL id is never kept
        rows.append((base + 21, _distinct_text(3)))  # exact hit on the index
        rows.append((base + 22, _distinct_text(5) + " tail"))  # near hit
        rows.append((base + 23, hot_doc))  # lands in the hot bucket
        rng.shuffle(rows)
        batch = _docs(spark, rows)
        expect = _reference_kept(spark, batch, idx)
        collects = _spy_collects(spark, monkeypatch)
        kept = ingest_batch_dedup(spark, batch, idx, compact_max_runs=None)
        monkeypatch.undo()
        kept = {r.doc_id for r in kept.collect()}
        assert kept == expect - {None}
        assert kept & {base + 6, base + 21, base + 22, base + 23} == set()
        # a null-text doc has no band rows: every batch's is novel
        assert base + 20 in kept
        assert 1 <= len(kept & set(chain)) < len(chain)
        batch_rows, probe_rows = collects
        batch_keys = {(r.band, r.k) for r in batch_rows if r.k is not None}
        assert len(probe_rows) <= len(batch_keys) < 1_200


def test_micro_batch_job_budget(spark, tmp_path, monkeypatch):
    """A micro-batch is one collect of the batch's hash and band rows, one
    collect of the pruned index probe, and one write per index lane. The
    bootstrap batch has no index to probe, so it collects once."""
    from datalakejson_spark.functions.incremental_dedup import (
        _live_files,
        derive_runs,
    )
    from tests.conftest import jobs_of

    idx = str(tmp_path / "idx")
    tag = tmp_path.name
    collects = _spy_collects(spark, monkeypatch)
    kept, boot_jobs = jobs_of(
        spark,
        f"{tag}-boot",
        lambda: ingest_batch_dedup(
            spark, _docs(spark, [(k, _distinct_text(k)) for k in range(6)]), idx
        ),
    )
    assert len(collects) == 1  # the batch's rows; no probe
    monkeypatch.undo()
    assert kept.count() == 6
    for b in (1, 2):
        ingest_batch_dedup(
            spark,
            _docs(spark, [(b * 6 + k, _distinct_text(b * 6 + k)) for k in range(6)]),
            idx,
        )
    assert len(derive_runs(_live_files(f"{idx}/bands"))) == 3
    batch = _docs(
        spark,
        [(100, _distinct_text(100)), (101, _distinct_text(4)), (102, None)],
    )
    kept, jobs = jobs_of(
        spark, f"{tag}-steady", lambda: ingest_batch_dedup(spark, batch, idx)
    )
    assert sorted(r.doc_id for r in kept.collect()) == [100, 102]
    assert boot_jobs <= 6, boot_jobs
    assert jobs <= 8, jobs
