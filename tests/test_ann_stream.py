"""Streaming embedding ingest into the persisted IVF index
(streaming/ann_stream.py): bootstrap-then-append drains, stream ≡ batch-loop
parity across a checkpoint restart, and exactly-once appends across an
injected mid-batch failure."""

from __future__ import annotations

import json
import os

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import types as T

from datalakejson_spark.functions.ivf import (
    build_ivf_index,
    ivf_index_append,
    ivf_index_topk,
)
from datalakejson_spark.streaming.ann_stream import streaming_ann_ingest
import pytest

# Multi-minute soak/race/kill/lifecycle suite: excluded from the default
# pytest run (pyproject addopts -m 'not soak') so the driver's verify
# window holds; run per round with `python -m pytest tests/ -m soak`.
pytestmark = pytest.mark.soak

_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def _vectors(seed: int, n: int, start: int, dim: int = 16):
    rng = np.random.RandomState(seed)
    x = rng.standard_normal((n, dim))
    return [(start + i, [float(v) for v in x[i]]) for i in range(n)]


def _write_landing(landing, name: str, rows) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as fh:
        for vec_id, emb in rows:
            fh.write(json.dumps({"vec_id": vec_id, "embedding": emb}) + "\n")


def _index_rows(spark, idx):
    return sorted(
        r.vec_id
        for r in spark.read.parquet(os.path.join(idx, "cells"))
        .select("vec_id")
        .collect()
    )


def test_stream_matches_batch_loop_across_restart(spark, tmp_path):
    """Two drains over a growing landing dir (bootstrap build + appends,
    restart on the same checkpoint between them) produce exactly the index
    a batch loop builds from the same splits — same rows, and row-for-row
    the same probe top-k."""
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    boot = _vectors(1, 200, 0)
    d1 = _vectors(2, 50, 1000)
    d2 = _vectors(3, 50, 2000)
    _write_landing(landing, "boot.json", boot)

    args = dict(
        landing_dir=landing,
        index_dir=idx,
        checkpoint_dir=ckpt,
        schema=_SCHEMA,
        max_files_per_trigger=1,
        n_cells=16,
        compact_max_runs_per_cell=2,
    )
    streaming_ann_ingest(spark, **args).awaitTermination()  # bootstrap
    _write_landing(landing, "d1.json", d1)
    _write_landing(landing, "d2.json", d2)
    streaming_ann_ingest(spark, **args).awaitTermination()  # restart+appends

    assert _index_rows(spark, idx) == sorted(
        i for i, _ in boot + d1 + d2
    )

    # the batch loop over the same splits (same seed, same knobs)
    ref_idx = str(tmp_path / "ref_idx")
    schema = "vec_id bigint, embedding array<double>"
    build_ivf_index(spark.createDataFrame(boot, schema), ref_idx, n_cells=16)
    ivf_index_append(spark, spark.createDataFrame(d1, schema), ref_idx)
    ivf_index_append(spark, spark.createDataFrame(d2, schema), ref_idx)

    queries = spark.createDataFrame(boot[:4], schema)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rn)
        for r in ivf_index_topk(spark, queries, idx, nprobe=4).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rn)
        for r in ivf_index_topk(spark, queries, ref_idx, nprobe=4).collect()
    )
    assert got == want and got


def test_inline_cell_compaction_runs_in_stream(spark, tmp_path):
    """With a low run threshold, repeated append batches cross the trigger
    INSIDE the drain and the cells fold back to few runs — the probe scans
    one file per cell afterwards, not one per micro-batch."""
    from datalakejson_spark.functions.ivf import (
        _ivf_live_files,
        ivf_needs_compaction,
    )

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    _write_landing(landing, "boot.json", _vectors(1, 100, 0))
    for g in range(6):
        _write_landing(landing, f"d{g}.json", _vectors(10 + g, 20, 1000 * (g + 1)))

    streaming_ann_ingest(
        spark,
        landing_dir=landing,
        index_dir=idx,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_SCHEMA,
        max_files_per_trigger=1,
        n_cells=16,
        compact_max_runs_per_cell=2,
    ).awaitTermination()

    # compaction fired mid-stream: no cell is left above the trigger
    assert not ivf_needs_compaction(idx, max_runs_per_cell=2)
    assert _index_rows(spark, idx) == sorted(
        list(range(100)) + [1000 * (g + 1) + j for g in range(6) for j in range(20)]
    )
    # and the fold actually bounded files per cell
    assert max(len(files) for files in _ivf_live_files(idx).values()) <= 3


def test_mid_batch_failure_replays_exactly_once(spark, tmp_path):
    """An injected failure between the append's _COMMITTED marker and the
    batch's checkpoint commit fails the query; a plain restart replays the
    batch, the entry publish rolls the committed stage forward, and the
    applied-batch marker skips the re-append — every vector lands exactly
    once. (RuntimeError, not InjectedKill: a BaseException raised inside
    foreachBatch never crosses the py4j callback boundary and would hang
    the stream-execution thread instead of failing the query.)"""
    import pyspark.errors as PE

    from datalakejson_spark.plans import killpoints

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    args = dict(
        landing_dir=landing,
        index_dir=idx,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_SCHEMA,
        max_files_per_trigger=1,
        n_cells=16,
    )
    boot = _vectors(1, 100, 0)
    _write_landing(landing, "boot.json", boot)
    streaming_ann_ingest(spark, **args).awaitTermination()  # bootstrap

    d1 = _vectors(2, 30, 5000)
    _write_landing(landing, "d1.json", d1)

    def die_once() -> None:
        killpoints.disarm("ivf:append_committed")
        raise RuntimeError("injected failure after append commit")

    killpoints.arm("ivf:append_committed", die_once)
    try:
        try:
            streaming_ann_ingest(spark, **args).awaitTermination()
            raise AssertionError("injected failure did not fail the query")
        except PE.exceptions.base.PySparkException:
            pass
    finally:
        killpoints.disarm()

    streaming_ann_ingest(spark, **args).awaitTermination()  # recover
    rows = _index_rows(spark, idx)
    assert rows == sorted(i for i, _ in boot + d1)  # exactly once
    # a later novel batch still flows
    d2 = _vectors(3, 10, 9000)
    _write_landing(landing, "d2.json", d2)
    streaming_ann_ingest(spark, **args).awaitTermination()
    assert _index_rows(spark, idx) == sorted(i for i, _ in boot + d1 + d2)


def test_bootstrap_batch_replay_never_duplicates(spark, tmp_path):
    """A bootstrap batch replayed after its build but BEFORE its checkpoint
    commit (the meta exists, so the naive decision would be 'append') must
    be recognized via the bootstrap_batch recorded atomically in _IVF.json
    and skipped — otherwise every bootstrap vector lands twice and top-k
    emits duplicate neighbor rows (review catch, round 13)."""
    from datalakejson_spark.streaming.ann_stream import process_ann_batch

    idx = str(tmp_path / "idx")
    boot = _vectors(1, 120, 0)
    schema = "vec_id bigint, embedding array<double>"
    df = spark.createDataFrame(boot, schema)

    process_ann_batch(spark, df, 0, idx, n_cells=16)  # bootstrap build
    # the crash window: checkpoint never committed, batch 0 replays whole
    process_ann_batch(spark, df, 0, idx, n_cells=16)
    assert _index_rows(spark, idx) == sorted(i for i, _ in boot)
    # and a real later batch still appends exactly once
    d1 = spark.createDataFrame(_vectors(2, 30, 5000), schema)
    process_ann_batch(spark, d1, 1, idx)
    process_ann_batch(spark, d1, 1, idx)  # its own replay: marker skip
    assert _index_rows(spark, idx) == sorted(
        i for i, _ in boot + _vectors(2, 30, 5000)
    )


def test_applied_markers_are_swept_past_retention(spark, tmp_path):
    """Applied-batch markers bound the replay-skip check, not the index
    lifetime: markers older than the retention window are swept when a new
    one is written, so a long-running cadence cannot accrete one tiny file
    per micro-batch forever (review catch, round 13)."""
    import time

    from datalakejson_spark.functions import ivf as ivf_mod
    from datalakejson_spark.functions.ivf import (
        build_ivf_index,
        ivf_batch_applied,
        ivf_index_append,
    )

    idx = str(tmp_path / "idx")
    schema = "vec_id bigint, embedding array<double>"
    build_ivf_index(spark.createDataFrame(_vectors(1, 100, 0), schema), idx,
                    n_cells=16)
    ivf_index_append(
        spark, spark.createDataFrame(_vectors(2, 5, 1000), schema), idx,
        batch_id="old",
    )
    assert ivf_batch_applied(idx, "old")
    # age the marker past retention
    marker = os.path.join(idx, "_applied", "old")
    past = time.time() - 2 * ivf_mod._APPLIED_RETENTION_S
    os.utime(marker, (past, past))

    ivf_index_append(
        spark, spark.createDataFrame(_vectors(3, 5, 2000), schema), idx,
        batch_id="new",
    )
    assert ivf_batch_applied(idx, "new")
    assert not ivf_batch_applied(idx, "old")  # swept


def test_streaming_lsh_matches_batch_loop(spark, tmp_path):
    """The LSH plane gets the same stream ≡ batch-loop contract: a
    bootstrap-then-append drain (restart on the same checkpoint between
    drains) produces row-for-row the probe results of a batch loop over the
    same splits, and bootstrap/append replays stay exactly-once."""
    from datalakejson_spark.functions.lsh_index import (
        build_lsh_index,
        lsh_index_append,
        lsh_index_topk,
    )
    from datalakejson_spark.streaming.ann_stream import (
        process_lsh_batch,
        streaming_lsh_ingest,
    )

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    boot = _vectors(1, 200, 0)
    d1 = _vectors(2, 50, 1000)
    _write_landing(landing, "boot.json", boot)
    args = dict(
        landing_dir=landing,
        index_dir=idx,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_SCHEMA,
        max_files_per_trigger=1,
        n_planes=4,
        n_tables=4,
        compact_max_runs_per_bucket=2,
    )
    streaming_ann = streaming_lsh_ingest(spark, **args)
    streaming_ann.awaitTermination()  # bootstrap
    _write_landing(landing, "d1.json", d1)
    streaming_lsh_ingest(spark, **args).awaitTermination()  # restart+append

    schema = "vec_id bigint, embedding array<double>"
    ref_idx = str(tmp_path / "ref")
    build_lsh_index(
        spark.createDataFrame(boot, schema), ref_idx, n_planes=4, n_tables=4
    )
    lsh_index_append(spark, spark.createDataFrame(d1, schema), ref_idx)

    queries = spark.createDataFrame(boot[:4], schema)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rn)
        for r in lsh_index_topk(spark, queries, idx).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rn)
        for r in lsh_index_topk(spark, queries, ref_idx).collect()
    )
    assert got == want and got

    # replay safety, both windows, against the live stream's index — the
    # replay must carry the STREAM'S identity (batch ids are namespaced
    # per checkpoint since round 14; a replay is by definition the same
    # stream)
    from datalakejson_spark.streaming.ann_stream import stream_identity

    sid = stream_identity(str(tmp_path / "ckpt"))
    df_boot = spark.createDataFrame(boot, schema)
    process_lsh_batch(spark, df_boot, 0, idx, stream_id=sid)  # bootstrap replay
    d1_df = spark.createDataFrame(d1, schema)
    process_lsh_batch(spark, d1_df, 1, idx, stream_id=sid)  # marker skip
    rows = sorted(
        r.vec_id
        for r in spark.read.parquet(os.path.join(idx, "buckets"))
        .select("vec_id")
        .distinct()
        .collect()
    )
    assert rows == sorted(i for i, _ in boot + d1)


def test_stream_drift_monitor_records_and_warns(spark, tmp_path, caplog):
    """With retrain_check_every set, the stream measures recall on its
    cadence, appends every reading to _RECALL.jsonl, and WARNS when the
    drift trigger fires — never rebuilding in-stream (the index stays the
    bootstrap quantizer's)."""
    import logging

    import numpy as np

    from datalakejson_spark.functions.ivf import load_ivf_meta
    from datalakejson_spark.streaming.ann_stream import streaming_ann_ingest

    rng = np.random.RandomState(0)
    DIM, KD = 8, 64
    cents = rng.standard_normal((KD, DIM)) * 5.0

    def clustered(n, start):
        lab = rng.randint(0, KD, n)
        x = cents[lab] + rng.standard_normal((n, DIM)) * 0.2
        return [(start + i, [float(v) for v in x[i]]) for i in range(n)]

    def uniform(n, start):
        x = rng.uniform(-10, 10, (n, DIM))
        return [(start + i, [float(v) for v in x[i]]) for i in range(n)]

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    args = dict(
        landing_dir=landing,
        index_dir=idx,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_SCHEMA,
        max_files_per_trigger=1,
        n_cells=64,
        retrain_check_every=1,
        retrain_drift_tolerance=0.05,
    )
    _write_landing(landing, "boot.json", clustered(6000, 0))
    streaming_ann_ingest(spark, **args).awaitTermination()  # bootstrap
    # give the bootstrap a baseline so drift is measured against it
    from datalakejson_spark.functions.ivf import (
        _write_ivf_meta,
        ivf_recall_probe,
    )

    meta = load_ivf_meta(idx)
    meta["baseline_recall"] = ivf_recall_probe(spark, idx)
    _write_ivf_meta(idx, meta)

    _write_landing(landing, "drift.json", uniform(6000, 100000))
    with caplog.at_level(logging.WARNING):
        streaming_ann_ingest(spark, **args).awaitTermination()
    readings = [
        json.loads(line)
        for line in open(os.path.join(idx, "_RECALL.jsonl"))
    ]
    assert readings and readings[-1]["needs_retrain"]
    assert readings[-1]["recall"] < meta["baseline_recall"]
    assert any("schedule build_ivf_index" in r.message for r in caplog.records)
    # the monitor never rebuilt: the quantizer is still the bootstrap's
    # (the id is namespaced by the stream identity since round 14)
    assert load_ivf_meta(idx).get("bootstrap_batch", "").endswith("-b0")


def test_new_checkpoint_on_owned_index_fails_loudly(spark, tmp_path):
    """Pointing a NEW checkpoint at an index another stream bootstrapped
    recycles batch ids b0,b1,... — under bare ids those batches were
    SILENTLY dropped via the bootstrap skip and marker retention (ADVICE
    r13). Now the index records its owning stream identity: the foreign
    stream's first batch raises with guidance instead of guessing, and the
    explicit adopt_stream verb re-homes the index so the new stream's
    batches append (nothing silently swallowed)."""
    import pytest

    from datalakejson_spark.streaming.ann_stream import (
        adopt_stream,
        process_ann_batch,
    )

    idx = str(tmp_path / "idx")
    schema = "vec_id bigint, embedding array<double>"
    boot = _vectors(1, 100, 0)
    df_boot = spark.createDataFrame(boot, schema)
    process_ann_batch(spark, df_boot, 0, idx, n_cells=16, stream_id="streamA")
    assert _index_rows(spark, idx) == sorted(i for i, _ in boot)

    # the operator resets the checkpoint: a fresh stream identity replays
    # batch id 0 with NEW data — must fail loudly, not vanish
    d_new = spark.createDataFrame(_vectors(2, 30, 5000), schema)
    with pytest.raises(ValueError, match="adopt_stream"):
        process_ann_batch(spark, d_new, 0, idx, stream_id="streamB")
    assert _index_rows(spark, idx) == sorted(i for i, _ in boot)  # untouched

    # the explicit verb re-homes the index; the new stream's batch 0 then
    # APPENDS (the meta's bootstrap_batch is streamA-b0, never streamB-b0)
    adopt_stream(idx, "streamB")
    process_ann_batch(spark, d_new, 0, idx, stream_id="streamB")
    assert _index_rows(spark, idx) == sorted(
        i for i, _ in boot + _vectors(2, 30, 5000)
    )
    # and a replay of that batch under the SAME identity is exactly-once
    process_ann_batch(spark, d_new, 0, idx, stream_id="streamB")
    assert _index_rows(spark, idx) == sorted(
        i for i, _ in boot + _vectors(2, 30, 5000)
    )


def test_lsh_stream_retune_monitor_records_and_warns(spark, tmp_path, caplog):
    """With retune_check_every set, the LSH stream measures bucket volume
    on its cadence (footers only), appends every reading to _RETUNE.jsonl,
    and WARNS with the autotune-recommended planes when the corpus outgrows
    its family — never re-planing in-stream (the family definition stays
    the bootstrap's)."""
    import logging

    from datalakejson_spark.functions.lsh_index import load_lsh_meta
    from datalakejson_spark.streaming.ann_stream import streaming_lsh_ingest

    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "idx")
    args = dict(
        landing_dir=landing,
        index_dir=idx,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_SCHEMA,
        max_files_per_trigger=1,
        n_planes=3,  # 8 buckets/table: sized for the small bootstrap
        n_tables=4,
        retune_check_every=1,
        retune_target_bucket_rows=250,
    )
    _write_landing(landing, "boot.json", _vectors(1, 2000, 0, dim=8))
    streaming_lsh_ingest(spark, **args).awaitTermination()  # bootstrap
    fam0 = {
        k: load_lsh_meta(idx)[k] for k in ("n_planes", "n_tables", "seed")
    }

    # the corpus outgrows its planes 10x inside the drain
    _write_landing(landing, "grow.json", _vectors(2, 20000, 100000, dim=8))
    with caplog.at_level(logging.WARNING):
        streaming_lsh_ingest(spark, **args).awaitTermination()

    readings = [
        json.loads(line) for line in open(os.path.join(idx, "_RETUNE.jsonl"))
    ]
    assert readings and readings[-1]["needs_retune"]
    assert readings[-1]["recommended_planes"] > readings[-1]["planes"]
    assert any("schedule build_lsh_index" in r.message for r in caplog.records)
    # the monitor never re-planed: the family is still the bootstrap's
    assert {
        k: load_lsh_meta(idx)[k] for k in ("n_planes", "n_tables", "seed")
    } == fam0
    assert load_lsh_meta(idx).get("bootstrap_batch", "").endswith("-b0")


def test_unreadable_stream_sidecar_refuses_instead_of_readopting(
    spark, tmp_path
):
    """_guard_stream_identity must adopt ONLY when the sidecar is genuinely
    absent; any other read failure (corrupt JSON here, standing in for
    permissions/transient IO) raises instead of silently overwriting the
    owner — failing open would defeat the foreign-stream guard exactly when
    its state is unreadable (ADVICE r14)."""
    import pytest

    from datalakejson_spark.streaming.ann_stream import process_ann_batch

    idx = str(tmp_path / "idx")
    schema = "vec_id bigint, embedding array<double>"
    boot = _vectors(1, 100, 0)
    process_ann_batch(
        spark,
        spark.createDataFrame(boot, schema),
        0,
        idx,
        n_cells=16,
        stream_id="streamA",
    )
    with open(os.path.join(idx, "_STREAM.json"), "w") as fh:
        fh.write("{corrupt")
    d1 = spark.createDataFrame(_vectors(2, 30, 5000), schema)
    with pytest.raises(ValueError, match="unreadable"):
        process_ann_batch(spark, d1, 1, idx, stream_id="streamA")
    # the corrupt sidecar was NOT overwritten (no silent re-adoption)
    assert open(os.path.join(idx, "_STREAM.json")).read() == "{corrupt"
    assert _index_rows(spark, idx) == sorted(i for i, _ in boot)

