"""Every staged writer commits in the one on-disk form the publisher reads.

Each writer runs once while a spy on ``publish.publish_one`` checks every
committed stage it is handed: ``_COMMITTED`` is the ``{"files": [...]}``
manifest, and ``_SUBSUMED.json``, when present, is a list of relpaths.
The writers covered are the dedup append, compaction, major compaction
and rebuild; the IVF append, compaction, split and retrain; the LSH append
and compaction; the tombstone vacuum; and the curated lake's ingest batch,
compaction, optimize and replay vacuum. The ANN cases also pin that the
vector count is kept only in its ``_COUNT.json`` sidecar.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from datalakejson_spark import publish
from datalakejson_spark.functions import incremental_dedup as inc
from datalakejson_spark.functions import ivf, lsh_index

_SCHEMA = "vec_id bigint, embedding array<double>"


@pytest.fixture
def committed(monkeypatch):
    """Tokens of the committed stages handed to ``publish_one``, each
    checked for the strict marker formats first."""
    seen: list[str] = []
    real = publish.publish_one

    def spy(store, stage):
        if publish.is_committed(stage):
            with open(os.path.join(stage, "_COMMITTED")) as fh:
                marker = json.load(fh)
            assert list(marker) == ["files"], stage
            assert isinstance(marker["files"], list), stage
            try:
                with open(os.path.join(stage, "_SUBSUMED.json")) as fh:
                    assert isinstance(json.load(fh), list), stage
            except FileNotFoundError:
                pass
            seen.append(os.path.basename(stage))
        return real(store, stage)

    monkeypatch.setattr(publish, "publish_one", spy)
    return seen


def _publishes(seen: list[str], verb, *args, **kwargs):
    """Run ``verb``; assert it handed at least one committed stage on."""
    n = len(seen)
    out = verb(*args, **kwargs)
    assert len(seen) > n, verb.__name__
    return out


def _vectors(spark, seed: int, n: int, start: int, shift: float = 0.0):
    x = np.random.RandomState(seed).standard_normal((n, 8)) + shift
    return spark.createDataFrame(
        [(start + i, [float(v) for v in x[i]]) for i in range(n)], _SCHEMA
    )


def _assert_count_in_sidecar_only(idx: str, meta_name: str, n: int) -> None:
    """The vector count lives in ``_COUNT.json`` alone: builds write it,
    appends and vacuums bump it, and no meta write carries ``n_vectors``."""
    with open(os.path.join(idx, meta_name)) as fh:
        assert "n_vectors" not in json.load(fh)
    with open(os.path.join(idx, "_COUNT.json")) as fh:
        assert json.load(fh) == {"n": n}


def test_dedup_writers_commit_strict_markers(spark, tmp_path, committed):
    def docs(lo, hi):
        rows = [
            (i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    idx = str(tmp_path / "dedup")
    inc.ingest_batch_dedup(spark, docs(0, 6), idx, compact_max_runs=None)
    _publishes(
        committed, inc.ingest_batch_dedup, spark, docs(6, 12), idx,
        compact_max_runs=None,
    )
    _publishes(committed, inc.compact_index, spark, idx)
    _publishes(committed, inc.major_compact_index, spark, idx)
    _publishes(committed, inc.rebuild_index, spark, docs(0, 12), idx)


def test_ivf_writers_commit_strict_markers(spark, tmp_path, committed):
    idx = str(tmp_path / "ivf")
    ivf.build_ivf_index(_vectors(spark, 1, 200, 0), idx, n_cells=4)
    for k in range(2):
        _publishes(
            committed, ivf.ivf_index_append, spark,
            _vectors(spark, 2 + k, 40, 1000 + 100 * k), idx,
        )
    _publishes(committed, ivf.compact_ivf_cells, spark, idx, max_runs_per_cell=1)
    rows = ivf.ivf_cell_rows(idx)
    assert _publishes(
        committed, ivf.split_ivf_cell, spark, idx, max(rows, key=rows.get)
    ) is not None
    ivf.ivf_index_append(spark, _vectors(spark, 9, 80, 5000, shift=6.0), idx)
    res = _publishes(committed, ivf.retrain_ivf_delta, spark, idx, rel_tolerance=0.0)
    assert res["outcome"] == "published", res
    ivf.ivf_index_delete(idx, [0, 1, 2])
    _publishes(committed, ivf.vacuum_ivf_deletes, spark, idx)
    _assert_count_in_sidecar_only(idx, "_IVF.json", 200 + 40 + 40 + 80 - 3)


def test_lsh_writers_commit_strict_markers(spark, tmp_path, committed):
    idx = str(tmp_path / "lsh")
    lsh_index.build_lsh_index(
        _vectors(spark, 1, 120, 0), idx, n_planes=3, n_tables=2
    )
    for k in range(2):
        _publishes(
            committed, lsh_index.lsh_index_append, spark,
            _vectors(spark, 2 + k, 30, 1000 + 100 * k), idx,
        )
    _publishes(
        committed, lsh_index.compact_lsh_buckets, spark, idx,
        max_runs_per_bucket=1,
    )
    _assert_count_in_sidecar_only(idx, "_LSH.json", 120 + 30 + 30)


def test_curated_writers_commit_strict_markers(spark, tmp_path, committed):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalakejson_spark.plans import compact as cmp
    from datalakejson_spark.plans import ingest as ing
    from tests.conftest import good_record, write_ndjson

    for k in range(2):
        write_ndjson(
            tmp_path / "landing" / f"f{k}.json",
            [good_record(10 * k + i, score=10 * k + i) for i in range(5)],
        )
    conf = ing.IngestConfig(
        landing_dir=str(tmp_path / "landing"),
        curated_dir=str(tmp_path / "curated"),
        dlq_dir=str(tmp_path / "dlq"),
        archive_dir=str(tmp_path / "archive"),
        ledger_dir=str(tmp_path / "ledger"),
        batch_size=1,
    )
    ing.discover(spark, conf)
    for _ in range(2):
        _publishes(committed, ing.ingest_batch, spark, conf)
    assert all(_publishes(committed, cmp.compact, spark, conf.curated_dir).values())
    # a replayed source: the older run's row is the one vacuum drops
    (part,) = cmp.list_partition_dirs(conf.curated_dir)
    for run in ("run-0", "run-1"):
        pq.write_table(
            pa.table({"record_id": [run], "source_s3_path": ["x"], "ingest_run_id": [run]}),
            os.path.join(part, f"part-replay-{run}.parquet"),
        )
    assert _publishes(committed, cmp.vacuum_replays, spark, conf.curated_dir) == {part: 1}
    assert _publishes(
        committed, cmp.optimize_table, spark, conf.curated_dir, zorder_cols=["score"]
    ) == {part: True}
