"""The curated lake on the one staged publish (plans/compact.py,
datalakejson_spark/publish.py): compaction and replay vacuuming read
exactly the files they list, publish one stage whose ``_SUBSUMED.json``
names those files, and survive a crash at every filesystem mutation.
"""

from __future__ import annotations

import os
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datalakejson_spark import publish
from datalakejson_spark.plans import killpoints
from datalakejson_spark.plans.compact import compact, vacuum_replays
from datalakejson_spark.plans.ingest import IngestConfig, ingest_batch, read_curated
from datalakejson_spark.plans.killpoints import InjectedKill

# partition → files → (record_id, source_s3_path, ingest_run_id) rows; the
# second file of each partition replays its source under a newer run
LAKE = {
    "year=2024/mode=train": {
        "part-00000-a.parquet": [("r0", "s1", "run-1"), ("r1", "s1", "run-1")],
        "part-00001-b.parquet": [("r0", "s1", "run-2"), ("r1", "s1", "run-2")],
    },
    "year=2024/mode=eval": {
        "part-00000-c.parquet": [("r2", "s2", "run-1")],
        "part-00001-d.parquet": [("r2", "s2", "run-2"), ("r3", "s2", "run-2")],
    },
}


@pytest.fixture(autouse=True)
def _clean_hooks():
    killpoints.disarm()
    yield
    killpoints.disarm()


def _write(path: Path, rows) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    cols = ("record_id", "source_s3_path", "ingest_run_id")
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), path)


def plant(lake: Path) -> str:
    for part, files in LAKE.items():
        for name, rows in files.items():
            _write(lake / part / name, rows)
    return str(lake)


def rows(spark, lake: str) -> Counter:
    df = read_curated(spark, lake).select(
        "record_id", "source_s3_path", "ingest_run_id", "year", "mode"
    )
    return Counter(tuple(r) for r in df.collect())


def staging(lake: str) -> list[str]:
    root = os.path.join(lake, publish.STAGING)
    return sorted(os.listdir(root)) if os.path.isdir(root) else []


@pytest.fixture
def outcomes(monkeypatch):
    """Outcome of every ``publish_one`` call, in order."""
    seen: list[str] = []
    real = publish.publish_one

    def spy(store, stage):
        seen.append(real(store, stage))
        return seen[-1]

    monkeypatch.setattr(publish, "publish_one", spy)
    return seen


def test_read_curated_skips_hidden_stage_with_widened_types(spark, tmp_path):
    """A column widened across files (INT64, then DOUBLE) sends read_curated
    to the footer-grouped branch; a stage under the hidden ``_staging`` dir
    must not join that read (it would add a conflicting directory level)."""
    lake = tmp_path / "lake"
    part = lake / "year=2024" / "mode=train"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"score": pa.array([1], pa.int64())}), part / "a.parquet")
    pq.write_table(pa.table({"score": pa.array([2.5])}), part / "b.parquet")
    stage = lake / "_staging" / "run-x" / "year=2024" / "mode=train"
    stage.mkdir(parents=True)
    pq.write_table(pa.table({"score": pa.array([9.0])}), stage / "c.parquet")

    df = read_curated(spark, str(lake))
    assert sorted(r.score for r in df.collect()) == [1.0, 2.5]


def test_late_file_survives_compaction(spark, tmp_path, monkeypatch):
    """A file published into a partition after compaction's read is not in
    the stage's subsumed list: it outlives the rewrite and stays readable."""
    from pyspark.sql.readwriter import DataFrameWriter

    lake = plant(tmp_path / "lake")
    landed: list[Path] = []
    real = DataFrameWriter.parquet

    def write_then_land(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if not landed:  # the first rewritten partition has been read
            leaf = os.path.basename(path).rsplit("_", 1)[-1]
            landed.append(Path(lake) / "year=2024" / leaf / "part-00009-late.parquet")
            _write(landed[0], [("r9", "s9", "run-3")])

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_land)
    before = rows(spark, lake)
    compact(spark, lake)
    monkeypatch.undo()

    assert landed and landed[0].exists()
    mode = landed[0].parent.name.split("=")[1]
    assert rows(spark, lake) == before + Counter({("r9", "s9", "run-3", 2024, mode): 1})


def test_racing_compactions_one_publishes(spark, tmp_path, outcomes):
    """Two compactions that read the same files: the one that publishes
    first wins, the other's stage is discarded as lost and its call reports
    no rewrite, and every row is there exactly once."""
    lake = plant(tmp_path / "lake")
    before = rows(spark, lake)
    inner: list[dict] = []

    def race():
        killpoints.disarm("compact:staged")
        inner.append(compact(spark, lake))

    killpoints.arm("compact:staged", race)
    outer = compact(spark, lake)

    assert all(inner[0].values()) and len(inner[0]) == 2
    assert outer == dict.fromkeys(inner[0], False)
    assert outcomes.count("published") == 1 and outcomes.count("lost") == 1
    assert rows(spark, lake) == before
    assert staging(lake) == []


@pytest.mark.parametrize("recover", ["compact", "ingest_batch"])
def test_reader_window_doubles_then_settles(spark, tmp_path, recover):
    """Between a compaction stage's moves and its subsumed deletes a reader
    sees the rewritten rows twice, never missing. A crash there keeps them
    doubled until the next publish pass, which a compaction and an ingest
    batch both run first."""
    lake = plant(tmp_path / "lake")
    before = rows(spark, lake)
    killpoints.kill_once("compact:publishing")
    with pytest.raises(InjectedKill):
        compact(spark, lake)
    assert rows(spark, lake) == before + before

    if recover == "compact":
        compact(spark, lake)
    else:
        ingest_batch(
            spark,
            IngestConfig(
                landing_dir=str(tmp_path / "landing"),
                curated_dir=lake,
                dlq_dir=str(tmp_path / "dlq"),
                archive_dir=str(tmp_path / "archive"),
                ledger_dir=str(tmp_path / "ledger"),
            ),
        )
    assert rows(spark, lake) == before
    assert staging(lake) == []


@pytest.mark.parametrize("verb", [compact, vacuum_replays], ids=["compact", "vacuum"])
def test_crash_at_every_mutation_then_rerun(spark, tmp_path, monkeypatch, verb):
    """Hard death at the k-th ``os.rename``/``os.replace``/``os.remove`` on
    the lake, for every k until the verb completes; after each death the
    same verb runs again and the lake reads exactly as after an
    uninterrupted call."""
    ref = plant(tmp_path / "ref")
    verb(spark, ref)
    expected = rows(spark, ref)
    real = {name: getattr(os, name) for name in ("rename", "replace", "remove")}

    def arm(k: int, lake: str) -> None:
        calls = [0]

        def wrap(name):
            def mutation(src, *args, **kwargs):
                if str(src).startswith(lake):
                    calls[0] += 1
                    if calls[0] == k:
                        raise InjectedKill(f"killed at {name} #{k}")
                return real[name](src, *args, **kwargs)

            return mutation

        for name in real:
            monkeypatch.setattr(os, name, wrap(name))

    k = 1
    while True:
        lake = plant(tmp_path / f"lake{k}")
        arm(k, lake)
        try:
            verb(spark, lake)
        except InjectedKill:
            monkeypatch.undo()
            verb(spark, lake)
            assert rows(spark, lake) == expected, k
            k += 1
            continue
        monkeypatch.undo()
        assert rows(spark, lake) == expected
        break
    assert k > 4  # the sweep reached the publish moves and deletes
