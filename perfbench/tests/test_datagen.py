"""The generated inputs are a pure function of the seed."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from perfbench.datagen import (
    N_PREFIXES,
    _kept_rows,
    documents,
    make_landing,
    make_tables,
    near_duplicate,
    seeded,
)


def _tree(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()
    }


def test_landing_zone_is_identical_for_a_seed_and_differs_across_seeds(tmp_path):
    corpus, _ = documents(seeded(7, 10), 50, dup_share=0.0)
    a = make_landing(str(tmp_path / "a"), 7, n_files=20, rows_per_file=5, corpus=corpus)
    b = make_landing(str(tmp_path / "b"), 7, n_files=20, rows_per_file=5, corpus=corpus)
    c = make_landing(str(tmp_path / "c"), 8, n_files=20, rows_per_file=5, corpus=corpus)
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    assert (a.good_rows, a.corrupt_lines, a.input_bytes, a.kept_rows) == (
        b.good_rows, b.corrupt_lines, b.input_bytes, b.kept_rows,
    )


def test_planted_files_sit_at_the_same_keys_for_every_seed(tmp_path):
    def plants(seed):
        plan = make_landing(str(tmp_path / str(seed)), seed, n_files=24, rows_per_file=4)
        rel = {f: str(Path(f).relative_to(plan.root)) for f in plan.files}
        with_channel = {
            rel[f] for f in plan.files if '"channel"' in Path(f).read_text()
        }
        return sorted(rel[f] for f in plan.corrupt_files), plan.corrupt_lines, with_channel

    assert plants(1) == plants(2)
    corrupt, lines, with_channel = plants(1)
    assert len(corrupt) == 3 and lines == 4 and len(with_channel) == 3
    assert not set(corrupt) & with_channel


def test_landing_plan_states_the_planted_outcomes(tmp_path):
    plan = make_landing(str(tmp_path / "l"), 3, n_files=20, rows_per_file=5)
    assert len(plan.files) == 20
    assert len(plan.corrupt_files) == 3
    assert plan.drift_file not in plan.corrupt_files
    assert plan.good_rows == 19 * 5  # every file but the drift file
    assert 3 <= plan.corrupt_lines <= 6
    # the drift file sorts last, so the first batch fixes the contract first
    assert max(plan.files) == plan.drift_file
    tops = {Path(f).relative_to(plan.root).parts[0] for f in plan.files}
    assert len(tops) == N_PREFIXES
    moved = plan.copy_to(str(tmp_path / "copy"))
    assert moved.succeeded == {f.replace(plan.root, moved.root) for f in plan.succeeded}
    assert all(Path(f).exists() for f in moved.files)


def test_copies_follow_the_fixture_style():
    corpus, _ = documents(seeded(1, 10), 20, dup_share=0.0)
    rows, src = documents(seeded(1, 9), 400, dup_share=0.1, corpus=corpus)
    texts = [t for _, t in rows]
    copies = [i for i, s in enumerate(src) if s is not None]
    assert len(copies) == 40
    for i in copies:
        if src[i] < 0:
            base = corpus[-1 - src[i]][1]
        else:
            base = texts[src[i]]
            assert src[src[i]] is None  # a copy is of an original
        assert texts[i] in (base, near_duplicate(base))
    assert any(src[i] < 0 for i in copies) and any(src[i] >= 0 for i in copies)


def test_kept_rows_keeps_one_member_of_each_group_and_none_of_a_corpus_copy():
    # rows 0..5: 0 original; 1, 2 copy row 0; 3 copies corpus[0]; 4 original,
    # quarantined; 5 copies row 4
    src = [None, 0, 0, -1, None, 4]
    assert _kept_rows(src, [True] * 6) == 2  # {0,1,2} -> 1, {3} -> 0, {4,5} -> 1
    assert _kept_rows(src, [False, True, True, True, True, True]) == 2  # 1 or 2 stays
    assert _kept_rows(src, [True, True, True, True, False, False]) == 1
    assert _kept_rows(src + [None], [True] * 7) == 3  # a lone original stays


def test_tables_are_identical_for_a_seed(tmp_path):
    make_tables(str(tmp_path / "a"), 5, sf=0.001)
    make_tables(str(tmp_path / "b"), 5, sf=0.001)
    make_tables(str(tmp_path / "c"), 6, sf=0.001)
    names = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert len(names) == 10
    for name in names:
        ta = pq.read_table(tmp_path / "a" / name)
        assert ta.equals(pq.read_table(tmp_path / "b" / name)), name
        assert pq.ParquetFile(tmp_path / "a" / name).metadata.num_row_groups == 1
    # the fixture's parquet type: load_table must take the nanosAsLong path
    ts = pq.ParquetFile(tmp_path / "a" / "events.parquet").schema.column(1)
    assert ts.name == "ts" and "nanoseconds" in str(ts.logical_type)
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet")
    )
