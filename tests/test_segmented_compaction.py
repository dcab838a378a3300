"""Segmented (per-range) base compaction (round 12): a dirty BASE no longer
rewrites the corpus. Base-generation dirtiness is per-FILE (the base is
range-disjoint), the fold set rewrites component-wise, and outputs are
renamed into the base generation's job UUID so the base stays ONE run.

Every test asserts the three segmented invariants the r12 verdict asked for:
(1) maintenance cost ∝ the dirty/fold key span — pinned as "untouched base
files keep their exact names" (they are never read or written), (2) the
rewritten layout is still range-disjoint (pruning stays armed), and
(3) index CONTENT and audit decisions are byte-identical across the
maintenance (multiset row equality + a fixed probe audit)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from datalakejson_spark.functions import incremental_dedup as inc
from datalakejson_spark.functions.incremental_dedup import (
    compact_index,
    dedup_audit,
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

    toks = [
        hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8] for j in range(10)
    ]
    return " ".join(toks)


def _build_base(spark, tmp_path, n_docs: int = 24, target: int = 8) -> str:
    """An index with one compacted (range-disjoint) base generation:
    hashes = n_docs rows, bands = n_docs x NUM_BANDS rows, files of
    ~target rows each."""
    idx = str(tmp_path / "idx")
    for start in range(0, n_docs, 6):
        ingest_batch_dedup(
            spark,
            _docs(
                spark,
                [(i, _distinct_text(i)) for i in range(start, start + 6)],
            ),
            idx,
            compact_max_runs=None,
        )
    compact_index(spark, idx, target_rows_per_file=target)
    return idx


def _rows(spark, idx: str, sub: str) -> list[tuple]:
    df = spark.read.parquet(os.path.join(idx, sub))
    return sorted(tuple(r) for r in df.collect())


def _files(idx: str, sub: str) -> list[str]:
    return inc._live_files(os.path.join(idx, sub))


def _base_uuid(idx: str, sub: str) -> str:
    return inc._PART_UUID.match(_files(idx, sub)[0]).group(1)


def _by_lo(idx: str, sub: str) -> list[str]:
    """Live files sorted by their key-range lo."""
    live = os.path.join(idx, sub)
    ranges = inc._file_ranges(live, inc._PRUNE_KEY[sub])
    return [f for _rng, f in sorted((r, f) for f, r in ranges.items() if r)]


def _audit(spark, idx: str) -> dict:
    """Fixed probe audit (one exact dup of doc 0, one novel doc) — the
    decision must be identical before and after any maintenance."""
    delta = _docs(
        spark,
        [(9000, _distinct_text(0)), (9001, "genuinely novel probe words")],
    )
    h, b = inc._read_index_pair(spark, idx, "doc_id")
    return {
        r.doc_id: (r.is_exact_dup, r.is_near_dup, r.kept)
        for r in dedup_audit(delta, h, b).collect()
    }


def _assert_disjoint(idx: str, sub: str) -> None:
    live = os.path.join(idx, sub)
    ranges = inc._file_ranges(live, inc._PRUNE_KEY[sub])
    assert inc._ranges_disjoint(ranges), ranges


def test_oversized_base_file_repairs_segmentally(spark, tmp_path):
    """One oversized base file (3 adjacent files merged by an out-of-band
    writer) is split back WITHOUT touching the other base files: they are
    never read, their names survive, and the outputs rejoin the base
    generation."""
    idx = _build_base(spark, tmp_path)
    audit_before = _audit(spark, idx)
    rows_before = _rows(spark, idx, "bands")
    uuid = _base_uuid(idx, "bands")
    live = os.path.join(idx, "bands")

    ordered = _by_lo(idx, "bands")
    assert len(ordered) >= 10
    victims = ordered[:3]  # adjacent ranges -> merged range stays disjoint
    merged = pq.read_table(os.path.join(live, victims[0]))
    import pyarrow as pa

    for v in victims[1:]:
        merged = pa.concat_tables([merged, pq.read_table(os.path.join(live, v))])
    assert merged.num_rows > 2 * 8  # oversized at target=8
    pq.write_table(
        merged, os.path.join(live, f"part-90000-{uuid}-c000.snappy.parquet")
    )
    for v in victims:
        os.remove(os.path.join(live, v))
    untouched = set(_files(idx, "bands")) - {
        f"part-90000-{uuid}-c000.snappy.parquet"
    }

    # the loop trigger sees the oversized file from the sidecar alone
    assert inc._needs_compaction(idx, max_runs=8, target_rows_per_file=8)
    counts = compact_index(spark, idx, target_rows_per_file=8, max_runs=8)
    assert counts["hashes"][0] == counts["hashes"][1]  # other subdir untouched

    after = set(_files(idx, "bands"))
    assert untouched <= after  # never read, never written
    assert f"part-90000-{uuid}-c000.snappy.parquet" not in after
    new = after - untouched
    assert new and all(inc._PART_UUID.match(f).group(1) == uuid for f in new)
    assert len(inc.derive_runs(sorted(after))) == 1  # still ONE base run
    assert all(
        pq.ParquetFile(os.path.join(live, f)).metadata.num_rows <= 2 * 8
        for f in new
    )
    _assert_disjoint(idx, "bands")
    assert _rows(spark, idx, "bands") == rows_before
    assert _audit(spark, idx) == audit_before
    assert not inc._needs_compaction(idx, max_runs=8, target_rows_per_file=8)


def test_statless_base_file_repairs_segmentally(spark, tmp_path):
    """A base file written without column statistics (out-of-band writer)
    is unprunable; the repair resolves its true range with a one-file
    min/max job, rewrites it alone, and leaves every sibling in place."""
    idx = _build_base(spark, tmp_path)
    audit_before = _audit(spark, idx)
    rows_before = _rows(spark, idx, "bands")
    uuid = _base_uuid(idx, "bands")
    live = os.path.join(idx, "bands")

    victim = _by_lo(idx, "bands")[2]
    tbl = pq.read_table(os.path.join(live, victim))
    pq.write_table(
        tbl,
        os.path.join(live, f"part-90002-{uuid}-c000.snappy.parquet"),
        write_statistics=False,
    )
    os.remove(os.path.join(live, victim))
    statless = f"part-90002-{uuid}-c000.snappy.parquet"
    assert inc._file_ranges(live, "band_hash")[statless] is None
    untouched = set(_files(idx, "bands")) - {statless}

    compact_index(spark, idx, target_rows_per_file=8, max_runs=8)

    after = set(_files(idx, "bands"))
    assert untouched <= after
    assert statless not in after
    new = after - untouched
    assert new and all(inc._PART_UUID.match(f).group(1) == uuid for f in new)
    ranges = inc._file_ranges(live, "band_hash")
    assert all(ranges[f] is not None for f in new)  # prunable again
    _assert_disjoint(idx, "bands")
    assert _rows(spark, idx, "bands") == rows_before
    assert _audit(spark, idx) == audit_before


def test_overlapping_base_pair_repairs_segmentally(spark, tmp_path):
    """Two base files with overlapping ranges (a direct-writer duplicate)
    are merged back into disjoint files together — and ONLY they are
    rewritten; the rest of the base generation is untouched."""
    idx = _build_base(spark, tmp_path)
    audit_before = _audit(spark, idx)
    uuid = _base_uuid(idx, "bands")
    live = os.path.join(idx, "bands")

    twin_src = _by_lo(idx, "bands")[1]
    twin = f"part-90001-{uuid}-c000.snappy.parquet"
    pq.write_table(
        pq.read_table(os.path.join(live, twin_src)), os.path.join(live, twin)
    )
    rows_with_twin = _rows(spark, idx, "bands")  # dup rows included
    others = set(_files(idx, "bands")) - {twin, twin_src}

    compact_index(spark, idx, target_rows_per_file=8, max_runs=8)

    after = set(_files(idx, "bands"))
    assert others <= after  # only the overlapping pair rewrote
    assert twin not in after and twin_src not in after
    new = after - others
    assert new and all(inc._PART_UUID.match(f).group(1) == uuid for f in new)
    _assert_disjoint(idx, "bands")
    # compaction preserves rows exactly — the duplicates survive (they are
    # harmless to the semi-join probes; dedup of index rows is not its job)
    assert _rows(spark, idx, "bands") == rows_with_twin
    assert _audit(spark, idx) == audit_before


def test_narrow_span_appends_fold_into_base_segmentally(spark, tmp_path):
    """Span-bounded append runs fold into ONLY the base files their key
    ranges touch: the cascade pops the two smallest runs, their single
    touched base file rewrites with them, and the other 11+ base files
    plus the surviving append run are untouched — the O(delta-key-span)
    fold the r12 verdict asked to measure."""
    idx = _build_base(spark, tmp_path)
    audit_before = _audit(spark, idx)
    rows_before = _rows(spark, idx, "bands")
    uuid = _base_uuid(idx, "bands")
    live = os.path.join(idx, "bands")

    target_file = _by_lo(idx, "bands")[0]
    tbl = pq.read_table(os.path.join(live, target_file))
    appends = []
    for i in range(3):  # three narrow appends inside target_file's range
        name = f"part-00000-0000000{i}-1111-2222-3333-444444444444-c000.snappy.parquet"
        pq.write_table(tbl.slice(i, 2), os.path.join(live, name))
        appends.append(name)
    rows_with_appends = _rows(spark, idx, "bands")

    counts = compact_index(spark, idx, target_rows_per_file=8, max_runs=3)

    after = set(_files(idx, "bands"))
    # two smallest runs folded; the third append run survives as its own run
    surviving_appends = [a for a in appends if a in after]
    assert len(surviving_appends) == 1
    assert target_file not in after  # the one touched base file rewrote
    untouched_base = {
        f
        for f in _by_lo(idx, "bands")
        if inc._PART_UUID.match(f) and inc._PART_UUID.match(f).group(1) == uuid
    }
    base_after = {
        f for f in after if inc._PART_UUID.match(f).group(1) == uuid
    }
    # every original base file except the touched one is still there
    assert base_after >= (untouched_base - {target_file})
    runs = inc.derive_runs(sorted(after))
    assert len(runs) == 2, [sorted(r)[:2] for r in runs]  # base + 1 append
    base_run = max(runs, key=len)
    ranges = inc._file_ranges(live, "band_hash")
    assert inc._ranges_disjoint({f: ranges[f] for f in base_run})
    assert _rows(spark, idx, "bands") == rows_with_appends
    assert _audit(spark, idx) == audit_before
    assert counts["bands"][1] < counts["bands"][0]


def test_full_span_appends_still_take_the_tiered_path(spark, tmp_path):
    """Regression pin of the r11 posture: uniform-key appends span the
    whole key space, so folding them must NOT engage segmented mode — the
    fold output is a NEW generation and the base is never read."""
    idx = _build_base(spark, tmp_path)
    base_files = set(_files(idx, "bands"))
    uuid = _base_uuid(idx, "bands")
    for start in range(100, 100 + 9 * 6, 6):  # 9 full-span append runs
        ingest_batch_dedup(
            spark,
            _docs(
                spark,
                [(i, _distinct_text(i)) for i in range(start, start + 6)],
            ),
            idx,
            compact_max_runs=None,
        )
    compact_index(spark, idx, target_rows_per_file=8, max_runs=4)
    after = set(_files(idx, "bands"))
    assert base_files <= after  # base untouched, byte-for-byte same names
    merged_gen = {
        inc._PART_UUID.match(f).group(1)
        for f in after - base_files
        if inc._PART_UUID.match(f)
    }
    assert uuid not in merged_gen  # fold output is NOT renamed into base
    assert len(inc.derive_runs(sorted(after))) <= 4


@pytest.mark.parametrize("point", ["dedup:compact_staged", "dedup:compact_committed"])
def test_segmented_repair_kill_points(spark, tmp_path, point):
    """A crash during a SEGMENTED publish self-heals exactly like the
    wholesale one: staged-unmarked -> old layout wins; committed ->
    rolled forward by the next entry point. Audits identical either way."""
    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.killpoints import InjectedKill

    idx = _build_base(spark, tmp_path)
    audit_before = _audit(spark, idx)
    rows_before = _rows(spark, idx, "bands")
    uuid = _base_uuid(idx, "bands")
    live = os.path.join(idx, "bands")
    ordered = _by_lo(idx, "bands")
    merged = pq.read_table(os.path.join(live, ordered[0]))
    import pyarrow as pa

    for v in ordered[1:3]:
        merged = pa.concat_tables([merged, pq.read_table(os.path.join(live, v))])
    pq.write_table(
        merged, os.path.join(live, f"part-90000-{uuid}-c000.snappy.parquet")
    )
    for v in ordered[:3]:
        os.remove(os.path.join(live, v))

    killpoints.kill_once(point)
    with pytest.raises(InjectedKill):
        compact_index(spark, idx, target_rows_per_file=8, max_runs=8)
    # recovery rides any entry point's _publish_staged roll-forward
    compact_index(spark, idx, target_rows_per_file=8, max_runs=8)
    _assert_disjoint(idx, "bands")
    assert len(inc.derive_runs(_files(idx, "bands"))) == 1
    assert _rows(spark, idx, "bands") == rows_before
    assert _audit(spark, idx) == audit_before
