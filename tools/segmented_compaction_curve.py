"""Segmented (per-range) base-compaction cost vs corpus size (round 12).

The r11 tiered merge made the append tail O(appends); the remaining
O(corpus) event was a dirty BASE: one oversized/stats-less/overlapping
base file used to rewrite the whole pair. Segmented compaction repairs
only the affected ranges. This runner measures that claim at index sizes
across a decade, for the two maintenance scenarios the r12 verdict names:

- ``oversized_repair``: an out-of-band writer merged 3 adjacent base files
  into one oversized file; the repair must split it back while every other
  base file stays byte-untouched (asserted via name+size+mtime snapshots).
- ``narrow_fold``: span-bounded append runs (keys inside ONE base file's
  range) fold into only the base files they touch.
- ``full_rewrite``: the max_runs=1 wholesale compaction on the same index —
  the cost the segmented paths avoid.

Every scenario asserts the probe audit (100 docs, 5 planted exact dups) is
byte-identical across the maintenance, and that the layout stays
range-disjoint (pruning armed). Appends one JSON line per scenario.

Usage: python tools/segmented_compaction_curve.py [H ...] [--out=PATH]
Defaults: 1000000 10000000; JSONL appends to /tmp/segmented_compaction.jsonl
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

TARGET_ROWS = 65_536
PROBE_DOCS = 100
PLANTED = 5
WORDS_PER_DOC = 24


def synth_docs(spark, start: int, n: int):
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
                lambda k: F.concat(F.lit("w"), F.col("id"), F.lit("x"), k),
            ),
        ).alias("text"),
    )


def fabricate_index(spark, idx: str, h: int) -> None:
    """A compacted-layout index pair of H fabricated documents (md5-shaped
    keys; the corpus text need not exist) + the PLANTED probe docs' REAL
    hashes/bands so the audit has non-trivial decisions to keep stable."""
    from datalakejson_spark.functions.dedup import band_table, minhash_signatures
    from datalakejson_spark.functions import incremental_dedup as inc

    import math

    probe = synth_docs(spark, 0, PLANTED)
    hashes = (
        spark.range(h)
        .select(F.md5(F.col("id").cast("string")).alias("text_hash"))
        .unionByName(inc.exact_hash_index(probe))
    )
    n_bands = inc._num_bands()
    bands = (
        spark.range(h)
        .select(
            F.col("id").alias("doc_id"),
            F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
        )
        .withColumn(
            "band_hash",
            F.md5(F.concat(F.col("band").cast("string"), F.lit(":"),
                           F.col("doc_id").cast("string"))),
        )
        .unionByName(band_table(minhash_signatures(probe)))
    )
    for sub, df, rows in (
        ("hashes", hashes, h + PLANTED),
        ("bands", bands, (h + PLANTED) * n_bands),
    ):
        key = inc._PRUNE_KEY[sub]
        parts = max(1, math.ceil(rows / TARGET_ROWS))
        df.repartitionByRange(parts, key).sortWithinPartitions(key).write.mode(
            "overwrite"
        ).parquet(os.path.join(idx, sub))
    inc.write_lane_meta(idx)
    # warm the stats sidecar (one-time footer pass, untimed)
    for sub in inc._INDEX_SUBDIRS:
        inc._file_stats(os.path.join(idx, sub), inc._PRUNE_KEY[sub])


def snapshot(live: str) -> dict[str, tuple[int, int]]:
    return {
        f: (os.path.getsize(os.path.join(live, f)),
            os.stat(os.path.join(live, f)).st_mtime_ns)
        for f in os.listdir(live)
        if f.endswith(".parquet")
    }


def probe_audit(spark, idx: str) -> list[tuple]:
    from datalakejson_spark.functions import incremental_dedup as inc

    delta = synth_docs(spark, 0, PROBE_DOCS)  # docs 0..4 are planted dups
    h, b = inc._read_index_pair(spark, idx, "doc_id")
    audit = inc.dedup_audit(delta, h, b)
    return sorted(tuple(r) for r in audit.collect())


def by_lo(live: str, key: str) -> list[str]:
    from datalakejson_spark.functions import incremental_dedup as inc

    ranges = inc._file_ranges(live, key)
    return [f for _r, f in sorted((r, f) for f, r in ranges.items() if r)]


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalakejson_spark.functions import incremental_dedup as inc
    from datalakejson_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:] if not a.startswith("--")] or [
        1_000_000,
        10_000_000,
    ]
    out_path = "/tmp/segmented_compaction.jsonl"
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out_path = a.split("=", 1)[1]

    spark = get_spark("segmented-compaction-curve")
    fh = open(out_path, "a", buffering=1)
    fh.write(json.dumps({"phase": "meta", "start": time.strftime("%F %T"),
                         "sizes": sizes, "target_rows": TARGET_ROWS}) + "\n")
    for h in sizes:
        root = Path(tempfile.mkdtemp(prefix=f"segc_{h}_"))
        idx = str(root / "idx")
        try:
            t0 = time.time()
            fabricate_index(spark, idx, h)
            build_sec = time.time() - t0
            live = os.path.join(idx, "bands")
            key = inc._PRUNE_KEY["bands"]
            stats0 = inc._file_stats(live, key)
            corpus_rows = sum(r or 0 for _rng, r in stats0.values())
            audit0 = probe_audit(spark, idx)
            fh.write(json.dumps({
                "phase": "build", "H": h, "sec": round(build_sec, 2),
                "band_files": len(stats0), "band_rows": corpus_rows,
            }) + "\n")

            # -- scenario A: oversized base file -> segmented repair -----
            uuid = inc._PART_UUID.match(next(iter(stats0))).group(1)
            victims = by_lo(live, key)[:3]
            merged = pa.concat_tables(
                [pq.read_table(os.path.join(live, v)) for v in victims]
            )
            over_name = f"part-90000-{uuid}-c000.snappy.parquet"
            pq.write_table(merged, os.path.join(live, over_name))
            for v in victims:
                os.remove(os.path.join(live, v))
            before = snapshot(live)
            untouched_expected = {
                f: s for f, s in before.items() if f != over_name
            }
            t0 = time.time()
            counts = inc.compact_index(
                spark, idx, target_rows_per_file=TARGET_ROWS, max_runs=8
            )
            repair_sec = time.time() - t0
            after = snapshot(live)
            untouched_ok = all(
                after.get(f) == s for f, s in untouched_expected.items()
            )
            ranges = inc._file_ranges(live, key)
            assert inc._ranges_disjoint(ranges), "layout must stay disjoint"
            assert probe_audit(spark, idx) == audit0, "audit drifted (A)"
            fh.write(json.dumps({
                "phase": "oversized_repair", "H": h,
                "sec": round(repair_sec, 2),
                "rows_rewritten": merged.num_rows,
                "corpus_rows": corpus_rows,
                "rewritten_fraction": round(merged.num_rows / corpus_rows, 5),
                "files_before": counts["bands"][0],
                "files_after": counts["bands"][1],
                "base_untouched": untouched_ok,
                "runs_after": len(inc.derive_runs(sorted(after))),
            }) + "\n")

            # -- scenario B: narrow-span appends fold into touched base --
            target_file = by_lo(live, key)[0]
            tbl = pq.read_table(os.path.join(live, target_file))
            append_rows = min(4096, tbl.num_rows // 4)
            for i in range(3):
                name = (
                    f"part-00000-0000000{i}-1111-2222-3333-444444444444"
                    "-c000.snappy.parquet"
                )
                pq.write_table(
                    tbl.slice(i * append_rows, append_rows),
                    os.path.join(live, name),
                )
            before = snapshot(live)
            touched_rows = (
                pq.ParquetFile(os.path.join(live, target_file)).metadata.num_rows
            )
            t0 = time.time()
            counts = inc.compact_index(
                spark, idx, target_rows_per_file=TARGET_ROWS, max_runs=3
            )
            fold_sec = time.time() - t0
            after = snapshot(live)
            gone = set(before) - set(after)
            untouched_ok = all(
                after[f] == s for f, s in before.items() if f not in gone
            )
            rewritten = touched_rows + 2 * append_rows
            base_run = max(inc.derive_runs(sorted(after)), key=len)
            ranges = inc._file_ranges(live, key)
            assert inc._ranges_disjoint(
                {f: ranges[f] for f in base_run}
            ), "base run must stay disjoint"
            assert probe_audit(spark, idx) == audit0, "audit drifted (B)"
            fh.write(json.dumps({
                "phase": "narrow_fold", "H": h,
                "sec": round(fold_sec, 2),
                "rows_rewritten": rewritten,
                "corpus_rows": corpus_rows,
                "rewritten_fraction": round(rewritten / corpus_rows, 5),
                "files_folded": sorted(gone),
                "base_untouched": untouched_ok,
                "runs_after": len(inc.derive_runs(sorted(after))),
            }) + "\n")

            # -- baseline: wholesale full rewrite (max_runs=1) ------------
            t0 = time.time()
            inc.compact_index(
                spark, idx, target_rows_per_file=TARGET_ROWS, max_runs=1
            )
            full_sec = time.time() - t0
            assert probe_audit(spark, idx) == audit0, "audit drifted (full)"
            fh.write(json.dumps({
                "phase": "full_rewrite", "H": h, "sec": round(full_sec, 2),
                "rows_rewritten": corpus_rows,
            }) + "\n")
        finally:
            shutil.rmtree(root, ignore_errors=True)
    fh.write(json.dumps({"phase": "meta", "done": time.strftime("%F %T")}) + "\n")


if __name__ == "__main__":
    main()
