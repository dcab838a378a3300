"""Round-13 measurement: fragmented-base MAJOR compaction of the dedup
index (the one amortized O(corpus) event left in its lifecycle).

Per index size H (docs; default 10^6 and 10^7):

1. Fabricate a compacted index whose BASE is fragmented by construction
   (files hold ~1/8 of the probe-target rows — the layout a long history of
   segmented repairs and narrow folds leaves behind), all in ONE write
   generation so the run structure matches a real base.
2. Measure the steady loop ON the fragmented layout: one micro-batch
   ingest (audit + append) wall time.
3. Run major_compact_index (timed), with a kill+resume at the first decade
   (killpoint after the hashes subdir) to exercise the checkpoint path.
4. Assert the probe audit is byte-identical before/after, the layout is
   one range-disjoint run at the target, and re-measure the micro-batch.

The amortization claim: the major's cost is O(corpus) by nature, but it is
(a) staged + resumable, (b) triggered only by MEASURED persistent
fragmentation (needs_major_compaction), and (c) rare — the jsonl records
major_sec / batch_sec so the cost can be stated in batch equivalents.

Writes tools/major_compaction_r13.jsonl. Run on a QUIET box:
python tools/major_compaction_r13.py [H ...]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

PROBE_TARGET = 65_536  # the compaction target the probe layout is sized for
FRAG_FACTOR = 8  # fabricated base files hold target/FRAG_FACTOR rows
PLANTED = 5
PROBE_DOCS = 100
WORDS_PER_DOC = 24
OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "major_compaction_r13.jsonl"
)


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


def fabricate_fragmented_index(spark, idx: str, h: int) -> None:
    """A single-generation index pair of H fabricated documents whose files
    hold PROBE_TARGET/FRAG_FACTOR rows each — a fragmented base by
    construction (cites tools/segmented_compaction_curve.fabricate_index
    for the md5-shaped fabrication)."""
    from datalakejson_spark.functions.dedup import band_table, minhash_signatures
    from datalakejson_spark.functions import incremental_dedup as inc

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
    frag_rows = max(256, PROBE_TARGET // FRAG_FACTOR)
    for sub, df, rows in (
        ("hashes", hashes, h + PLANTED),
        ("bands", bands, (h + PLANTED) * n_bands),
    ):
        key = inc._PRUNE_KEY[sub]
        parts = max(1, math.ceil(rows / frag_rows))
        df.repartitionByRange(parts, key).sortWithinPartitions(key).write.mode(
            "overwrite"
        ).parquet(os.path.join(idx, sub))
    inc.write_lane_meta(idx)
    for sub in inc._INDEX_SUBDIRS:
        inc._file_stats(os.path.join(idx, sub), inc._PRUNE_KEY[sub])


def probe_audit(spark, idx: str) -> list[tuple]:
    from datalakejson_spark.functions import incremental_dedup as inc

    delta = synth_docs(spark, 0, PROBE_DOCS)
    h, b = inc._read_index_pair(spark, idx, "doc_id")
    return sorted(tuple(r) for r in inc.dedup_audit(delta, h, b).collect())


def one_batch_seconds(spark, idx: str, start: int) -> float:
    from datalakejson_spark.functions import incremental_dedup as inc

    delta = synth_docs(spark, start, 1000)
    t0 = time.time()
    inc.ingest_batch_dedup(spark, delta, idx, compact_max_runs=None)
    return time.time() - t0


def main() -> None:
    from datalakejson_spark.functions import incremental_dedup as inc
    from datalakejson_spark.plans import killpoints
    from datalakejson_spark.plans.killpoints import InjectedKill
    from datalakejson_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:]] or [1_000_000, 10_000_000]
    spark = get_spark("major-compaction-r13")
    fh = open(OUT, "a", buffering=1)
    fh.write(json.dumps({"phase": "meta", "start": time.strftime("%F %T"),
                         "sizes": sizes, "probe_target": PROBE_TARGET,
                         "frag_factor": FRAG_FACTOR}) + "\n")
    for h in sizes:
        root = Path(tempfile.mkdtemp(prefix=f"major_{h}_"))
        idx = str(root / "idx")
        try:
            t0 = time.time()
            fabricate_fragmented_index(spark, idx, h)
            build_sec = time.time() - t0
            stats = inc._file_stats(
                os.path.join(idx, "bands"), inc._PRUNE_KEY["bands"]
            )
            files_before, _rows, excess = inc._base_frag_excess(
                stats, PROBE_TARGET
            )
            audit0 = probe_audit(spark, idx)
            batch_frag = one_batch_seconds(spark, idx, 10_000_000_000)
            fh.write(json.dumps({
                "phase": "before", "H": h, "fabricate_sec": round(build_sec, 1),
                "band_base_files": files_before, "band_frag_excess": excess,
                "batch_sec_fragmented": round(batch_frag, 2),
            }) + "\n")

            killed = False
            if h == sizes[0]:  # exercise the resume path at the small decade
                killpoints.kill_once("dedup:major_subdir_done")
                try:
                    inc.major_compact_index(
                        spark, idx, target_rows_per_file=PROBE_TARGET
                    )
                except InjectedKill:
                    killed = True
                finally:
                    killpoints.disarm()
            t0 = time.time()
            written = inc.major_compact_index(
                spark, idx, target_rows_per_file=PROBE_TARGET
            )
            major_sec = time.time() - t0

            audit1 = probe_audit(spark, idx)
            assert audit1 == audit0, "audit changed across the major merge"
            stats = inc._file_stats(
                os.path.join(idx, "bands"), inc._PRUNE_KEY["bands"]
            )
            files_after, _rows, excess_after = inc._base_frag_excess(
                stats, PROBE_TARGET
            )
            runs = len(inc.derive_runs(stats))
            batch_clean = one_batch_seconds(spark, idx, 20_000_000_000)
            fh.write(json.dumps({
                "phase": "major", "H": h, "resumed_after_kill": killed,
                "major_sec": round(major_sec, 1),
                "rows_written": written,
                "band_base_files": files_after,
                "band_frag_excess": excess_after, "band_runs": runs,
                "audit_identical": True,
                "batch_sec_clean": round(batch_clean, 2),
                "batch_equivalents": round(major_sec / max(batch_clean, 1e-9), 1),
            }) + "\n")
            print(f"H={h}: major {major_sec:.1f}s, "
                  f"files {files_before}->{files_after}, "
                  f"batch {batch_frag:.2f}->{batch_clean:.2f}s")
        finally:
            shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
