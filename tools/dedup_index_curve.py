"""Incremental-dedup per-batch cost vs INDEX size (round 10).

The bench's dedup curve varies BATCH size at a fixed index;
l15's decade-2 exponent grows batch and index together. This runner
isolates the axis that matters for the steady-state loop ("keeps batch
N+1 as cheap as batch N", incremental_dedup.py): a FIXED 1000-document
all-novel delta audited against an index of H documents, H across three
decades. If the audit shuffles the index (left-semi with the huge side on
the build-right), per-batch cost grows linearly with corpus and the loop
invariant is broken at 100 TB.

For each H: build the index pair directly (exact hashes + LSH bands, the
same writers the loop appends with), then time ``ingest_batch_dedup`` for
two DIFFERENT novel 1000-doc deltas (the second also audits against the
first's appended rows — steady-state shape); report both, plus the
audit-only executed shuffle bytes (plans/metrics.py) so the index-shuffle
question is answered by SQLMetrics, not inference.

Usage: python tools/dedup_index_curve.py [H ...] [--out=PATH]
Defaults: 10000 100000 1000000; JSONL appends to /tmp/dedup_index_curve.jsonl
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

BATCH_DOCS = 1000
#: delta size for the pruned-vs-full audit comparison. File-level range
#: pruning wins when the file count exceeds the delta's key count (every
#: key lands in exactly one range-disjoint file), so the demonstration
#: probe is a small micro-batch against many fixed-size files — the same
#: geometry a 10^9-doc index has with 1M-row files and 100-1000-doc drains.
PROBE_DOCS = 100
WORDS_PER_DOC = 24


def synth_docs(spark, start: int, n: int):
    """n documents with per-doc-unique vocabularies: no exact or near
    collisions between ANY two docs, so survivors == batch and the timing
    measures the probe machinery, not collision handling."""
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


def main() -> None:
    from datalakejson_spark.functions.dedup import band_table, minhash_signatures
    from datalakejson_spark.functions.incremental_dedup import (
        _read_index_pair_pruned,
        compact_index,
        dedup_audit,
        exact_hash_index,
        ingest_batch_dedup,
        write_lane_meta,
    )
    from datalakejson_spark.plans.metrics import executed_summary
    from datalakejson_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:] if not a.startswith("--")] or [
        10_000,
        100_000,
        1_000_000,
    ]
    out_path = "/tmp/dedup_index_curve.jsonl"
    target_rows = 1_000_000  # compact_index default
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out_path = a.split("=", 1)[1]
        if a.startswith("--target_rows="):
            target_rows = int(a.split("=", 1)[1])

    spark = get_spark("dedup-index-curve")
    fh = open(out_path, "a", buffering=1)
    fh.write(json.dumps({"phase": "meta", "start": time.strftime("%F %T"),
                         "sizes": sizes}) + "\n")
    for h in sizes:
        root = Path(tempfile.mkdtemp(prefix=f"dedup_curve_{h}_"))
        idx = str(root / "idx")
        try:
            corpus = synth_docs(spark, 0, h)
            t0 = time.time()
            exact_hash_index(corpus).write.mode("append").parquet(f"{idx}/hashes")
            band_table(minhash_signatures(corpus)).write.mode("append").parquet(
                f"{idx}/bands"
            )
            write_lane_meta(idx)  # direct writers must stamp the definition
            build_sec = time.time() - t0
            # Steady-state layout: compaction range-sorts each subdir by its
            # probe key, which is what arms the footer-range file pruning
            # the micro-batch audits below exercise (round 11).
            t0 = time.time()
            compact_counts = compact_index(spark, idx, target_rows_per_file=target_rows)
            compact_sec = time.time() - t0

            batch_secs, kept_counts = [], []
            for rep in range(2):
                delta = synth_docs(spark, h + rep * BATCH_DOCS, BATCH_DOCS)
                t0 = time.time()
                # threshold=None: the curve controls the layout explicitly
                # (an auto-compaction inside a timed batch would rewrite
                # the deliberately-small-file geometry mid-measurement)
                kept = ingest_batch_dedup(
                    spark, delta, idx, compact_max_runs=None
                )
                n_kept = kept.count()
                batch_secs.append(round(time.time() - t0, 2))
                kept_counts.append(n_kept)
                # Disjoint vocabularies still produce occasional LSH band
                # collisions at large H (a band is a few minhash values;
                # chance agreement grows with corpus) — a few per thousand
                # is expected noise, not a harness bug.
                assert n_kept >= 0.8 * BATCH_DOCS, (n_kept, rep)

            # Audit-only executed metrics: how many bytes actually crossed
            # exchanges for one probe pass over the full index. Two traps
            # (both hit in round 10):
            # 1. MUST be collect(), not count(): the audit's marker
            #    left-joins are on provably-distinct keys, so under count()
            #    Catalyst eliminates the joins AND the semi probes feeding
            #    them — zero "measured" work while doing none.
            # 2. The delta MUST contain planted duplicates: with zero
            #    collisions AQE's empty-relation propagation replaces the
            #    probe subtrees after their stages execute, dropping the
            #    already-run index scan/shuffle stages from the FINAL plan —
            #    the metrics walk then reads Range+Project and nothing else
            #    (wall time stays honest; SQLMetrics do not).
            hashes = spark.read.parquet(f"{idx}/hashes")
            bands = spark.read.parquet(f"{idx}/bands")
            novel = synth_docs(spark, h + 2 * BATCH_DOCS, PROBE_DOCS - 10)
            planted = synth_docs(spark, 0, 10).select(
                (F.col("doc_id") + h + 3 * BATCH_DOCS).alias("doc_id"), "text"
            )
            delta = novel.unionByName(planted)
            t0 = time.time()
            audit = dedup_audit(delta, hashes, bands)
            full_rows = sorted(map(tuple, audit.collect()))
            audit_sec = round(time.time() - t0, 2)
            s = executed_summary(audit)

            # Round 11: the SAME audit through the range-pruned read — the
            # loop's actual plan. Byte-identical verdicts required; the
            # scan-rows delta is the measurement (shuffle was already
            # O(batch) since the r10 probe flip; the full-index SCAN per
            # batch was the remaining linear term).
            delta = delta.localCheckpoint(eager=True)
            t0 = time.time()
            hash_keys = [
                r[0] for r in delta.select(F.md5("text")).distinct().collect()
            ]
            band_keys = [
                r[0]
                for r in band_table(minhash_signatures(delta))
                .select("band_hash")
                .distinct()
                .collect()
            ]
            ph, pb, prune_stats = _read_index_pair_pruned(
                spark, idx, "doc_id", hash_keys, band_keys
            )
            pruned_audit = dedup_audit(delta, ph, pb)
            pruned_rows = sorted(map(tuple, pruned_audit.collect()))
            pruned_sec = round(time.time() - t0, 2)
            ps = executed_summary(pruned_audit)
            assert pruned_rows == full_rows, "pruned audit diverged"

            fh.write(
                json.dumps(
                    {
                        "phase": "dedup_index",
                        "index_docs": h,
                        "probe_docs": PROBE_DOCS,
                        "target_rows_per_file": target_rows,
                        "build_sec": round(build_sec, 2),
                        "compact_sec": round(compact_sec, 2),
                        "compact_files": compact_counts,
                        "batch_secs": batch_secs,
                        "kept_counts": kept_counts,
                        "audit_only_sec": audit_sec,
                        "audit_shuffle_bytes": s["shuffle_bytes"],
                        "audit_scan_rows": s["scan_rows"],
                        "audit_n_broadcasts": s["n_broadcasts"],
                        "audit_spill_bytes": s["spill_bytes"],
                        "pruned_audit_sec": pruned_sec,
                        "pruned_scan_rows": ps["scan_rows"],
                        "pruned_shuffle_bytes": ps["shuffle_bytes"],
                        "pruned_files": prune_stats,
                        "pruned_equals_full": True,
                    }
                )
                + "\n"
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    fh.write(json.dumps({"phase": "meta", "done": time.strftime("%F %T")}) + "\n")
    fh.close()
    print(f"done -> {out_path}")


if __name__ == "__main__":
    main()
