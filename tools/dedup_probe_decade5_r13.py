"""Round-13 decade-5 ambition check: the FILE-COUNT axis of the pruned
probe law.

The K x rows_per_file law is measured on real data up to 1.25x10^8 rows /
30,519 files (tools/dedup_probe_decade4_r12.jsonl). A 10^9-row index at the
same 4,096-row file size is ~305k files, and the row axis is already proven
flat — what a further decade stresses is the DRIVER-SIDE planning path:
directory listing, the _RANGES.json sidecar (load + size), the in-memory
range map, and the run-derivation regex pass the compaction trigger runs
per batch.

So this runner fabricates exactly that: N zero-byte ``.parquet``
placeholders (the listing axis) plus a CONSISTENT warm sidecar carrying
range-disjoint 12-hex-prefix ranges slicing the md5 space uniformly (the
cache axis) — _file_stats trusts warm cache entries without opening files,
so the measured path is byte-for-byte the production planning path on a
warm sidecar; no fabricated footer is ever read. EXPLICITLY LABELED: this
measures planning, not the scan — the scan axis (K files x rows_per_file
rows) is the decade-4 artifact's already-measured claim, unchanged by file
count.

Per N in {30519, 100k, 305190, 1M}: listdir wall, sidecar bytes + load
wall, _prune_files wall (the bisect pass) + selected-file count vs the K
expectation, derive_runs wall (trigger cost), and the driver RSS increase
from holding the range map.

Writes tools/dedup_probe_decade5_r13.jsonl.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datalakejson_spark.functions import incremental_dedup as inc  # noqa: E402

OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "dedup_probe_decade5_r13.jsonl"
)
ROWS_PER_FILE = 4_096
PROBE_DOCS = 100


def fabricate_planning_layout(live: str, n_files: int, gen: str) -> None:
    """N placeholder files named like one compacted generation + a warm
    sidecar whose ranges slice the 48-bit md5 prefix space uniformly and
    disjointly (strict hi < next lo via even/odd halves)."""
    os.makedirs(live, exist_ok=True)
    span = 1 << 48
    step = span // n_files
    cache = {}
    for i in range(n_files):
        name = f"part-{i:06d}-{gen}-c000.snappy.parquet"
        open(os.path.join(live, name), "wb").close()
        lo = i * step
        hi = lo + step - 2  # leave a gap: strict disjointness at boundaries
        cache[name] = [f"{lo:012x}", f"{hi:012x}", ROWS_PER_FILE]
    with open(os.path.join(live, inc._RANGES), "w") as fh:
        json.dump(cache, fh)


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main() -> None:
    import hashlib

    sizes = [int(a) for a in sys.argv[1:]] or [30_519, 100_000, 305_190, 1_000_000]
    gen = "deadbeef-dead-dead-dead-decade5eeeee"
    fh = open(OUT, "a", buffering=1)
    fh.write(json.dumps({
        "phase": "meta", "start": time.strftime("%F %T"), "sizes": sizes,
        "rows_per_file": ROWS_PER_FILE, "probe_docs": PROBE_DOCS,
        "note": "planning-path only; placeholder files + warm sidecar — "
                "the scan axis is decade-4's measured claim",
    }) + "\n")
    keys = sorted(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(PROBE_DOCS)
    )
    for n in sizes:
        root = tempfile.mkdtemp(prefix=f"decade5_{n}_")
        live = os.path.join(root, "hashes")
        try:
            t0 = time.time()
            fabricate_planning_layout(live, n, gen)
            fab_s = time.time() - t0
            rss0 = rss_mb()

            t0 = time.time()
            files = inc._live_files(live)
            list_s = time.time() - t0

            sidecar_bytes = os.path.getsize(os.path.join(live, inc._RANGES))
            t0 = time.time()
            stats = inc._file_stats(live, "text_hash")
            stats_s = time.time() - t0

            t0 = time.time()
            selected, total = inc._prune_files(live, "text_hash", keys)
            prune_s = time.time() - t0

            t0 = time.time()
            runs = inc.derive_runs(stats)
            runs_s = time.time() - t0

            # steady-state batch: the sidecar is unchanged since the last
            # publish, so the mtime-keyed parse cache must make the reparse
            # free — this is the decade-5 fix under test
            t0 = time.time()
            inc._file_stats(live, "text_hash")
            warm_stats_s = time.time() - t0
            t0 = time.time()
            selected2, _ = inc._prune_files(live, "text_hash", keys)
            warm_prune_s = time.time() - t0
            assert selected2 == selected

            rec = {
                "phase": "planning", "n_files": n,
                "warm_file_stats_s": round(warm_stats_s, 3),
                "warm_prune_s": round(warm_prune_s, 3),
                "fabricate_s": round(fab_s, 2),
                "listdir_s": round(list_s, 3),
                "sidecar_mb": round(sidecar_bytes / 1e6, 1),
                "file_stats_s": round(stats_s, 3),
                "prune_s": round(prune_s, 3),
                "selected": len(selected), "total": total,
                "expected_upper": PROBE_DOCS,  # K keys -> <= K disjoint files
                "derive_runs_s": round(runs_s, 3),
                "n_runs": len(runs),
                "rss_delta_mb": round(rss_mb() - rss0, 1),
                "implied_rows": n * ROWS_PER_FILE,
            }
            assert len(selected) <= PROBE_DOCS, rec
            assert len(runs) == 1, rec
            fh.write(json.dumps(rec) + "\n")
            print(rec)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
