"""Commit-path probe cost at 10^7 terminal files (VERDICT r8 'what's wrong
#3'): measure the fenced steady batch against a decade-2 terminal history.

Setup mirrors the real steady state the reference reaches after months of
ingest: 10^7 completed files whose keys are time-ordered (the common
date-prefixed s3 layout — here zero-padded numeric keys, so lexical order =
arrival order), living in a handful of append-only terminal segments, plus a
50k-file active working set at the TOP of the key space (new files have new
keys). A batch's commit runs one terminal-history read, the key probe
(``Ledger._transition_keys``): it collects the batch keys' current rows,
which tell which claims were reclaimed (fenced out) and whether the
transition touches a terminal row.

The probe is range-pruned: the batch's [min,max] key is compared against
each segment's s3_key range from its parquet footer, and time-ordered keys
fall OUTSIDE every historic segment's range, so the probe touches zero
terminal segments regardless of history size. SCALE.md keeps the round-9
comparison against the unpruned full-history probe.

Usage: python tools/ledger_probe_10m.py [n_terminal] [n_segments]
Defaults: 10_000_000 rows in 10 segments. Prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    import pyspark.sql.functions as F

    from datalakejson_spark.plans.ledger import Ledger, LedgerStatus
    from datalakejson_spark.session import get_spark

    n_term = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_segs = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_active = 50_000
    spark = get_spark("ledger-probe-10m")
    root = tempfile.mkdtemp(prefix="ledger_probe_")
    led = Ledger(spark, f"{root}/ledger")

    def synth(lo: int, hi: int):
        return spark.range(lo, hi).select(
            F.format_string(
                "s3://lake/landing/dt=%08d/f%09d",
                (F.col("id") / 100_000).cast("long"),
                F.col("id"),
            ).alias("s3_key"),
            F.lit(1000).cast("long").alias("file_size_bytes"),
        )

    out: dict[str, object] = {"n_terminal": n_term, "n_segments": n_segs}

    # History: register + complete in key-contiguous chunks, one terminal
    # segment per chunk (exactly how segments accrue batch-by-batch).
    chunk = n_term // n_segs
    t0 = time.time()
    for s in range(n_segs):
        lo, hi = s * chunk, (s + 1) * chunk
        led.register(synth(lo, hi))
        led.set_status(synth(lo, hi).select("s3_key"), LedgerStatus.SUCCEEDED)
    out["setup_sec"] = round(time.time() - t0, 1)

    # Working set at the top of the key space (new files, new keys).
    led.register(synth(n_term, n_term + n_active))

    def steady_batch(run_id: str) -> float:
        t0 = time.time()
        claimed = led.claim_batch(10_000, run_id)
        assert len(claimed) == 10_000
        led.apply_outcomes(
            [(claimed, LedgerStatus.SUCCEEDED, None)], run_id=run_id
        )
        return round(time.time() - t0, 2)

    # Warm-up, then the measured range-pruned batch.
    steady_batch("warm")
    out["steady_batch_sec"] = steady_batch("probe")

    print(json.dumps(out))
    spark.stop()
    import shutil

    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
