"""Round-14 measurement: IVF delta retrain (VERDICT r13 #1 — the last
O(corpus) remedy made O(moved rows)).

Scenario per drift fraction f: a 10^5-vector clustered index (measured
baseline recall recorded at build) receives f x 10^5 LOCALIZED
out-of-distribution appends (uniform over one orthant's sub-box — the same
boundary-miss drift mechanism as the r13 global-uniform scenario, confined
to a corner of the space). Then, on copies of the SAME drifted corpus:

- ``retrain_ivf_delta``: warm-started quantizer diff → re-assign ONLY the
  cells whose centroid moved (staged publish, gen-fenced), re-measure and
  re-record the baseline;
- ``build_ivf_index`` (the old remedy): full rewrite of every cell.

Claims under test, per line of the jsonl:
- delta cost (seconds AND rows rewritten) grows ∝ the drifted mass
  (moved-cell rows ≈ blob + the clusters sharing those cells), while the
  full rebuild's rows-rewritten is flat at the whole corpus;
- delta recall matches the full rebuild's within a small margin on every
  fraction (on the r13-style drift both remedies converge to the honest
  post-drift ceiling — the contract is 'repair, re-measure, re-record,
  trigger clears', not 'restore the pre-drift 1.0 that no quantizer can
  achieve on uniform mass at this nlist/nprobe');
- the trigger fires before and clears after, on its own measurement.

Writes tools/ivf_delta_retrain_r14.jsonl (one JSON object per line).
Run on a QUIET box: python tools/ivf_delta_retrain.py [base_n]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalakejson_spark.functions.ivf import (  # noqa: E402
    build_ivf_index,
    ivf_index_append,
    ivf_needs_retrain,
    load_ivf_meta,
    retrain_ivf_delta,
)
from datalakejson_spark.session import get_spark  # noqa: E402

OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "ivf_delta_retrain_r14.jsonl"
)
DIM = 32
KD = 256  # training clusters
BASE_N = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
FRACTIONS = [0.05, 0.1, 0.2, 0.4]
DRIFT_TOL = 0.02


def emit(fh, rec: dict) -> None:
    fh.write(json.dumps(rec) + "\n")
    fh.flush()
    print(json.dumps(rec))


def main() -> None:
    spark = get_spark("ivf-delta-retrain-r14", cpus=8, shuffle_partitions=16)
    schema = "vec_id bigint, embedding array<double>"
    rng = np.random.RandomState(7)
    cents = rng.standard_normal((KD, DIM)) * 5.0

    def clustered(n, start):
        lab = rng.randint(0, KD, n)
        x = cents[lab] + rng.standard_normal((n, DIM)) * 0.2
        return spark.createDataFrame(
            [(start + i, [float(v) for v in x[i]]) for i in range(n)], schema
        )

    def orthant_blob(n, start):
        x = rng.uniform(0.0, 16.0, (n, DIM))
        return spark.createDataFrame(
            [(start + i, [float(v) for v in x[i]]) for i in range(n)], schema
        )

    with open(OUT, "w") as fh:
        emit(
            fh,
            {
                "phase": "meta",
                "base_n": BASE_N,
                "dim": DIM,
                "fractions": FRACTIONS,
                "drift_tolerance": DRIFT_TOL,
            },
        )
        for frac in FRACTIONS:
            n_blob = int(BASE_N * frac)
            idx = tempfile.mkdtemp(prefix=f"delta_r14_{frac}_")
            ref = tempfile.mkdtemp(prefix=f"delta_r14_ref_{frac}_")
            try:
                t0 = time.time()
                meta = build_ivf_index(
                    clustered(BASE_N, 0), idx, measure_recall=True
                )
                build_s = time.time() - t0
                ivf_index_append(spark, orthant_blob(n_blob, 10_000_000), idx)
                fired, drifted_recall = ivf_needs_retrain(
                    spark, idx, drift_tolerance=DRIFT_TOL
                )
                shutil.copytree(idx, ref, dirs_exist_ok=True)

                t0 = time.time()
                res = retrain_ivf_delta(spark, idx, measure_recall=True)
                delta_s = time.time() - t0
                cleared, post_recall = ivf_needs_retrain(
                    spark, idx, drift_tolerance=DRIFT_TOL
                )

                corpus = spark.read.parquet(os.path.join(ref, "cells")).select(
                    "vec_id", "embedding"
                )
                t0 = time.time()
                build_ivf_index(corpus, ref, measure_recall=True)
                rebuild_s = time.time() - t0
                rebuild_recall = load_ivf_meta(ref)["baseline_recall"]

                emit(
                    fh,
                    {
                        "phase": "retrain",
                        "drift_fraction": frac,
                        "n_total": BASE_N + n_blob,
                        "baseline_recall": meta["baseline_recall"],
                        "drifted_recall": drifted_recall,
                        "trigger_fired": bool(fired),
                        "n_cells": meta["n_cells"],
                        "moved_cells": len(res["moved_cells"]),
                        "rows_moved": res["rows_moved"],
                        "delta_recall": res.get("recall"),
                        "delta_s": round(delta_s, 2),
                        "post_recall": post_recall,
                        "trigger_cleared": not cleared,
                        "rebuild_rows": BASE_N + n_blob,
                        "rebuild_recall": rebuild_recall,
                        "rebuild_s": round(rebuild_s, 2),
                        "initial_build_s": round(build_s, 2),
                    },
                )
            finally:
                shutil.rmtree(idx, ignore_errors=True)
                shutil.rmtree(ref, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
