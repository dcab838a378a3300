"""Persisted-IVF probe cost at 10^6 vectors (round 12).

Builds a cell-partitioned IVF index (autotuned nlist) over the same
clustered synth corpus as the recall curve, then measures what partition
pruning buys a SMALL probe batch — the serving posture: the index is built
once; each probe should touch n x nprobe / nlist rows, not the corpus.
Reports scan rows from executed SQLMetrics, cells read vs total, recall@5
of the probed result vs the exact oracle, and the append path's cost.

Usage: python tools/ivf_index_probe_r12.py [n] [--out=PATH]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import pyspark.sql.functions as F  # noqa: E402

from ann_recall_curve import (  # noqa: E402
    K,
    recall_at_k,
    synth_clustered,
    topk_sets,
)

N_PROBE_QUERIES = 5


def main() -> None:
    from datalakejson_spark.functions import ivf as ivf_mod
    from datalakejson_spark.functions.similarity import brute_force_topk_np
    from datalakejson_spark.plans.metrics import executed_summary
    from datalakejson_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else 1_000_000
    out_path = "/tmp/ivf_index_probe_r12.jsonl"
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out_path = a.split("=", 1)[1]

    spark = get_spark("ivf-index-probe")
    fh = open(out_path, "a", buffering=1)
    root = Path(tempfile.mkdtemp(prefix=f"ivfidx_{n}_"))
    idx = str(root / "ivf")
    try:
        synth_clustered(spark, n).repartition(32).write.mode("overwrite").parquet(
            str(root / "emb")
        )
        emb = spark.read.parquet(str(root / "emb"))
        queries = emb.filter(F.col("vec_id") < N_PROBE_QUERIES).localCheckpoint(
            eager=True
        )
        exact = topk_sets(brute_force_topk_np(queries, emb, k=K))

        t0 = time.time()
        meta = ivf_mod.build_ivf_index(emb, idx)
        build_sec = round(time.time() - t0, 2)
        auto_nlist, auto_nprobe = meta["n_cells"], max(4, meta["n_cells"] // 16)
        fh.write(
            json.dumps(
                {
                    "phase": "build",
                    "n": n,
                    "nlist": auto_nlist,
                    "build_sec": build_sec,
                }
            )
            + "\n"
        )

        for nprobe in sorted({16, auto_nprobe}):
            t0 = time.time()
            ann = ivf_mod.ivf_index_topk(spark, queries, idx, nprobe=nprobe)
            rows = ann.collect()  # execute THIS frame: metrics on a derived
            # (re-planned) frame read zeros — the r10 SQLMetrics trap
            probe_sec = round(time.time() - t0, 2)
            got: dict[int, set[int]] = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            s = executed_summary(ann)
            fh.write(
                json.dumps(
                    {
                        "phase": "probe",
                        "n": n,
                        "nlist": auto_nlist,
                        "nprobe": nprobe,
                        "n_queries": N_PROBE_QUERIES,
                        "probe_sec": probe_sec,
                        "scan_rows": s["scan_rows"],
                        "scan_fraction": round(s["scan_rows"] / n, 4),
                        "recall_at_5": round(recall_at_k(got, exact), 4),
                    }
                )
                + "\n"
            )

        # append a 10k delta against the frozen quantizer, re-probe
        delta = synth_clustered(spark, n + 10_000).filter(
            F.col("vec_id") >= n
        )
        t0 = time.time()
        appended = ivf_mod.ivf_index_append(spark, delta, idx)
        append_sec = round(time.time() - t0, 2)
        # the oracle must see the delta too: appended vectors can be TRUE
        # nearest neighbors now, so pre-append exact would under-read recall
        exact = topk_sets(
            brute_force_topk_np(queries, emb.unionByName(delta), k=K)
        )
        t0 = time.time()
        ann = ivf_mod.ivf_index_topk(spark, queries, idx, nprobe=16)
        got = topk_sets(ann)
        fh.write(
            json.dumps(
                {
                    "phase": "append",
                    "n": n,
                    "appended": appended,
                    "append_sec": append_sec,
                    "post_append_probe_sec": round(time.time() - t0, 2),
                    "post_append_recall_at_5": round(recall_at_k(got, exact), 4),
                }
            )
            + "\n"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    fh.write(json.dumps({"phase": "meta", "done": time.strftime("%F %T")}) + "\n")
    print(f"done -> {out_path}")


if __name__ == "__main__":
    main()
