"""ANN recall-vs-scale curve: recall@5 against the exact oracle at 10^5 and
10^6 vectors, across IVF (nlist x nprobe) and LSH (n_planes x n_tables)
settings (round 12, VERDICT #3).

The corpus is CLUSTERED (256 Gaussian cluster centers, sigma-scaled noise) —
pure-uniform vectors have no nearest-neighbor structure, so recall on them
measures tie-breaking luck, not index quality; clustered synth mirrors real
embedding corpora where true neighbors share direction. Generation is fully
deterministic and partition-independent: noise comes from per-65536-id BLOCK
RNGs (block -> RandomState(seed + block)), so any batch slicing yields the
same vectors.

The exact baseline is brute_force_topk_np (itself pinned row-identical to the
JVM expression path by the registered l3d query + tests). Each sweep row
reports recall@5 (mean over 50 queries of |ann top5 ∩ exact top5| / 5),
candidate pairs scored, scan fraction, and wall seconds.

The derived rule lives in functions/ivf.autotune_ivf: nlist = 2^round(log2 √n)
clamped to [16, 65536], nprobe = max(4, nlist/16).

Usage: python tools/ann_recall_curve.py [n ...] [--out=PATH]
Default sizes: 100000 1000000; out: /tmp/ann_recall_r12.jsonl
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

DIM = 64
N_CLUSTERS = 256
SIGMA = 0.5
SEED = 11
N_QUERIES = 50
K = 5
BLOCK = 65536


def synth_clustered(spark, n: int):
    """vec_id, embedding(array<double>) — centers[id % 256] + sigma * noise."""
    centers = np.random.RandomState(SEED).standard_normal((N_CLUSTERS, DIM))
    bc = spark.sparkContext.broadcast(centers)

    def gen(batches):
        cents = bc.value
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            noise = np.empty((len(ids), DIM))
            for b in np.unique(ids // BLOCK):
                blk = np.random.RandomState(SEED + 1 + int(b)).standard_normal(
                    (BLOCK, DIM)
                )
                mask = ids // BLOCK == b
                noise[mask] = blk[ids[mask] % BLOCK]
            vecs = cents[ids % N_CLUSTERS] + SIGMA * noise
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(vecs)}
            )

    return spark.range(n).mapInPandas(
        gen, "vec_id bigint, embedding array<double>"
    )


def topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.select("query_id", "neighbor_id").collect():
        out.setdefault(r[0], set()).add(r[1])
    return out


def recall_at_k(ann: dict[int, set[int]], exact: dict[int, set[int]]) -> float:
    return sum(
        len(ann.get(q, set()) & nbrs) / len(nbrs) for q, nbrs in exact.items()
    ) / len(exact)


def main() -> None:
    from datalakejson_spark.functions import ivf as ivf_mod
    from datalakejson_spark.functions.similarity import (
        brute_force_topk_np,
        lsh_ann_topk_np,
        lsh_ann_candidates,
    )
    from datalakejson_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:] if not a.startswith("--")] or [
        100_000,
        1_000_000,
    ]
    out_path = "/tmp/ann_recall_r12.jsonl"
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out_path = a.split("=", 1)[1]

    spark = get_spark("ann-recall-curve")
    fh = open(out_path, "a", buffering=1)
    fh.write(
        json.dumps(
            {
                "phase": "meta",
                "start": time.strftime("%F %T"),
                "sizes": sizes,
                "dim": DIM,
                "n_clusters": N_CLUSTERS,
                "sigma": SIGMA,
                "n_queries": N_QUERIES,
                "k": K,
            }
        )
        + "\n"
    )
    for n in sizes:
        root = Path(tempfile.mkdtemp(prefix=f"ann_{n}_"))
        try:
            t0 = time.time()
            synth_clustered(spark, n).repartition(32).write.mode(
                "overwrite"
            ).parquet(str(root / "emb"))
            emb = spark.read.parquet(str(root / "emb"))
            queries = emb.filter(F.col("vec_id") < N_QUERIES).localCheckpoint(
                eager=True
            )
            synth_sec = round(time.time() - t0, 2)

            t0 = time.time()
            exact = topk_sets(brute_force_topk_np(queries, emb, k=K))
            exact_sec = round(time.time() - t0, 2)
            assert len(exact) == N_QUERIES
            fh.write(
                json.dumps(
                    {
                        "phase": "exact",
                        "n": n,
                        "synth_sec": synth_sec,
                        "exact_sec": exact_sec,
                    }
                )
                + "\n"
            )

            # ---- autotuned LSH point (round 12, autotune_lsh) ----
            from datalakejson_spark.functions.similarity import autotune_lsh

            a_planes, a_tables = autotune_lsh(n)
            t0 = time.time()
            ann = topk_sets(
                lsh_ann_topk_np(
                    emb, queries, k=K, n_planes=a_planes, n_tables=a_tables
                )
            )
            a_sec = round(time.time() - t0, 2)
            a_cand = lsh_ann_candidates(
                emb, queries, n_planes=a_planes, n_tables=a_tables
            ).count()
            fh.write(
                json.dumps(
                    {
                        "phase": "lsh_autotuned",
                        "n": n,
                        "n_planes": a_planes,
                        "n_tables": a_tables,
                        "sec": a_sec,
                        "recall_at_5": round(recall_at_k(ann, exact), 4),
                        "candidate_pairs": a_cand,
                        "scan_fraction": round(a_cand / (n * N_QUERIES), 5),
                    }
                )
                + "\n"
            )
            if "--lsh-auto-only" in sys.argv:
                continue

            # ---- IVF sweep: build once per nlist, probe at each nprobe ----
            auto_nlist, auto_nprobe = ivf_mod.autotune_ivf(n)
            for nlist in sorted({64, 256, auto_nlist}):
                t0 = time.time()
                cents = ivf_mod.train_quantizer(emb, k=nlist)
                assigned = ivf_mod.assign_cells_np(emb, cents).persist()
                cell_counts = {
                    r[0]: r[1]
                    for r in assigned.groupBy("cell").count().collect()
                }
                build_sec = round(time.time() - t0, 2)
                for nprobe in sorted({1, 4, max(4, nlist // 16), auto_nprobe}):
                    if nprobe > nlist:
                        continue
                    t0 = time.time()
                    ann = topk_sets(
                        ivf_mod.ivf_probe_topk(
                            assigned,
                            cents,
                            queries,
                            k=K,
                            nprobe=nprobe,
                            vectorized_score=True,
                        )
                    )
                    probe_sec = round(time.time() - t0, 2)
                    fh.write(
                        json.dumps(
                            {
                                "phase": "ivf",
                                "n": n,
                                "nlist": nlist,
                                "nprobe": nprobe,
                                "autotuned": (nlist, nprobe)
                                == (auto_nlist, auto_nprobe),
                                "build_sec": build_sec,
                                "probe_sec": probe_sec,
                                "recall_at_5": round(recall_at_k(ann, exact), 4),
                                "mean_cell_rows": round(
                                    sum(cell_counts.values()) / len(cell_counts)
                                ),
                                "scan_fraction_est": round(
                                    nprobe / nlist, 4
                                ),
                            }
                        )
                        + "\n"
                    )
                assigned.unpersist()

            # ---- LSH sweep ----
            for n_planes, n_tables in ((6, 4), (8, 4), (8, 8), (10, 8)):
                t0 = time.time()
                ann = topk_sets(
                    lsh_ann_topk_np(
                        emb, queries, k=K, n_planes=n_planes, n_tables=n_tables
                    )
                )
                sweep_sec = round(time.time() - t0, 2)
                n_cand = lsh_ann_candidates(
                    emb, queries, n_planes=n_planes, n_tables=n_tables
                ).count()
                fh.write(
                    json.dumps(
                        {
                            "phase": "lsh",
                            "n": n,
                            "n_planes": n_planes,
                            "n_tables": n_tables,
                            "sec": sweep_sec,
                            "recall_at_5": round(recall_at_k(ann, exact), 4),
                            "candidate_pairs": n_cand,
                            "scan_fraction": round(
                                n_cand / (n * N_QUERIES), 5
                            ),
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
