"""Round-15 measurement: the STREAMED ANN lifecycle soak — one persisted
index driven CONCURRENTLY by its append stream and its delete stream at
the 10^6-vector decade, on EITHER plane (IVF or LSH).

The r15 batch soaks (tools/ann_soak_1e6_deletes_r15.py,
tools/lsh_soak_1e6_r15.py) raced the delete lifecycle's BATCH verbs
against a compactor thread; the streaming path — `streaming_ann_ingest(
tick_every=...)` / `streaming_lsh_ingest(tick_every=...)` and
`streaming_index_deletes(vacuum=...)` driving the SAME index at the same
time, each under its own stream-identity exactly-once sidecar — was
test-pinned (tests/test_ann_delete_stream.py, tests/test_stream_ticks.py)
but never soaked. This tool closes that gap:

- bootstrap: 10^6 clustered vectors drained as the append stream's
  bootstrap batch (quantizer/planes trained in-stream, classic cold
  start);
- per round (8 rounds): two 10k append files land and drain with
  `tick_every=2` (one in-stream maintenance tick per round: roll-forward
  + measured-trigger vacuum + tiered fold + capped splits on IVF), while
  a 5k tombstone file (rounds 2+) drains through the delete stream with
  `vacuum="ivf"|"lsh"` — BOTH streams run at once, so the tick plane's
  vacuum can race the delete plane's vacuum, appends race tombstone
  writes, and the tombstone fold races both;
- a prober thread probes DURING every round and asserts no id deleted in
  a PREVIOUS round ever surfaces (logical-immediate across racing
  publishes, via the probe's file-pinned retry);
- the measured 1% relative vacuum trigger crosses mid-soak (cumulative
  deletes pass ~11k of a ~1.1M corpus), so at least one vacuum fires
  BEHIND its trigger in-stream;
- closing: a no-new-data re-drain of both streams is a strict no-op
  (restart evidence), then the audit — IVF: live rows == appended −
  deleted exactly-once through all the racing, 0 duplicates; LSH: every
  live vector in exactly n_tables partitions, 0 within-table duplicates;
  both: 0 stranded committed stages, tombstone files bounded,
  index_report coherent.

Writes tools/stream_lifecycle_soak_r15.jsonl (IVF) or
tools/stream_lifecycle_soak_lsh_r15.jsonl (LSH). Run on a QUIET box:
python tools/stream_lifecycle_soak_r15.py [ivf|lsh] [base_n] [gen_n] [rounds]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

from datalakejson_spark.functions.index_maintenance import (  # noqa: E402
    index_report,
    live_partition_files,
    load_tombstones,
    probe_retrying,
)
from datalakejson_spark.session import get_spark  # noqa: E402
from datalakejson_spark.streaming.ann_stream import (  # noqa: E402
    streaming_ann_ingest,
    streaming_index_deletes,
    streaming_lsh_ingest,
)

_args = [a for a in sys.argv[1:]]
PLANE = _args.pop(0) if _args and _args[0] in ("ivf", "lsh") else "ivf"
BASE_N = int(_args[0]) if len(_args) > 0 else 1_000_000
GEN_N = int(_args[1]) if len(_args) > 1 else 10_000
ROUNDS = int(_args[2]) if len(_args) > 2 else 8
GENS_PER_ROUND = 2
DEL_N = 5_000  # per delete file (rounds 2+)
DIM = 32
KD = 512

OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "stream_lifecycle_soak_r15.jsonl"
    if PLANE == "ivf"
    else "stream_lifecycle_soak_lsh_r15.jsonl",
)
SUBDIR = "cells" if PLANE == "ivf" else "buckets"

_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

_rng = np.random.RandomState(11)
CENTS = _rng.standard_normal((KD, DIM)) * 5.0


def synth(spark, n: int, start: int, seed: int = 0):
    """Distributed synthetic vectors (same clustered geometry as the batch
    soaks — the 1e6-row bootstrap never materializes on the driver)."""
    import pandas as pd

    cents = CENTS

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.RandomState((seed + int(ids[0])) % 2**31)
            lab = ids % KD
            x = cents[lab] + rng.standard_normal((len(ids), DIM)) * 0.2
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [list(map(float, r)) for r in x]}
            )

    return spark.range(start, start + n).mapInPandas(
        gen, "vec_id long, embedding array<double>"
    )


def write_gen_file(landing: str, name: str, n: int, start: int, seed: int):
    """One landing JSON-lines file of clustered vectors (driver-side: the
    per-round files are 10k rows; only the bootstrap is Spark-written)."""
    ids = np.arange(start, start + n)
    rng = np.random.RandomState((seed + start) % 2**31)
    x = CENTS[ids % KD] + rng.standard_normal((n, DIM)) * 0.2
    tmp = os.path.join(landing, f".{name}.tmp")
    with open(tmp, "w") as fh:
        for i in range(n):
            fh.write(
                json.dumps(
                    {"vec_id": int(ids[i]), "embedding": [float(v) for v in x[i]]}
                )
                + "\n"
            )
    os.rename(tmp, os.path.join(landing, name))


def write_delete_file(landing: str, name: str, ids) -> None:
    os.makedirs(landing, exist_ok=True)
    tmp = os.path.join(landing, f".{name}.tmp")
    with open(tmp, "w") as fh:
        for i in sorted(ids):
            fh.write(json.dumps({"vec_id": int(i)}) + "\n")
    os.rename(tmp, os.path.join(landing, name))


def max_files_per_partition(idx: str) -> int:
    live = live_partition_files(idx, SUBDIR)
    return max((len(f) for f in live.values()), default=0)


def tick_actions(idx: str) -> list[str]:
    path = os.path.join(idx, "_TICKS.jsonl")
    verbs: list[str] = []
    if os.path.exists(path):
        for line in open(path):
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            verbs.extend(a.get("verb", "?") for a in rec.get("actions", []))
    return verbs


def topk(spark, queries, idx):
    if PLANE == "ivf":
        from datalakejson_spark.functions.ivf import ivf_index_topk

        return ivf_index_topk(spark, queries, idx)
    from datalakejson_spark.functions.lsh_index import lsh_index_topk

    return lsh_index_topk(spark, queries, idx)


def main() -> None:
    spark = get_spark(
        f"stream-lifecycle-soak-{PLANE}-r15", cpus=8, shuffle_partitions=32
    )
    root = tempfile.mkdtemp(prefix=f"stream_soak_{PLANE}_")
    idx = os.path.join(root, "idx")
    landing_a = os.path.join(root, "landing_appends")
    landing_d = os.path.join(root, "landing_deletes")
    ckpt_a = os.path.join(root, "ckpt_appends")
    ckpt_d = os.path.join(root, "ckpt_deletes")
    os.makedirs(landing_d, exist_ok=True)

    if PLANE == "ivf":
        ingest = streaming_ann_ingest
        append_args = dict(
            landing_dir=landing_a,
            index_dir=idx,
            checkpoint_dir=ckpt_a,
            schema=_SCHEMA,
            tick_every=2,
            compact_max_runs_per_cell=8,
        )
    else:
        ingest = streaming_lsh_ingest
        append_args = dict(
            landing_dir=landing_a,
            index_dir=idx,
            checkpoint_dir=ckpt_a,
            schema=_SCHEMA,
            tick_every=2,
            compact_max_runs_per_bucket=8,
        )
    delete_args = dict(
        landing_dir=landing_d,
        index_dir=idx,
        checkpoint_dir=ckpt_d,
        vacuum=PLANE,
        vacuum_every=1,
    )

    with open(OUT, "w") as fh:

        def emit(rec: dict) -> None:
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            print(json.dumps(rec))

        emit(
            {
                "phase": "meta",
                "plane": PLANE,
                "base_n": BASE_N,
                "gen_n": GEN_N,
                "rounds": ROUNDS,
                "gens_per_round": GENS_PER_ROUND,
                "del_n": DEL_N,
                "dim": DIM,
            }
        )

        # bootstrap: the append stream's first batch IS the build
        t0 = time.time()
        synth(spark, BASE_N, 0).repartition(4).write.mode("overwrite").json(
            landing_a
        )
        write_s = time.time() - t0
        t0 = time.time()
        ingest(spark, **append_args).awaitTermination()
        if PLANE == "ivf":
            from datalakejson_spark.functions.ivf import load_ivf_meta

            meta = load_ivf_meta(idx)
            fam = {"n_cells": meta["n_cells"]}
        else:
            from datalakejson_spark.functions.lsh_index import load_lsh_meta

            meta = load_lsh_meta(idx)
            fam = {"n_planes": meta["n_planes"], "n_tables": meta["n_tables"]}
        emit(
            {
                "phase": "bootstrap",
                **fam,
                "bootstrap_batch": meta.get("bootstrap_batch"),
                "landing_write_s": round(write_s, 2),
                "drain_s": round(time.time() - t0, 2),
            }
        )

        queries = synth(spark, 8, 50_000_000, seed=99).localCheckpoint(eager=True)
        appended_total = BASE_N
        deleted: set[int] = set()
        confirmed_deleted: set[int] = set()  # visible-by-contract (round done)
        probe_errors: list[str] = []
        probe_exhausted = [0]  # bounded-retry exhaustion: liveness, not
        # correctness — the retry contract is "exact or clean retryable
        # error"; under peak churn the CALLER retries, which this does
        in_round_probes = [0]

        def prober(stop: threading.Event) -> None:
            """Probe WHILE both streams race: an id whose delete round
            completed must never surface, no matter which publishes land
            mid-probe (file-pinned retry handles racing layouts)."""
            from datalakejson_spark.publish import is_missing_file_error

            frozen = set(confirmed_deleted)
            while not stop.is_set():
                try:
                    rows = probe_retrying(lambda: topk(spark, queries, idx))
                    for r in rows:
                        assert r.neighbor_id not in frozen, (
                            f"confirmed-deleted id {r.neighbor_id} surfaced "
                            "mid-race"
                        )
                    in_round_probes[0] += 1
                except BaseException as exc:  # noqa: BLE001 — the audit line
                    if is_missing_file_error(exc):
                        probe_exhausted[0] += 1
                        continue
                    probe_errors.append(f"{type(exc).__name__}: {exc}")
                    return

        for rnd in range(ROUNDS):
            for g in range(GENS_PER_ROUND):
                gen = rnd * GENS_PER_ROUND + g
                write_gen_file(
                    landing_a,
                    f"gen{gen:03d}.json",
                    GEN_N,
                    1_000_000 + gen * GEN_N,
                    seed=gen + 1,
                )
                appended_total += GEN_N
            round_deletes: set[int] = set()
            if rnd >= 2:
                lo = (rnd - 2) * DEL_N
                round_deletes = set(range(lo, lo + DEL_N)) - deleted
                write_delete_file(
                    landing_d, f"del{rnd:03d}.json", round_deletes
                )

            stop = threading.Event()
            th = threading.Thread(target=prober, args=(stop,), daemon=True)
            th.start()
            t0 = time.time()
            qa = ingest(spark, max_files_per_trigger=1, **append_args)
            qd = streaming_index_deletes(spark, **delete_args)
            qa.awaitTermination()
            qd.awaitTermination()
            round_s = time.time() - t0
            stop.set()
            th.join(timeout=600)
            deleted |= round_deletes
            confirmed_deleted |= round_deletes

            # post-round probe on the settled index: full top-k, no
            # deleted id (logical-immediate even if no vacuum ran yet)
            t0 = time.time()
            rows = probe_retrying(lambda: topk(spark, queries, idx))
            probe_s = time.time() - t0
            per_query: dict[int, set[int]] = {}
            for r in rows:
                assert r.neighbor_id not in deleted, (
                    f"deleted id {r.neighbor_id} surfaced post-round"
                )
                per_query.setdefault(r.query_id, set()).add(r.neighbor_id)
            assert all(len(v) == 5 for v in per_query.values()), per_query

            still, names = load_tombstones(idx)
            verbs = tick_actions(idx)
            emit(
                {
                    "phase": "round",
                    "round": rnd,
                    "round_s": round(round_s, 2),
                    "deleted_this_round": len(round_deletes),
                    "deleted_total": len(deleted),
                    "still_tombstoned": len(still),
                    "tombstone_files": len(names),
                    "in_round_probes": in_round_probes[0],
                    "probe_retry_exhaustions": probe_exhausted[0],
                    "post_probe_s": round(probe_s, 2),
                    "max_files_per_partition": max_files_per_partition(idx),
                    "tick_vacuums": verbs.count("vacuum"),
                    "tick_folds": verbs.count("fold"),
                    "tick_splits": verbs.count("split"),
                    "probe_errors": probe_errors,
                }
            )
            assert not probe_errors, probe_errors
            in_round_probes[0] = 0

        # restart evidence: a no-new-data drain of BOTH streams is a
        # strict no-op (source markers + exactly-once batch markers)
        before = spark.read.parquet(os.path.join(idx, SUBDIR)).count()
        t0 = time.time()
        qa = ingest(spark, max_files_per_trigger=1, **append_args)
        qd = streaming_index_deletes(spark, **delete_args)
        qa.awaitTermination()
        qd.awaitTermination()
        after = spark.read.parquet(os.path.join(idx, SUBDIR)).count()
        emit(
            {
                "phase": "noop_redrain",
                "physical_before": before,
                "physical_after": after,
                "redrain_s": round(time.time() - t0, 2),
            }
        )
        assert before == after

        # final audit: conservation through two racing streams.
        # IVF: one copy per vector. LSH: the exactly-once shape is PER
        # TABLE — every live vector in exactly n_tables partitions, none
        # twice in any (the lsh batch soak's audit, streamed).
        import pyspark.sql.functions as F

        data = spark.read.parquet(os.path.join(idx, SUBDIR))
        still_ids, names = load_tombstones(idx)
        live_df = data
        if still_ids:
            live_df = data.filter(
                ~F.col("vec_id").isin([int(i) for i in still_ids])
            )
        expected_live = appended_total - len(deleted)
        staging = os.path.join(idx, "_staging")
        stranded = [
            t
            for t in (os.listdir(staging) if os.path.isdir(staging) else [])
            if os.path.exists(os.path.join(staging, t, "_COMMITTED"))
        ]
        report = index_report(idx)
        verbs = tick_actions(idx)
        audit = {
            "phase": "audit",
            "expected_live": expected_live,
            "physical_rows": data.count(),
            "still_tombstoned": len(still_ids),
            "tombstone_files": len(names),
            "appended_total": appended_total,
            "deleted_total": len(deleted),
            "stranded_committed_stages": stranded,
            "tick_vacuums": verbs.count("vacuum"),
            "tick_folds": verbs.count("fold"),
            "tick_splits": verbs.count("split"),
            "max_files_per_partition": max_files_per_partition(idx),
            "report_n_vectors": report.get("n_vectors"),
            "report_owning_streams": report.get("streams"),
        }
        if PLANE == "ivf":
            live_rows = live_df.count()
            dup = (
                live_df.groupBy("vec_id").count().filter("count > 1").count()
            )
            audit |= {"live_rows": live_rows, "duplicates": dup}
            emit(audit)
            assert dup == 0 and live_rows == expected_live
        else:
            n_tables = fam["n_tables"]
            per_vec = live_df.groupBy("vec_id").count()
            wrong_copies = per_vec.filter(
                F.col("count") != n_tables
            ).count()
            distinct_live = per_vec.count()
            dup_in_table = (
                live_df.groupBy("vec_id", "tb")
                .count()
                .filter("count > 1")
                .count()
            )
            audit |= {
                "distinct_live": distinct_live,
                "wrong_copy_count_vectors": wrong_copies,
                "dup_within_table": dup_in_table,
            }
            emit(audit)
            assert (
                dup_in_table == 0
                and wrong_copies == 0
                and distinct_live == expected_live
            )
        assert not stranded
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
