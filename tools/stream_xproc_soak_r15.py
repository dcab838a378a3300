"""Round-15 measurement: the dual-stream ANN lifecycle with each stream in
its OWN Spark application — the true multi-JOB deployment shape — on
EITHER plane (IVF or LSH).

tools/stream_lifecycle_soak_r15.py runs the append stream and the delete
stream concurrently inside one JVM; this tool moves each drain into a
separate `python` child process (own SparkSession, own checkpoint), so
the exactly-once markers, the per-plane stream-identity sidecars, the
in-stream ticks, and the tombstone-retirement fences are exercised
across REAL process boundaries — and because the children are respawned
every round on the same checkpoints, every round is also a restart of
both streams.

Per round (8 rounds at the 10^6 decade):

- the parent writes two 10k append files and (rounds 2+) one 5k
  tombstone file;
- child A (`streaming_ann_ingest`/`streaming_lsh_ingest`, tick_every=2)
  and child B (`streaming_index_deletes(vacuum=<plane>)`) spawn TOGETHER
  and drain concurrently — appends race tombstone writes, the tick
  plane's maintenance races the delete plane's vacuum, across JVMs;
- the parent probes DURING the race from its own session and asserts no
  id it has ever observed tombstoned surfaces (tombstoning is monotonic
  here: observed-once means deleted forever, vacuumed or not);
- both children must exit 0 every round.

Closing audit — IVF: live rows == base + appended − deleted exactly-once
through all the racing and restarts, 0 duplicates; LSH: every live
vector in exactly n_tables partitions, none twice in any; both: 0
stranded committed stages. Writes tools/stream_xproc_soak_r15.jsonl
(IVF) or tools/stream_xproc_soak_lsh_r15.jsonl (LSH). Run on a QUIET
box: python tools/stream_xproc_soak_r15.py [ivf|lsh] [base_n] [gen_n]
[rounds]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 32
KD = 512
_rng = np.random.RandomState(11)
CENTS = _rng.standard_normal((KD, DIM)) * 5.0

_SCHEMA_DDL = "vec_id long, embedding array<double>"


def _out_path(plane: str) -> str:
    name = (
        "stream_xproc_soak_r15.jsonl"
        if plane == "ivf"
        else "stream_xproc_soak_lsh_r15.jsonl"
    )
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), name)


def synth(spark, n: int, start: int, seed: int = 0):
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

    return spark.range(start, start + n).mapInPandas(gen, _SCHEMA_DDL)


def _session(role: str):
    from datalakejson_spark.session import get_spark

    return get_spark(f"stream-xproc-{role}", cpus=4, shuffle_partitions=16)


def _schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )


def run_append_drain(
    plane: str, landing: str, idx: str, ckpt: str, cap: str
) -> None:
    spark = _session("appends")
    common = dict(
        landing_dir=landing,
        index_dir=idx,
        checkpoint_dir=ckpt,
        schema=_schema(),
        max_files_per_trigger=int(cap) or None,
        tick_every=2,
    )
    if plane == "ivf":
        from datalakejson_spark.streaming.ann_stream import streaming_ann_ingest

        q = streaming_ann_ingest(spark, compact_max_runs_per_cell=8, **common)
    else:
        from datalakejson_spark.streaming.ann_stream import streaming_lsh_ingest

        q = streaming_lsh_ingest(spark, compact_max_runs_per_bucket=8, **common)
    q.awaitTermination()
    spark.stop()


def run_delete_drain(plane: str, landing: str, idx: str, ckpt: str) -> None:
    from datalakejson_spark.streaming.ann_stream import streaming_index_deletes

    spark = _session("deletes")
    streaming_index_deletes(
        spark,
        landing_dir=landing,
        index_dir=idx,
        checkpoint_dir=ckpt,
        vacuum=plane,
        vacuum_every=1,
    ).awaitTermination()
    spark.stop()


def write_gen_file(landing: str, name: str, n: int, start: int, seed: int):
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


def main() -> None:
    args = list(sys.argv[1:])
    plane = args.pop(0) if args and args[0] in ("ivf", "lsh") else "ivf"
    base_n = int(args[0]) if len(args) > 0 else 1_000_000
    gen_n = int(args[1]) if len(args) > 1 else 10_000
    rounds = int(args[2]) if len(args) > 2 else 8
    # delete ranges must stay inside the base corpus (rounds 2+ delete
    # [(r-2)*del_n, (r-1)*del_n)) or the conservation audit is meaningless
    del_n = min(5_000, base_n // max(1, rounds))
    subdir = "cells" if plane == "ivf" else "buckets"

    from datalakejson_spark.functions.index_maintenance import (
        load_tombstones,
        probe_retrying,
    )
    from datalakejson_spark.publish import is_missing_file_error

    if plane == "ivf":
        from datalakejson_spark.functions.ivf import ivf_index_topk as topk_fn
    else:
        from datalakejson_spark.functions.lsh_index import (
            lsh_index_topk as topk_fn,
        )

    root = tempfile.mkdtemp(prefix=f"stream_xproc_{plane}_")
    idx = os.path.join(root, "idx")
    landing_a = os.path.join(root, "landing_appends")
    landing_d = os.path.join(root, "landing_deletes")
    ckpt_a = os.path.join(root, "ckpt_appends")
    ckpt_d = os.path.join(root, "ckpt_deletes")
    os.makedirs(landing_d, exist_ok=True)
    here = os.path.abspath(__file__)

    def spawn(role, *args):
        return subprocess.Popen(
            [sys.executable, here, role, plane, *map(str, args)]
        )

    with open(_out_path(plane), "w") as fh:

        def emit(rec: dict) -> None:
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            print(json.dumps(rec))

        emit(
            {
                "phase": "meta",
                "plane": plane,
                "base_n": base_n,
                "gen_n": gen_n,
                "rounds": rounds,
                "del_n": del_n,
                "dim": DIM,
            }
        )
        spark = _session("parent")
        t0 = time.time()
        synth(spark, base_n, 0).repartition(4).write.mode("overwrite").json(
            landing_a
        )
        write_s = time.time() - t0
        # bootstrap drain in its own JVM (single batch: no file cap)
        t0 = time.time()
        boot = spawn("append-drain", landing_a, idx, ckpt_a, 0)
        rc = boot.wait(timeout=1800)
        assert rc == 0, f"bootstrap drain exit {rc}"
        emit(
            {
                "phase": "bootstrap",
                "landing_write_s": round(write_s, 2),
                "drain_s": round(time.time() - t0, 2),
            }
        )

        queries = synth(spark, 8, 50_000_000, seed=99).localCheckpoint(
            eager=True
        )
        appended_total = base_n
        deleted: set[int] = set()
        observed_tombstoned: set[int] = set()  # monotonic: once seen, forever
        probe_errors: list[str] = []
        probes_done = [0]
        exhausted = [0]

        def prober(stop: threading.Event) -> None:
            while not stop.is_set():
                frozen = set(observed_tombstoned)
                try:
                    rows = probe_retrying(
                        lambda: topk_fn(spark, queries, idx)
                    )
                except Exception as exc:  # noqa: BLE001 — audit below
                    if is_missing_file_error(exc):
                        exhausted[0] += 1
                        continue
                    probe_errors.append(f"{type(exc).__name__}: {exc}")
                    return
                for r in rows:
                    if r.neighbor_id in frozen:
                        probe_errors.append(
                            f"tombstoned id {r.neighbor_id} surfaced"
                        )
                        return
                probes_done[0] += 1
                observed_tombstoned.update(load_tombstones(idx)[0])

        for rnd in range(rounds):
            for g in range(2):
                gen = rnd * 2 + g
                write_gen_file(
                    landing_a,
                    f"gen{gen:03d}.json",
                    gen_n,
                    1_000_000 + gen * gen_n,
                    seed=gen + 1,
                )
                appended_total += gen_n
            round_deletes: set[int] = set()
            if rnd >= 2:
                lo = (rnd - 2) * del_n
                round_deletes = set(range(lo, lo + del_n)) - deleted
                write_delete_file(landing_d, f"del{rnd:03d}.json", round_deletes)

            stop = threading.Event()
            th = threading.Thread(target=prober, args=(stop,), daemon=True)
            th.start()
            t0 = time.time()
            pa = spawn("append-drain", landing_a, idx, ckpt_a, 1)
            pd_ = spawn("delete-drain", landing_d, idx, ckpt_d)
            rca, rcd = pa.wait(timeout=1800), pd_.wait(timeout=1800)
            round_s = time.time() - t0
            stop.set()
            th.join(timeout=600)
            deleted |= round_deletes
            observed_tombstoned.update(load_tombstones(idx)[0])

            still, names = load_tombstones(idx)
            emit(
                {
                    "phase": "round",
                    "round": rnd,
                    "round_s": round(round_s, 2),
                    "exit_codes": [rca, rcd],
                    "deleted_total": len(deleted),
                    "still_tombstoned": len(still),
                    "tombstone_files": len(names),
                    "in_round_probes": probes_done[0],
                    "probe_retry_exhaustions": exhausted[0],
                    "probe_errors": probe_errors,
                }
            )
            assert rca == 0 and rcd == 0 and not probe_errors
            probes_done[0] = 0

        # audit: conservation across 9 spawns of each stream JVM.
        # IVF: one copy per live vector. LSH: exactly n_tables copies of
        # every live vector, none twice in any tb partition.
        import pyspark.sql.functions as F

        data = spark.read.parquet(os.path.join(idx, subdir))
        still_ids, _ = load_tombstones(idx)
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
        audit = {
            "phase": "audit",
            "expected_live": expected_live,
            "physical_rows": data.count(),
            "still_tombstoned": len(still_ids),
            "stranded_committed_stages": stranded,
        }
        if plane == "ivf":
            live_rows = live_df.count()
            dup = live_df.groupBy("vec_id").count().filter("count > 1").count()
            audit |= {"live_rows": live_rows, "duplicates": dup}
            emit(audit)
            assert dup == 0 and live_rows == expected_live
        else:
            from datalakejson_spark.functions.lsh_index import load_lsh_meta

            n_tables = load_lsh_meta(idx)["n_tables"]
            per_vec = live_df.groupBy("vec_id").count()
            wrong_copies = per_vec.filter(F.col("count") != n_tables).count()
            distinct_live = per_vec.count()
            dup_in_table = (
                live_df.groupBy("vec_id", "tb")
                .count()
                .filter("count > 1")
                .count()
            )
            audit |= {
                "n_tables": n_tables,
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
        spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "append-drain":
        run_append_drain(
            sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5], sys.argv[6]
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "delete-drain":
        run_delete_drain(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])
    else:
        main()
