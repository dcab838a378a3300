"""Round-15 measurement: REAL process death mid-maintenance — a worker
JVM running the full ANN write workload is SIGKILLed at random moments
and restarted, repeatedly, while a prober watches from another process.

The crash windows are pinned in-process by the InjectedKill seams
(tests/test_ann_deletes.py kill windows, tests/test_kill_matrix.py), but
an injected exception still unwinds Python frames in an otherwise-alive
process. This tool is the real thing: SIGKILL lands anywhere — mid-stage
write, between _COMMITTED and the publish, inside the publish's move
loop, while HOLDING the PUBLISH slot (round 15 — the crashed holder must
be re-entered by the stage's own token on the next pass), mid-vacuum,
mid-tick — and the restarted worker replays its DETERMINISTIC workload
from the top: appends skip on their batch markers, deletes re-add the
same ids (idempotent), vacuums re-run, committed stages roll forward at
the next verb entry.

Protocol: the parent builds a 100k base index, then runs K kill cycles —
spawn the worker, sleep a deterministic pseudo-random 2-10 s, SIGKILL —
followed by one final run that must COMPLETE (exit 0). The worker's
workload: G append generations (batch_id="kb{g}"), a tick every 3rd, a
delete slice + trigger-gated vacuum every 4th. A prober in the parent
asserts full top-k throughout and that no id it has ever observed
tombstoned surfaces. Final audit after one closing tick: live rows ==
base + G*gen_n − deleted exactly-once through all the kills, 0
duplicates, 0 stranded committed stages.

Writes tools/multiproc_kill_soak_r15.jsonl. Run on a QUIET box:
python tools/multiproc_kill_soak_r15.py [base_n] [gens] [gen_n] [kills]
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 32
KD = 512
OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "multiproc_kill_soak_r15.jsonl"
)
_rng = np.random.RandomState(11)
CENTS = _rng.standard_normal((KD, DIM)) * 5.0


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

    return spark.range(start, start + n).mapInPandas(
        gen, "vec_id long, embedding array<double>"
    )


def _session(role: str):
    from datalakejson_spark.session import get_spark

    return get_spark(f"kill-soak-{role}", cpus=4, shuffle_partitions=8)


def run_worker(idx: str, log: str, gens: int, gen_n: int, del_n: int) -> None:
    """The deterministic workload a restart replays from the top. Every
    verb is exactly-once or idempotent by contract — that is the claim
    the kills test."""
    from datalakejson_spark.functions.ivf import (
        ivf_index_append,
        ivf_index_delete,
        ivf_maintenance_tick,
        ivf_needs_vacuum,
        vacuum_ivf_deletes,
    )

    spark = _session("worker")
    for g in range(gens):
        ivf_index_append(
            spark,
            synth(spark, gen_n, 1_000_000 + g * gen_n, seed=g + 1),
            idx,
            batch_id=f"kb{g}",
        )
        if g % 4 == 3:
            lo = (g // 4) * del_n
            ivf_index_delete(idx, range(lo, lo + del_n))
            if ivf_needs_vacuum(idx)[0]:
                vacuum_ivf_deletes(spark, idx)
        if g % 3 == 2:
            ivf_maintenance_tick(spark, idx)
        with open(log, "a") as fh:
            fh.write(json.dumps({"role": "worker", "gen_done": g}) + "\n")
    spark.stop()


def main() -> None:
    base_n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    gens = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    gen_n = int(sys.argv[3]) if len(sys.argv) > 3 else 5_000
    kills = int(sys.argv[4]) if len(sys.argv) > 4 else 6
    del_n = 2_000

    from datalakejson_spark.functions.index_maintenance import (
        load_tombstones,
        probe_retrying,
    )
    from datalakejson_spark.publish import is_missing_file_error
    from datalakejson_spark.functions.ivf import (
        build_ivf_index,
        ivf_index_topk,
        ivf_maintenance_tick,
    )

    root = tempfile.mkdtemp(prefix="kill_soak_")
    idx = os.path.join(root, "idx")
    wlog = os.path.join(root, "worker.jsonl")
    here = os.path.abspath(__file__)
    delays = np.random.RandomState(7).uniform(2.0, 10.0, kills)

    with open(OUT, "w") as fh:

        def emit(rec: dict) -> None:
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            print(json.dumps(rec))

        emit(
            {
                "phase": "meta",
                "base_n": base_n,
                "gens": gens,
                "gen_n": gen_n,
                "kills": kills,
                "del_n": del_n,
            }
        )
        spark = _session("parent")
        t0 = time.time()
        meta = build_ivf_index(synth(spark, base_n, 0), idx)
        emit(
            {
                "phase": "build",
                "n_cells": meta["n_cells"],
                "build_s": round(time.time() - t0, 2),
            }
        )

        queries = synth(spark, 8, 50_000_000, seed=99).localCheckpoint(
            eager=True
        )
        observed_tombstoned: set[int] = set()
        probe_errors: list[str] = []
        probes = [0]
        exhausted = [0]
        stop = threading.Event()

        def prober() -> None:
            while not stop.is_set():
                frozen = set(observed_tombstoned)
                try:
                    rows = probe_retrying(
                        lambda: ivf_index_topk(spark, queries, idx)
                    )
                except Exception as exc:  # noqa: BLE001 — audit below
                    if is_missing_file_error(exc):
                        exhausted[0] += 1
                        continue
                    probe_errors.append(f"{type(exc).__name__}: {exc}")
                    return
                per_query: dict[int, set[int]] = {}
                for r in rows:
                    if r.neighbor_id in frozen:
                        probe_errors.append(
                            f"tombstoned id {r.neighbor_id} surfaced"
                        )
                        return
                    per_query.setdefault(r.query_id, set()).add(r.neighbor_id)
                if not all(len(v) == 5 for v in per_query.values()):
                    probe_errors.append("short top-k")
                    return
                probes[0] += 1
                observed_tombstoned.update(load_tombstones(idx)[0])

        th = threading.Thread(target=prober, daemon=True)
        th.start()

        def spawn():
            return subprocess.Popen(
                [sys.executable, here, "worker", idx, wlog, str(gens),
                 str(gen_n), str(del_n)],
            )

        def lines() -> int:
            return sum(1 for _ in open(wlog)) if os.path.exists(wlog) else 0

        for k in range(kills):
            at_spawn = lines()
            p = spawn()
            # kill only once the worker is demonstrably MID-WORKLOAD: wait
            # for one gen to complete since this spawn (past JVM startup),
            # then land the SIGKILL a random beat into the NEXT verb
            deadline = time.time() + 300
            while (
                lines() <= at_spawn
                and p.poll() is None
                and time.time() < deadline
            ):
                time.sleep(0.25)
            kill_delay = float(delays[k]) * 0.4  # 0.8-4 s into the next verb
            if p.poll() is None:
                time.sleep(kill_delay)
                p.send_signal(signal.SIGKILL)
            p.wait(timeout=120)
            emit(
                {
                    "phase": "kill",
                    "cycle": k,
                    "after_gen_s": round(kill_delay, 2),
                    "worker_gens_logged": lines() - at_spawn,
                    "probes_so_far": probes[0],
                    "probe_errors": probe_errors,
                }
            )
            assert not probe_errors, probe_errors

        t0 = time.time()
        p = spawn()
        rc = p.wait(timeout=1800)
        emit(
            {
                "phase": "final_run",
                "exit_code": rc,
                "final_run_s": round(time.time() - t0, 2),
            }
        )
        assert rc == 0
        stop.set()
        th.join(timeout=600)
        assert not probe_errors, probe_errors

        # closing tick rolls forward anything the last kill left committed
        tick = ivf_maintenance_tick(spark, idx)

        import pyspark.sql.functions as F

        deleted_total = (gens // 4) * del_n  # deterministic schedule
        cells = spark.read.parquet(os.path.join(idx, "cells"))
        still_ids, names = load_tombstones(idx)
        live_df = cells
        if still_ids:
            live_df = cells.filter(
                ~F.col("vec_id").isin([int(i) for i in still_ids])
            )
        live_rows = live_df.count()
        dup = live_df.groupBy("vec_id").count().filter("count > 1").count()
        staging = os.path.join(idx, "_staging")
        stranded = [
            t
            for t in (os.listdir(staging) if os.path.isdir(staging) else [])
            if os.path.exists(os.path.join(staging, t, "_COMMITTED"))
        ]
        emit(
            {
                "phase": "audit",
                "live_rows": live_rows,
                "expected_live": base_n + gens * gen_n - deleted_total,
                "physical_rows": cells.count(),
                "still_tombstoned": len(still_ids),
                "tombstone_files": len(names),
                "duplicates": dup,
                "stranded_committed_stages": stranded,
                "probes_total": probes[0],
                "probe_retry_exhaustions": exhausted[0],
                "closing_tick_actions": [
                    a.get("verb") for a in tick.get("actions", [])
                ],
            }
        )
        assert dup == 0 and live_rows == base_n + gens * gen_n - deleted_total
        assert not stranded
        spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        run_worker(
            sys.argv[2], sys.argv[3], int(sys.argv[4]), int(sys.argv[5]),
            int(sys.argv[6]),
        )
    else:
        main()
