"""Round-15 measurement: CROSS-PROCESS racing publishers on one shared
persisted ANN index (IVF or LSH) — three independent Spark JVMs, no
shared memory.

Every prior concurrency artifact (the 1e6 soaks, the dual-stream soak,
the two-runner fold tests) races THREADS inside one driver JVM. The
maintenance plane's coordination is deliberately process-agnostic —
atomic os.mkdir slot claims, token fencing, staged publishes behind
atomic renames, the serialized flip mutex — so a multi-JOB deployment
(a streaming appender, an ops cron running ticks/vacuums, ad-hoc probe
jobs) is a first-class shape. This tool is the first artifact that
actually runs that shape: three separate `python` processes, each with
its OWN SparkSession, sharing nothing but the index directory:

- **appender** (local[3]): N append generations of clustered vectors,
  running `ivf_maintenance_tick` every 3rd generation (roll-forward,
  measured-trigger vacuum, tiered fold, capped splits);
- **deleter** (local[3]): M delete events over reserved base-corpus
  slices, vacuuming ONLY behind `ivf_needs_vacuum`'s measured trigger,
  plus one mid-run `ivf_index_upsert` of a never-deleted base slice
  (net-zero on conservation; exercises the upsert's vacuum-retry against
  the OTHER process's racing publishes). After each delete verb returns
  it atomically publishes the cumulative confirmed set to
  `confirmed_deletes.json`;
- **prober** (local[3]): probes in a loop until the writers exit; before
  each probe it reads the confirmed set — any id confirmed BEFORE the
  probe started must never surface (write happened-before read, read
  happened-before probe), no matter which process's publish lands
  mid-probe (`probe_retrying` re-plans on pinned-file races).

The parent builds the 300k base corpus, spawns the three roles, merges
their jsonl logs, and audits with a fresh session: live rows ==
base + appended − deleted exactly, 0 duplicates, 0 stranded committed
stages, every child exit code 0.

Writes tools/multiproc_ann_race_r15.jsonl (IVF) or
tools/multiproc_ann_race_lsh_r15.jsonl (LSH). Run on a QUIET box:
python tools/multiproc_ann_race.py [ivf|lsh] [base_n] [gens] [gen_n] [events] [del_n]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 32
KD = 512
_argv = [a for a in sys.argv[1:]]
ROLES = ("appender", "deleter", "prober")
# plane selector may appear before the role (children) or the numbers
PLANE = "ivf"
for i, a in enumerate(_argv):
    if a in ("ivf", "lsh"):
        PLANE = a
        _argv.pop(i)
        break
SUBDIR = "cells" if PLANE == "ivf" else "buckets"
OUT = os.environ.get(
    "MULTIPROC_RACE_OUT",
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "multiproc_ann_race_r15.jsonl"
        if PLANE == "ivf"
        else "multiproc_ann_race_lsh_r15.jsonl",
    ),
)


def verbs():
    """The plane's verb set (import-light: children import only theirs)."""
    if PLANE == "ivf":
        from datalakejson_spark.functions import ivf as m

        return dict(
            build=m.build_ivf_index,
            append=m.ivf_index_append,
            tick=m.ivf_maintenance_tick,
            delete=m.ivf_index_delete,
            needs_vacuum=m.ivf_needs_vacuum,
            vacuum=m.vacuum_ivf_deletes,
            upsert=m.ivf_index_upsert,
            topk=m.ivf_index_topk,
        )
    from datalakejson_spark.functions import lsh_index as m

    return dict(
        build=m.build_lsh_index,
        append=m.lsh_index_append,
        tick=lambda spark, idx: m.lsh_maintenance_tick(
            spark, idx, retune_check=False
        ),
        delete=m.lsh_index_delete,
        needs_vacuum=m.lsh_needs_vacuum,
        vacuum=m.vacuum_lsh_deletes,
        upsert=m.lsh_index_upsert,
        topk=m.lsh_index_topk,
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

    return get_spark(f"multiproc-race-{role}", cpus=3, shuffle_partitions=8)


def _log_line(path: str, rec: dict) -> None:
    with open(path, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def _publish_confirmed(path: str, ids) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"ids": sorted(int(i) for i in ids)}, fh)
    os.replace(tmp, path)


def run_appender(idx: str, log: str, gens: int, gen_n: int) -> None:
    v = verbs()
    spark = _session("appender")
    for g in range(gens):
        t0 = time.time()
        v["append"](
            spark,
            synth(spark, gen_n, 1_000_000 + g * gen_n, seed=g + 1),
            idx,
            batch_id=f"proc-a{g}",
        )
        rec = {"role": "appender", "gen": g, "append_s": round(time.time() - t0, 2)}
        if g % 3 == 2:
            t0 = time.time()
            rep = v["tick"](spark, idx)
            rec["tick_actions"] = [a.get("verb") for a in rep.get("actions", [])]
            rec["tick_s"] = round(time.time() - t0, 2)
        _log_line(log, rec)
    spark.stop()


def run_deleter(
    idx: str, log: str, events: int, del_n: int, confirmed_path: str
) -> None:
    v = verbs()
    ivf_index_delete = v["delete"]
    ivf_index_upsert = v["upsert"]
    ivf_needs_vacuum = v["needs_vacuum"]
    vacuum_ivf_deletes = v["vacuum"]
    spark = _session("deleter")
    confirmed: set[int] = set()
    for e in range(events):
        lo = e * del_n  # reserved base slices; the upsert range sits above
        batch = set(range(lo, lo + del_n))
        t0 = time.time()
        ivf_index_delete(idx, batch)
        confirmed |= batch
        _publish_confirmed(confirmed_path, confirmed)
        rec = {
            "role": "deleter",
            "event": e,
            "ids": len(batch),
            "delete_s": round(time.time() - t0, 3),
        }
        fired, stats = ivf_needs_vacuum(idx)
        if fired:
            t0 = time.time()
            rep = vacuum_ivf_deletes(spark, idx)
            rec["vacuum"] = {
                "vectors_removed": rep["vectors_removed"],
                "partitions_rewritten": rep["partitions_rewritten"],
                "vacuum_s": round(time.time() - t0, 2),
                "trigger_fraction": stats["fraction"],
            }
        if e == events // 2:
            # upsert a base slice ABOVE every delete range (but inside
            # the base corpus — replace-in-place, net-zero on
            # conservation); its internal vacuum retries must win
            # against the appender's racing ticks/publishes
            up_lo = events * del_n + 1_000
            t0 = time.time()
            n_up = ivf_index_upsert(
                spark, synth(spark, 500, up_lo, seed=9_999), idx
            )
            rec["upsert"] = {"rows": n_up, "upsert_s": round(time.time() - t0, 2)}
        _log_line(log, rec)
        time.sleep(0.5)  # let the appender interleave between events
    spark.stop()


def run_prober(idx: str, log: str, confirmed_path: str, stop_path: str) -> None:
    from datalakejson_spark.functions.index_maintenance import probe_retrying

    ivf_index_topk = verbs()["topk"]
    spark = _session("prober")
    queries = synth(spark, 8, 50_000_000, seed=99).localCheckpoint(eager=True)
    probes = 0
    while not os.path.exists(stop_path):
        try:
            with open(confirmed_path) as fh:
                frozen = set(json.load(fh)["ids"])
        except (OSError, ValueError):
            frozen = set()
        t0 = time.time()
        rows = probe_retrying(lambda: ivf_index_topk(spark, queries, idx))
        per_query: dict[int, set[int]] = {}
        for r in rows:
            assert r.neighbor_id not in frozen, (
                f"id {r.neighbor_id} confirmed-deleted before this probe "
                "started, yet surfaced"
            )
            per_query.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert all(len(v) == 5 for v in per_query.values()), per_query
        probes += 1
        _log_line(
            log,
            {
                "role": "prober",
                "probe": probes,
                "frozen_ids": len(frozen),
                "probe_s": round(time.time() - t0, 2),
            },
        )
    spark.stop()


def main() -> None:
    base_n = int(_argv[0]) if len(_argv) > 0 else 300_000
    gens = int(_argv[1]) if len(_argv) > 1 else 12
    gen_n = int(_argv[2]) if len(_argv) > 2 else 5_000
    events = int(_argv[3]) if len(_argv) > 3 else 8
    del_n = int(_argv[4]) if len(_argv) > 4 else 3_000
    # the deleter's upsert slice must be REAL base ids (replace-in-place
    # keeps the conservation audit exact); a range past the base corpus
    # would silently turn the upsert into an insert
    assert base_n > events * del_n + 1_000 + 500, (
        "base_n too small for the reserved delete + upsert ranges"
    )

    from datalakejson_spark.functions.index_maintenance import (
        index_report,
        load_tombstones,
    )

    build = verbs()["build"]
    root = tempfile.mkdtemp(prefix="multiproc_race_")
    idx = os.path.join(root, "idx")
    confirmed_path = os.path.join(root, "confirmed_deletes.json")
    stop_path = os.path.join(root, "STOP")
    logs = {r: os.path.join(root, f"{r}.jsonl") for r in
            ("appender", "deleter", "prober")}

    with open(OUT, "w") as fh:

        def emit(rec: dict) -> None:
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            print(json.dumps(rec))

        emit(
            {
                "phase": "meta",
                "plane": PLANE,
                "base_n": base_n,
                "gens": gens,
                "gen_n": gen_n,
                "events": events,
                "del_n": del_n,
                "dim": DIM,
            }
        )
        spark = _session("parent")
        t0 = time.time()
        meta = build(synth(spark, base_n, 0), idx)
        fam = (
            {"n_cells": meta["n_cells"]}
            if PLANE == "ivf"
            else {"n_planes": meta["n_planes"], "n_tables": meta["n_tables"]}
        )
        emit({"phase": "build", **fam, "build_s": round(time.time() - t0, 2)})
        spark.stop()  # the parent's JVM must not outlive into the race:
        # the three children are the ONLY sessions touching the index

        here = os.path.abspath(__file__)
        env = dict(os.environ)
        procs = {
            "appender": subprocess.Popen(
                [sys.executable, here, PLANE, "appender", idx, logs["appender"],
                 str(gens), str(gen_n)],
                env=env,
            ),
            "deleter": subprocess.Popen(
                [sys.executable, here, PLANE, "deleter", idx, logs["deleter"],
                 str(events), str(del_n), confirmed_path],
                env=env,
            ),
            "prober": subprocess.Popen(
                [sys.executable, here, PLANE, "prober", idx, logs["prober"],
                 confirmed_path, stop_path],
                env=env,
            ),
        }
        t0 = time.time()
        rc = {
            "appender": procs["appender"].wait(timeout=3600),
            "deleter": procs["deleter"].wait(timeout=3600),
        }
        open(stop_path, "w").close()
        rc["prober"] = procs["prober"].wait(timeout=900)
        race_s = time.time() - t0

        for role, log in logs.items():
            if os.path.exists(log):
                for line in open(log):
                    emit(json.loads(line))
        emit({"phase": "race_done", "exit_codes": rc, "race_s": round(race_s, 2)})
        assert all(v == 0 for v in rc.values()), rc

        # parent audit with a fresh session. IVF: one copy per vector.
        # LSH: the plane's exactly-once shape is PER TABLE — every live
        # vector in exactly n_tables partitions, none twice in any.
        spark = _session("audit")
        import pyspark.sql.functions as F

        data = spark.read.parquet(os.path.join(idx, SUBDIR))
        still_ids, names = load_tombstones(idx)
        live_df = data
        if still_ids:
            live_df = data.filter(
                ~F.col("vec_id").isin([int(i) for i in still_ids])
            )
        expected = base_n + gens * gen_n - events * del_n
        staging = os.path.join(idx, "_staging")
        stranded = [
            t
            for t in (os.listdir(staging) if os.path.isdir(staging) else [])
            if os.path.exists(os.path.join(staging, t, "_COMMITTED"))
        ]
        report = index_report(idx)
        audit = {
            "phase": "audit",
            "expected_live": expected,
            "physical_rows": data.count(),
            "still_tombstoned": len(still_ids),
            "tombstone_files": len(names),
            "stranded_committed_stages": stranded,
            "report_n_vectors": report.get("n_vectors"),
        }
        if PLANE == "ivf":
            live_rows = live_df.count()
            dup = (
                live_df.groupBy("vec_id").count().filter("count > 1").count()
            )
            audit |= {
                "live_rows": live_rows,
                "duplicates": dup,
                "report_n_cells": report.get("family", {}).get("n_cells"),
            }
            emit(audit)
            assert dup == 0 and live_rows == expected
        else:
            n_tables = fam["n_tables"]
            per_vec = live_df.groupBy("vec_id").count()
            wrong = per_vec.filter(F.col("count") != n_tables).count()
            distinct_live = per_vec.count()
            dup_tb = (
                live_df.groupBy("vec_id", "tb")
                .count()
                .filter("count > 1")
                .count()
            )
            audit |= {
                "distinct_live": distinct_live,
                "wrong_copy_count_vectors": wrong,
                "dup_within_table": dup_tb,
            }
            emit(audit)
            assert dup_tb == 0 and wrong == 0 and distinct_live == expected
        assert not stranded
        spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if _argv and _argv[0] in ROLES:
        role = _argv[0]
        if role == "appender":
            run_appender(_argv[1], _argv[2], int(_argv[3]), int(_argv[4]))
        elif role == "deleter":
            run_deleter(
                _argv[1], _argv[2], int(_argv[3]), int(_argv[4]), _argv[5]
            )
        else:
            run_prober(_argv[1], _argv[2], _argv[3], _argv[4])
    else:
        main()
