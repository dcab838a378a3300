"""The benchmark's workloads. Each takes a :class:`perfbench.run.Run` and
returns ``{metric: (value, unit)}``: the end-to-end metrics on an untraced
run, the per-layer metrics on a traced one.

Both are one client in a closed loop on Spark ``local[nproc]``. A *pass* is
the workload's unit of repeated work (the 12 headline queries; one drain of
a landing zone) and an *op* is its unit of latency (one query; one
micro-batch through ingest and dedup). Per-layer values are per pass.
"""

from __future__ import annotations

import math
import random
import shutil
import sys
import time
from collections import Counter, defaultdict
from pathlib import Path
from statistics import median

from perfbench import datagen
from perfbench.procs import peak_rss_mb
from perfbench.stats import tail
from perfbench.tracing import driver_gap, self_times

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
}


def _layer_catalog() -> dict[str, str]:
    from bench import HEADLINE

    out = {
        "session.start_s": "s",
        "registry.build_s": "s",
        "sources.load_table_s": "s",
        "sources.load_table_calls": "count",
        "spark.plan_s": "s",
        "spark.exec_s": "s",
    }
    out.update({f"spark.exec_s.{q}": "s" for q in HEADLINE})
    out.update({
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.driver_gap_s": "s",
        "spark.task_cpu_s": "s",
        "spark.task_gc_s": "s",
        "spark.shuffle_fetch_wait_s": "s",
        "spark.shuffle_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.scan_rows": "count",
        "plans.ingest.discover_s": "s",
        "plans.ingest.batch_s": "s",
        "plans.ingest.batch_self_s": "s",
        "plans.ingest.batches": "count",
        "plans.ingest.jobs_per_batch": "count",
        "plans.ledger.register_s": "s",
        "plans.ledger.claim_s": "s",
        "plans.ledger.commit_s": "s",
        "plans.schema_evolution.gate_s": "s",
        "plans.schema_evolution.drifted_files": "count",
        "plans.compact.compact_s": "s",
        "plans.compact.files_before": "count",
        "plans.compact.files_after": "count",
        "functions.incremental_dedup.batch_s": "s",
        "functions.incremental_dedup.compact_index_s": "s",
        "functions.incremental_dedup.jobs_per_batch": "count",
        "functions.incremental_dedup.kept_ratio": "ratio",
        "functions.incremental_dedup.index_bytes": "bytes",
        "query_tail_s": "s",
        "query_tail_pct": "%",
        "query_samples": "count",
        "ingest_files_per_s": "1/s",
        "dedup_rows_per_s": "1/s",
        "stored_bytes_per_input_byte": "ratio",
        "failed_ratio": "ratio",
        "traced_pass_s": "s",
        "peak_rss_mb": "MB",
    })
    return out


def _timed_loop(run, body, min_passes: int) -> None:
    """Call ``body(i)`` for passes 0, 1, ... until ``run.seconds`` have
    elapsed and at least ``min_passes`` passes ran."""
    run.tracer.phase = "timed"
    t0 = time.perf_counter()
    i = 0
    while i < min_passes or time.perf_counter() - t0 < run.seconds:
        body(i)
        i += 1


def _report(run, e2e: dict[str, float], layers: dict[str, float]) -> dict:
    if not run.traced:
        return {name: (e2e[name], unit) for name, unit in END_TO_END.items()}
    out = {name: (0.0, unit) for name, unit in _layer_catalog().items()}
    layers["failed_ratio"] = run.failed / max(run.attempted, 1)
    layers["traced_pass_s"] = e2e["pass_s"]
    layers["peak_rss_mb"] = run.detail["peak_rss_mb"]
    for name, value in layers.items():
        out[name] = (value, out[name][1])  # KeyError: a metric outside the catalog
    return out


def _span_layers(run, log, units: int, gap_spans: tuple[str, ...]):
    """Layers common to both workloads: session start, span sums, and the
    Spark totals of every job group opened in the timed phase."""
    timed = [s for s in run.tracer.spans if s.phase == "timed"]
    total: Counter = Counter()
    calls: Counter = Counter()
    for s in timed:
        total[s.name] += s.duration
        calls[s.name] += 1
    groups = {s.group for s in timed if s.group}
    tasks: Counter = Counter()
    for g in groups:
        tasks.update(log.tasks.get(g, Counter()))
    gap = [s for s in timed if s.name in gap_spans]
    out = {
        "session.start_s": run.session_start_s,
        "sources.load_table_s": total["sources.load_table"],
        "sources.load_table_calls": calls["sources.load_table"],
        "spark.exec_s": sum(s.duration for s in gap),
        "spark.jobs": sum(1 for j in log.jobs.values() if j["group"] in groups),
        "spark.stages": sum(log.stages[g] for g in groups),
        "spark.driver_gap_s": sum(driver_gap(s, log.job_intervals(s.group)) for s in gap),
    }
    out.update({f"spark.{k}": tasks[k] for k in (
        "tasks", "task_cpu_s", "task_gc_s", "shuffle_fetch_wait_s",
        "shuffle_bytes", "spill_bytes", "scan_rows",
    )})
    for k in out:
        if k != "session.start_s":
            out[k] /= units
    return out, total, timed


# --------------------------------------------------------------------------
# queries-sf0.02: the 12 bench.py headline queries over generated tables
# --------------------------------------------------------------------------
QUERY_SF = 0.02
# The checked pass is the only warm-up. The first timed pass still runs up
# to a third slower than the next two; the median of three passes drops it,
# or a later pass that met a burst of load from outside the run.
MIN_PASSES = 3


def queries(run) -> dict:
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from verify_oracle import TABLES, compare

    from bench import HEADLINE
    from datalakejson_spark.registry import all_specs

    specs = all_specs()
    t0 = time.perf_counter()
    run.start_session()
    sf_dir = str(run.work / "sf")
    datagen.make_tables(sf_dir, run.seed, QUERY_SF)
    cold_s = time.perf_counter() - t0
    if run.traced:
        _install_wraps(run)

    # Warm-up pass, which is also the output check: every query is collected
    # once and compared with its DuckDB oracle outside the timing.
    run.tracer.phase = "warmup"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    warm = 0.0
    for name in HEADLINE:
        try:
            with run.op(f"collect {name}"), run.group(name, f"w:{name}"):
                t0 = time.perf_counter()
                got = specs[name].fn(run.spark, sf_dir).toPandas()
                warm += time.perf_counter() - t0
        except Exception:  # recorded by run.op; the next query still runs
            continue
        problems = compare(name, got, con.execute(specs[name].sql).fetchdf())
        run.check(f"oracle {name}", not problems, "; ".join(problems))
    con.close()

    order = list(HEADLINE)
    shuffle = random.Random(run.seed).shuffle
    passes: list[float] = []
    per_query: dict[str, list[float]] = defaultdict(list)

    def one_pass(tag: str) -> None:
        shuffle(order)
        tp = time.perf_counter()
        for name in order:
            try:
                with run.op(name), run.group(name, f"{tag}:{name}"):
                    t0 = time.perf_counter()
                    with run.tracer.span("registry.build"):
                        df = specs[name].fn(run.spark, sf_dir)
                    if run.traced:  # force analysis, optimization and planning
                        with run.tracer.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with run.tracer.span("spark.exec"):
                        df.write.mode("overwrite").format("noop").save()
                    per_query[name].append(time.perf_counter() - t0)
            except Exception:  # recorded by run.op; the pass goes on
                continue
        passes.append(time.perf_counter() - tp)

    run.detail.update(start_and_inputs_s=cold_s, warmup_s=warm)
    _timed_loop(run, lambda p: one_pass(f"t{p}"), MIN_PASSES)
    latencies = [x for xs in per_query.values() for x in xs]
    e2e = {"setup_s": cold_s + warm, "pass_s": median(passes), "op_p50_s": median(latencies)}
    tail_pct, tail_s = tail(latencies) or (0.0, 0.0)
    run.detail.update(
        peak_rss_mb=peak_rss_mb(),
        passes_s=passes,
        samples=len(latencies),
        tail={"pct": tail_pct, "value_s": tail_s},
        query_p50_s={q: median(v) for q, v in per_query.items()},
    )
    layers = {}
    if run.traced:
        log = run.read_event_log()
        layers, total, timed = _span_layers(run, log, len(passes), ("spark.exec",))
        n = len(passes)
        exec_by_query: Counter = Counter()
        for s in timed:
            if s.name == "spark.exec":
                exec_by_query[s.group.split(":", 1)[1]] += s.duration
        layers.update({f"spark.exec_s.{q}": v / n for q, v in exec_by_query.items()})
        layers["registry.build_s"] = total["registry.build"] / n
        layers["spark.plan_s"] = total["spark.plan"] / n
        layers.update(query_tail_s=tail_s, query_tail_pct=tail_pct, query_samples=len(latencies))
    return _report(run, e2e, layers)


# --------------------------------------------------------------------------
# ingest-dedup: landing zone -> ledger-driven ingest -> incremental dedup
# --------------------------------------------------------------------------
N_FILES = 24
ROWS_PER_FILE = 24
N_BATCHES = 2
BASE_RUNS = 7  # index runs before a drain; + N_BATCHES > COMPACT_MAX_RUNS
BASE_DOCS = 600
FALSE_DROP_SHARE = 0.05


def _install_wraps(run) -> None:
    from datalakejson_spark.functions import incremental_dedup
    from datalakejson_spark.plans.ledger import Ledger
    from datalakejson_spark.plans.schema_evolution import split_compatible_files
    from datalakejson_spark.sources.tables import load_table

    t = run.tracer
    t.wrap_everywhere(load_table, "sources.load_table")
    t.wrap_everywhere(split_compatible_files, "plans.schema_evolution.gate")
    t.wrap(Ledger, "register", "plans.ledger.register")
    t.wrap(Ledger, "claim_batch", "plans.ledger.claim")
    t.wrap(Ledger, "apply_outcomes", "plans.ledger.commit")
    t.wrap(incremental_dedup, "compact_index", "functions.incremental_dedup.compact_index")


def _bytes_under(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _parquet_files(path: Path) -> int:
    return sum(1 for _ in path.rglob("*.parquet"))


def _base_index(spark, corpus, idx: Path) -> None:
    """A persisted dedup index of ``BASE_RUNS`` appended runs, written
    directly (as bench.py's dedup extra does) so the warm-up stays short."""
    import pyspark.sql.functions as F

    from datalakejson_spark.functions.dedup import band_table, minhash_signatures
    from datalakejson_spark.functions.incremental_dedup import (
        exact_hash_index,
        write_lane_meta,
    )
    from datalakejson_spark.session import local_df

    docs = local_df(spark, corpus, "doc_id long, text string")
    bands = band_table(minhash_signatures(docs)).localCheckpoint()
    for r in range(BASE_RUNS):
        run_of = F.col("doc_id") % BASE_RUNS == r
        exact_hash_index(docs.filter(run_of)).coalesce(1).write.mode("append").parquet(
            str(idx / "hashes")
        )
        bands.filter(run_of).coalesce(1).write.mode("append").parquet(str(idx / "bands"))
    write_lane_meta(str(idx))


def _uri_path(uri: str) -> str:
    from urllib.parse import unquote

    return unquote(uri.removeprefix("file://").removeprefix("file:"))


def _drain(run, tag: str, landing, base_idx: Path, root: Path) -> dict:
    """Drain a fresh copy of the landing zone into an empty lake and a copy
    of the base index; return its timings."""
    import pyspark.sql.functions as F

    from datalakejson_spark.functions.incremental_dedup import ingest_batch_dedup
    from datalakejson_spark.plans import ingest as ing
    from datalakejson_spark.plans.compact import compact

    spark = run.spark
    plan = landing.copy_to(str(root / "landing"))
    idx = root / "idx"
    shutil.copytree(base_idx, idx)
    base_bytes = _bytes_under(idx)
    conf = ing.IngestConfig(
        landing_dir=plan.root,
        curated_dir=str(root / "curated"),
        dlq_dir=str(root / "dlq"),
        archive_dir=str(root / "archive"),
        ledger_dir=str(root / "ledger"),
        batch_size=math.ceil(len(plan.files) / N_BATCHES),
    )
    out = {"batch_s": [], "dedup_s": 0.0, "delta_rows": 0, "kept": 0}
    drifted: dict = {}
    t0 = time.perf_counter()
    with run.op("discover"), run.group("plans.ingest.discover", f"{tag}:discover"):
        ing.discover(spark, conf)
    last_commit = t0
    for i in range(len(plan.files) + 1):
        tb = time.perf_counter()
        with run.op("ingest_batch"), run.group("plans.ingest.batch", f"{tag}:ingest:{i}"):
            res = ing.ingest_batch(spark, conf)
        if not res.claimed:
            break
        last_commit = time.perf_counter()
        drifted.update(res.drifted_files)
        with run.op("read_curated"), run.group("plans.ingest.read_curated", f"{tag}:read:{i}"):
            delta = (
                ing.read_curated(spark, conf.curated_dir)
                .filter(F.col("ingest_run_id") == res.run_id)
                .select("doc_id", "text")
            )
        td = time.perf_counter()
        with run.op("ingest_batch_dedup"), run.group(
            "functions.incremental_dedup.batch", f"{tag}:dedup:{i}"
        ):
            n_kept = ingest_batch_dedup(spark, delta, str(idx)).count()
        out["dedup_s"] += time.perf_counter() - td
        out["batch_s"].append(time.perf_counter() - tb)
        out["delta_rows"] += res.good_rows
        out["kept"] += n_kept
    if run.traced:
        out["files_before"] = _parquet_files(Path(conf.curated_dir))
    with run.op("compact"), run.group("plans.compact.compact", f"{tag}:compact"):
        compact(spark, conf.curated_dir)
    out["pipeline_s"] = time.perf_counter() - t0
    out["files_per_s"] = len(plan.files) / (last_commit - t0)
    out["files_after"] = _parquet_files(Path(conf.curated_dir))
    out["index_bytes"] = _bytes_under(idx)
    out["stored_ratio"] = (
        _bytes_under(Path(conf.curated_dir)) + out["index_bytes"] - base_bytes
    ) / plan.input_bytes
    out.update(plan=plan, conf=conf, drifted=set(drifted))
    return out


def _check_drain(run, out: dict) -> None:
    """Compare one drain's ledger, curated lake, DLQ and drift quarantine
    with what the landing plan planted."""
    from datalakejson_spark.plans import ingest as ing
    from datalakejson_spark.plans.ledger import Ledger, LedgerStatus

    spark = run.spark
    plan, conf, drifted = out["plan"], out["conf"], out["drifted"]
    status = {
        r.s3_key: r.status
        for r in Ledger(spark, conf.ledger_dir).read().select("s3_key", "status").collect()
    }
    by_status = defaultdict(set)
    for key, st in status.items():
        by_status[st].add(key)
    run.check(
        "ledger outcomes",
        by_status[LedgerStatus.SUCCEEDED] == plan.succeeded
        and by_status[LedgerStatus.QUARANTINED] == plan.quarantined
        and len(status) == len(plan.files),
        f"{ {k: len(v) for k, v in by_status.items()} } for {len(plan.files)} files",
    )
    curated = ing.deduplicate_replays(ing.read_curated(spark, conf.curated_dir)).count()
    run.check("curated rows", curated == plan.good_rows, f"{curated} != {plan.good_rows}")
    dlq = {_uri_path(r[0]): r[1] for r in ing.write_dlq_summary(spark, conf).collect()}
    run.check(
        "dlq rows",
        sum(dlq.values()) == plan.corrupt_lines and set(dlq) == plan.corrupt_files,
        f"{sum(dlq.values())} rows from {len(dlq)} files",
    )
    run.check("drift quarantine", drifted == {plan.drift_file}, str(sorted(drifted)))
    # Every planted copy must go, and at most FALSE_DROP_SHARE of the rows
    # may be dropped beyond them: minhash LSH with 4 bands of 2 also pairs
    # about 2% of unrelated word-soup texts.
    lo = plan.kept_rows - math.ceil(FALSE_DROP_SHARE * plan.good_rows)
    run.check(
        "kept rows",
        lo <= out["kept"] <= plan.kept_rows,
        f"{out['kept']} outside [{lo}, {plan.kept_rows}]",
    )


def ingest_dedup(run) -> dict:
    t0 = time.perf_counter()
    run.start_session()
    corpus, _ = datagen.documents(datagen.seeded(run.seed, 10), BASE_DOCS, dup_share=0.0)
    landing = datagen.make_landing(
        str(run.work / "landing"), run.seed, N_FILES, ROWS_PER_FILE, corpus
    )
    cold_s = time.perf_counter() - t0
    if run.traced:
        _install_wraps(run)
    # Warm-up: seed the persisted index every drain starts from. The drains
    # are timed from the first: a second drain in the same JVM takes 0.6-0.8
    # of the first, but a warm-up drain adds 25-45 s to a run on 4 cores,
    # more than 48 runs within the hour allow.
    run.tracer.phase = "warmup"
    t0 = time.perf_counter()
    base_idx = run.work / "base_idx"
    _base_index(run.spark, corpus, base_idx)
    warm = time.perf_counter() - t0
    run.detail.update(start_and_inputs_s=cold_s, warmup_s=warm)
    drains = []

    def one_drain(tag: str) -> None:
        root = run.work / f"drain-{tag}"
        try:
            stats = _drain(run, tag, landing, base_idx, root)
            with run.op("check drain"):
                _check_drain(run, stats)
        except Exception:  # recorded by run.op; the next drain starts afresh
            return
        finally:
            shutil.rmtree(root, ignore_errors=True)
        drains.append(stats)

    _timed_loop(run, lambda d: one_drain(f"t{d}"), 1)
    if not drains:
        raise RuntimeError("no drain completed")
    batch_lat = [x for s in drains for x in s["batch_s"]]
    run.detail["kept_rows"] = [s["kept"] for s in drains]
    e2e = {
        "setup_s": cold_s + warm,
        "pass_s": median([s["pipeline_s"] for s in drains]),
        "op_p50_s": median(batch_lat),
    }
    run.detail.update(
        peak_rss_mb=peak_rss_mb(),
        drains_s=[s["pipeline_s"] for s in drains],
        batch_s=batch_lat,
        ingest_files_per_s=median([s["files_per_s"] for s in drains]),
        dedup_rows_per_s=sum(s["delta_rows"] for s in drains) / sum(s["dedup_s"] for s in drains),
        stored_bytes_per_input_byte=median([s["stored_ratio"] for s in drains]),
    )
    layers = {}
    if run.traced:
        n = len(drains)
        log = run.read_event_log()
        gap_spans = (
            "plans.ingest.discover", "plans.ingest.batch", "plans.ingest.read_curated",
            "functions.incremental_dedup.batch", "plans.compact.compact",
        )
        layers, total, timed = _span_layers(run, log, n, gap_spans)
        selfs = self_times(timed)
        batches = sum(len(s["batch_s"]) for s in drains)
        jobs = Counter()
        for j in log.jobs.values():
            if j["group"] and j["group"].startswith("t"):
                jobs[j["group"].split(":")[1]] += 1
        layers.update({
            "plans.ingest.discover_s": total["plans.ingest.discover"] / n,
            "plans.ingest.batch_s": total["plans.ingest.batch"] / n,
            "plans.ingest.batch_self_s": sum(
                selfs[s.id] for s in timed if s.name == "plans.ingest.batch"
            ) / n,
            "plans.ingest.batches": batches / n,
            "plans.ingest.jobs_per_batch": jobs["ingest"] / batches,
            "plans.ledger.register_s": total["plans.ledger.register"] / n,
            "plans.ledger.claim_s": total["plans.ledger.claim"] / n,
            "plans.ledger.commit_s": total["plans.ledger.commit"] / n,
            "plans.schema_evolution.gate_s": total["plans.schema_evolution.gate"] / n,
            "plans.schema_evolution.drifted_files": sum(len(s["drifted"]) for s in drains) / n,
            "plans.compact.compact_s": total["plans.compact.compact"] / n,
            "plans.compact.files_before": sum(s["files_before"] for s in drains) / n,
            "plans.compact.files_after": sum(s["files_after"] for s in drains) / n,
            "functions.incremental_dedup.batch_s": total["functions.incremental_dedup.batch"] / n,
            "functions.incremental_dedup.compact_index_s": (
                total["functions.incremental_dedup.compact_index"] / n
            ),
            "functions.incremental_dedup.jobs_per_batch": jobs["dedup"] / batches,
            "functions.incremental_dedup.kept_ratio": (
                sum(s["kept"] for s in drains) / sum(s["delta_rows"] for s in drains)
            ),
            "functions.incremental_dedup.index_bytes": sum(s["index_bytes"] for s in drains) / n,
            "ingest_files_per_s": run.detail["ingest_files_per_s"],
            "dedup_rows_per_s": run.detail["dedup_rows_per_s"],
            "stored_bytes_per_input_byte": run.detail["stored_bytes_per_input_byte"],
        })
    return _report(run, e2e, layers)


WORKLOADS = {
    "queries-sf0.02": queries,
    "ingest-dedup": ingest_dedup,
}
