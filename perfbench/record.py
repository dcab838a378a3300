"""Run the benchmark over several seeds and record the spread.

    python3 perfbench/record.py --seeds 1-5 --out spread.json
    python3 perfbench/record.py --seeds 1-10 --sets 2 --traced-seeds 1-3 --out perfbench/baseline.json

For every workload in ``BENCHMARK.json`` (or ``--workloads``), runs its
command once per seed, one run at a time, and reports each metric's median,
quartiles (``statistics.quantiles(values, n=4)``) and spread, the distance
between the quartiles as a share of the median. ``--sets N`` repeats the
untraced seeds N times, one whole set after the other, and records each
set's summary and the ratio of every later set's medians to the first's.
With traced seeds it also records the per-layer medians and the tracing
overhead: the traced median ``traced_pass_s`` minus the untraced median
``pass_s``. On ``ingest-dedup`` it checks that every run of a seed kept the
same number of rows.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(text: str) -> list[int]:
    if not text:
        return []
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor()


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                     if not trace or k == "traced_pass_s"),
          flush=True)
    return {"seed": seed, "trace": trace, "wall_s": wall, "result": result, "detail": detail}


def _summarize_workload(runs: list[dict], units: dict, sets: int) -> dict:
    entry = {"runs": [
        {k: r[k] for k in ("seed", "trace", "wall_s", "detail")}
        | {k: r["result"][k] for k in ("correct", "attempted", "failed")}
        for r in runs
    ]}

    def summary(chosen: list[dict]) -> dict:
        return {
            name: {"unit": units.get(name)} | summarize([m[name]["value"] for m in chosen])
            for name in chosen[0]
        }

    untraced = [r for r in runs if r["trace"] == 0]
    traced = [r["result"]["metrics"] for r in runs if r["trace"] == 1]
    entry["sets"] = [
        summary([r["result"]["metrics"] for r in untraced if r["set"] == k])
        for k in range(sets)
    ]
    first = entry["sets"][0]
    entry["set_ratio"] = [
        {name: later[name]["median"] / first[name]["median"] for name in first}
        for later in entry["sets"][1:]
    ]
    entry["end_to_end"] = summary([r["result"]["metrics"] for r in untraced])
    if traced:
        entry["per_layer"] = summary(traced)
        t = entry["per_layer"]["traced_pass_s"]["median"]
        u = entry["end_to_end"]["pass_s"]["median"]
        entry["tracing_overhead_s"] = t - u
        entry["tracing_overhead_share"] = (t - u) / u
    kept: dict[int, set] = {}
    for r in runs:
        if "kept_rows" in r["detail"]:
            kept.setdefault(r["seed"], set()).update(r["detail"]["kept_rows"])
    if kept:
        entry["kept_rows_by_seed"] = {s: sorted(v) for s, v in sorted(kept.items())}
        entry["kept_rows_same_per_seed"] = all(len(v) == 1 for v in kept.values())
    return entry


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10", help="untraced seeds, e.g. 1-10")
    p.add_argument("--sets", type=int, default=1, help="untraced sets of --seeds")
    p.add_argument("--traced-seeds", default="", help="traced seeds, e.g. 1-3")
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    record = {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu": _cpu_model(),
        "machine": platform.platform(),
        "run_seconds": bench["run_seconds"],
        "workloads": {},
    }
    runs = {w: [] for w in workloads}
    for k in range(args.sets):
        for w in workloads:
            runs[w] += [run_once(bench, w, s, 0) | {"set": k} for s in _seeds(args.seeds)]
    for w in workloads:
        runs[w] += [run_once(bench, w, s, 1) for s in _seeds(args.traced_seeds)]
    for w in workloads:
        record["workloads"][w] = _summarize_workload(runs[w], units, args.sets)
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    for w, entry in record["workloads"].items():
        for k, summary in enumerate(entry["sets"]):
            for name, s in summary.items():
                ratio = entry["set_ratio"][k - 1][name] if k else 1.0
                print(f"{w:16s} set{k} {name:10s} median={s['median']:.4g} "
                      f"spread={s['spread']:.3f} ratio={ratio:.3f}")
        if "kept_rows_same_per_seed" in entry:
            print(f"{w:16s} kept rows same per seed: {entry['kept_rows_same_per_seed']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
