"""The repository benchmark: one named workload, one seed, checked outputs.

    python3 perfbench/run.py --workload queries-sf0.02 --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``,
with ``--trace 1`` its per-layer metrics. The line before it is a detail
record (samples, error classes, chosen tail percentile). Everything the run
writes lives under ``.perfbench_work/`` in the checkout and is removed at
exit, except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"
REQUIRED = ("bench.py", "datalakejson_spark/session.py", "tools/verify_oracle.py")


class Run:
    """State shared by a workload: the session, the tracer, and the tally of
    attempted and failed operations with the class of each failure."""

    def __init__(self, args, work: Path):
        from perfbench.tracing import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.traced)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: Counter = Counter()
        self.detail: dict = {}
        self.session_start_s = 0.0

    def fail(self, what: str, error_class: str, message: str) -> None:
        self.failed += 1
        self.errors[error_class] += 1
        print(f"perfbench: FAILED {what}: {error_class}: {message}", file=sys.stderr)

    @contextmanager
    def op(self, what: str):
        """Count one operation; an exception fails it and is re-raised so the
        caller decides how much of the workload can go on."""
        self.attempted += 1
        try:
            yield
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            self.fail(what, type(exc).__name__, str(exc)[:300])
            raise

    def check(self, what: str, ok: bool, message: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.fail(what, "Mismatch", message)
        return ok

    def group(self, name: str, group: str):
        """A span that also tags its Spark jobs (traced runs only)."""
        return self.tracer.span(name, group=group, sc=self.spark.sparkContext)

    def start_session(self) -> None:
        """Start the run's one session; this also launches the JVM."""
        from datalakejson_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t0

    def read_event_log(self):
        """Stop the session (which flushes its event log) and parse the log."""
        from perfbench.tracing import read_event_log

        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return read_event_log(self.work / "eventlog", app_id)


# --------------------------------------------------------------------------
# Entry point
# --------------------------------------------------------------------------
def _parse(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not an engine checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = _parse(argv)
    from perfbench.procs import prepare_env, shutdown_jvm
    from perfbench.workloads import WORKLOADS

    work = WORK_ROOT / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, bool(args.trace))
    run = Run(args, work)
    try:
        metrics = WORKLOADS[args.workload](run)
    finally:
        run.tracer.restore()
        shutdown_jvm(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    if run.traced:
        trace_dir = WORK_ROOT / "traces"
        trace_dir.mkdir(exist_ok=True)
        run.tracer.dump(trace_dir / f"{args.workload}-s{args.seed}.spans.jsonl")
    run.detail["errors"] = dict(run.errors)
    print(json.dumps({"detail": run.detail}))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": value, "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
