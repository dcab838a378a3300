"""Capture EXECUTED .explain("formatted") plans into plans/r16/.

Each query runs to completion first (collect() attaches metrics/final plan
to the df's own QueryExecution), so the dump is the final adaptive plan
(`isFinalPlan=true`) with AQEShuffleRead nodes and any runtime exchange
reuse visible — not the pre-execution `isFinalPlan=false` plan, which can
hide whether a runtime reuse actually happened.

Usage: python tools/plan_capture.py <suffix> [query ...]
Writes plans/r16/<query>_<suffix>.txt (default query set: bench HEADLINE).
Plans are captured at sf0.1, the bench tier.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datalakejson_spark.registry import all_specs
from datalakejson_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"


def executed_formatted(spark, df) -> str:
    df.collect()  # finalize the adaptive plan on THIS QueryExecution
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    from bench import HEADLINE

    names = sys.argv[2:] or HEADLINE
    spark = get_spark("plan-capture")
    specs = all_specs()
    out_dir = Path(__file__).resolve().parent.parent / "plans" / "r16"
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        spec = specs[name]
        if spec.plan_fn is not None:
            plan = spec.plan_fn(spark, SF_DIR)
        else:
            plan = executed_formatted(spark, spec.fn(spark, SF_DIR))
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
