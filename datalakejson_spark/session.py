"""SparkSession factory and runtime configuration.

The reference delegates execution to Glue-managed Spark (sudo_code.txt:64-69);
our engine owns the session. Defaults follow the 100 TB posture of SURVEY.md
§7.0: AQE on (runtime re-planning, skew-join handling), explicit UTC session
timezone (ledger columns are ``TIMESTAMP WITH TIME ZONE`` UTC,
sudo_code.txt:33), and Arrow enabled for the pandas-UDF surface.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import Column, SparkSession

# Confs that are safe (and necessary) to set on an already-running session.
# ``nanosAsLong`` lets Spark read parquet TIMESTAMP(NANOS) columns (the
# ``events`` fixture) — the loader converts them back to timestamps.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not create (e.g. the driver's).

    Idempotent and memoized per session object: every conf.set is a py4j
    round-trip, and load_table calls this on EVERY table read, so an
    un-memoized pass costs ~10 driver round-trips per scan (measured as pure
    per-query build time in the bench; guide §5: the driver should do almost
    no per-query work). A second Python wrapper of the same JVM session just
    re-applies the idempotent confs once — harmless."""
    if getattr(spark, "_dlj_runtime_configured", False):
        return spark
    for conf_key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(conf_key, value)
        except Exception:
            # Non-settable on this session build; keep going — each conf is
            # an optimization or compat shim, not a correctness requirement
            # for sessions that already read the data fine.
            pass
    spark._dlj_runtime_configured = True
    return spark


def get_spark(
    app_name: str = "datalakejson-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a local session sized for the test harness.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to the core count: at local scale a 200-partition shuffle is pure
    scheduling overhead; on a real cluster this knob (or AQE coalescing)
    should track total executor cores instead.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # getOrCreate would silently ignore every builder config below;
        # reuse the session explicitly (runtime confs still apply).
        return configure_runtime(active)
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep managed-table state out of the repo/CWD and isolated per run
        .config(
            "spark.sql.warehouse.dir",
            tempfile.mkdtemp(prefix="spark-warehouse-"),
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return configure_runtime(builder.getOrCreate())


def _schema_field_names(schema) -> list[str]:
    """Column names from a DDL schema string (bracket-aware: commas inside
    ``array<...>``/``map<...>``/``struct<...>`` are not separators) or a
    StructType."""
    if not isinstance(schema, str):
        return list(schema.fieldNames())
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            part = schema[start:i].strip()
            if part:
                names.append(part.split()[0].strip("`"))
            start = i + 1
    return names


def local_df(spark: SparkSession, rows: list, schema):
    """Build a small driver-side DataFrame as an Arrow-backed SINGLE
    local relation instead of a parallelized pickle-RDD.

    ``createDataFrame(list_of_tuples)`` slices the list into
    defaultParallelism pickled-RDD partitions, and EVERY downstream task
    that evaluates one pays a Python-worker round-trip — a ``coalesce(1)``
    consumer (the ledger snapshot writer) evaluates all 32 serially,
    ~5 s of pure worker launches for a 256-row table. Routing through
    pandas hands Spark one Arrow batch that executes JVM-side in any
    number of downstream tasks for free. Only for bounded metadata frames
    (ledger keys, discovery listings, broadcast dims); real data stays in
    distributed scans."""
    if not rows:
        # zero-partition RDD: downstream evaluation schedules no tasks at
        # all (the pandas/Arrow path falls back to pickled slices on empty).
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=_schema_field_names(schema)), schema=schema
    )


def _sql_literal(value) -> str:
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    raise TypeError(f"sql_in renders str and int literals, not {type(value)!r}")


def sql_in(column: str, values) -> Column:
    """``column IN (values)`` parsed from ONE SQL string; ``None`` values
    are dropped (``x IN (NULL)`` never holds). ``Column.isin`` builds one
    py4j literal per value (4.7 s for 10k keys on a 4-core box); the parse
    takes milliseconds and the optimizer turns the list into a hash
    ``InSet``. An empty list is ``FALSE``."""
    lits = [_sql_literal(v) for v in values if v is not None]
    if not lits:
        return F.lit(False)
    return F.expr(f"`{column}` IN ({','.join(lits)})")
