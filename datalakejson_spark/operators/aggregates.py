"""Aggregation operators (SURVEY.md §2.4), including the flagship query.

Spark executes every groupBy as a two-phase hash aggregate (partial map-side
combine, then final after the shuffle) — the property that makes these plans
scale: the shuffle carries one row per (partition, group), not per input row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.operators.deterministic import (
    SCALE,
    da,
    da_expr,
    davg_sql,
    ds,
    ds_expr,
    dsum_sql,
)
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Flagship: TPC-H-Q1-style pricing summary (entry() runs this)
# --------------------------------------------------------------------------
FLAGSHIP_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@register("g3_flagship_pricing_summary", survey="G3,P11,O2,S8", sql=FLAGSHIP_SQL)
def g3_flagship_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship consumption query (SURVEY.md §7.1): scan → pushed-down date
    filter → 8-way aggregate over a 6-group key. Exercises the "Ad-hoc SQL /
    DataFrame over curated Parquet" surface (diagram_1.txt:98-107). The scan
    reads only the 7 referenced columns; the shuffle carries ≤ (partitions ×
    6 groups) rows."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    # r16 (guide §5): the 8 aggregates parse as ONE struct expression (the
    # per-aggregate ds_expr/da_expr list still cost ~16 py4j round-trips per
    # build); the aggregate planner extracts the agg functions exactly as
    # before — operators, partial aggregation, and values identical.
    aggs = (
        "struct("
        f"{dsum_sql('l_quantity')} AS sum_qty, "
        f"{dsum_sql('l_extendedprice')} AS sum_base_price, "
        f"{dsum_sql(disc_price)} AS sum_disc_price, "
        f"{dsum_sql(f'({disc_price}) * (1 + l_tax)')} AS sum_charge, "
        f"{davg_sql('l_quantity')} AS avg_qty, "
        f"{davg_sql('l_extendedprice')} AS avg_price, "
        f"{davg_sql('l_discount')} AS avg_disc, "
        "count(*) AS count_order)"
    )
    return (
        li.filter("l_shipdate <= CAST('1998-09-02' AS TIMESTAMP_NTZ)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.expr(aggs).alias("_s"))
        .select("l_returnflag", "l_linestatus", "_s.*")
    )


# --------------------------------------------------------------------------
# G1: gating counts (conditional count in one pass)
# --------------------------------------------------------------------------
@register(
    "g1_gating_counts",
    survey="G1,E1",
    sql="""
    -- count_if returns HUGEINT in DuckDB (→ float64 via fetchdf); Spark's
    -- count_if is BIGINT. Cast so the driver's dtype-sensitive hash matches.
    SELECT count(*) AS n_total,
           CAST(count_if(event_type = 'error') AS BIGINT) AS n_corrupt,
           CAST(count_if(event_type <> 'error') AS BIGINT) AS n_good
    FROM events
    """,
)
def g1_gating_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference counts corrupt and good rows to gate its branches
    (sudo_code.txt:164,173) — and rescans the input for each count
    (SURVEY.md §3.1 perf note). Our form computes both in ONE pass with
    conditional counts: no cache, no second scan."""
    events = load_table(spark, sf_dir, "events")
    is_err = F.col("event_type") == "error"
    return events.agg(
        F.count("*").alias("n_total"),
        F.count_if(is_err).alias("n_corrupt"),
        F.count_if(~is_err).alias("n_good"),
    )


# --------------------------------------------------------------------------
# G3: grouped aggregate (sum/avg/min/max/count)
# --------------------------------------------------------------------------
@register(
    "g3_grouped_agg_orders",
    survey="G3",
    extended=True,  # G3 covered in the driver tier by g3_flagship + j3 + g6
    sql=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS sum_price,
           {davg_sql('o_totalprice')} AS avg_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def g3_grouped_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core grouped aggregate of the consumption surface (diagram_1.txt:99,105)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        ds("o_totalprice").alias("sum_price"),
        da("o_totalprice").alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# --------------------------------------------------------------------------
# G4: exact count distinct
# --------------------------------------------------------------------------
@register(
    "g4_count_distinct_users",
    survey="G4",
    sql="""
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def g4_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group (e.g. distinct users/day,
    diagram_1.txt:105). Spark plans the expand + two-phase aggregate itself."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"), F.count("*").alias("n_events")
    )


# --------------------------------------------------------------------------
# G5: approximate count distinct (HLL++)
# --------------------------------------------------------------------------
@register(
    "g5_approx_count_distinct",
    survey="G5",
    sql="""
    -- The HLL++ estimate itself is sketch-implementation-defined, so the
    -- oracle checks the exact cardinality plus the *accuracy contract*: the
    -- Spark side emits whether its estimate landed within 5x the requested
    -- rsd (0.02) of the exact count; the oracle asserts that bound holds.
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           true AS estimate_within_rsd
    FROM events
    GROUP BY 1
    """,
)
def g5_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ cardinality sketch — the 100 TB substitute for G4 (BASELINE.json:6
    scale mandate). The estimate is implementation-defined, so the checkable
    output is (exact count, estimate-within-bound boolean): the oracle
    recomputes the exact count and asserts the boolean is true, making the
    sketch's accuracy contract itself hash-checkable."""
    events = load_table(spark, sf_dir, "events")
    exact = F.count_distinct("user_id")
    approx = F.approx_count_distinct("user_id", 0.02)
    return events.groupBy("event_type").agg(
        exact.alias("n_users_exact"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= 0.02 * 5 * exact.cast("double")
        ).alias("estimate_within_rsd"),
    )


# --------------------------------------------------------------------------
# G6: rollup / cube (multi-granularity reporting)
# --------------------------------------------------------------------------
@register(
    "g6_rollup_time_hierarchy",
    survey="G6",
    sql=f"""
    SELECT year(l_shipdate) AS year, month(l_shipdate) AS month,
           {dsum_sql('l_extendedprice')} AS gross, count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (year(l_shipdate), month(l_shipdate))
    """,
)
def g6_rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the curated lake's partition hierarchy year→month
    (diagram3:108 partition layout + SQL surface diagram_1.txt:99):
    per-month, per-year, and grand-total rows.

    r16 (guide §2.3, settling the r15 open item): aggregate to the finest
    (year, month) grain FIRST — scaled-int sums stay scaled — then run the
    native ROLLUP over the ~84-row finest result. A native rollup over the
    raw rows Expands every input row ×3 BEFORE the partial aggregate (3×
    the map-side rows at 100 TB); the r15 three-way union computed the
    levels from the finest grain but left THREE lineage branches whose
    single-scan shape depended on runtime exchange reuse that the committed
    plan never proved (driver measured it 0.91×). This form is single-scan
    STRUCTURALLY (one lineage: scan → finest agg → Expand(3×84 rows) →
    rollup agg; executed-plan pin in tests/test_plans.py), and the Expand
    multiplies 84 rows, not the fact table. Bit-identical: integer sums are
    associative, and a rollup-of-sums over a grain equal to its finest
    grouping set reproduces ROLLUP over the raw rows exactly (NULL-shipdate
    rows form their own finest group and flow into every level the same
    way). Interleaved A/B (tools/ab.py g6): 1.29× sf0.1 / 1.42× sf1 vs
    the r15 union, 1.42× / 1.57× vs the native rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    finest = li.groupBy(
        F.expr("year(l_shipdate)").alias("year"),
        F.expr("month(l_shipdate)").alias("month"),
    ).agg(
        F.expr(f"sum(CAST(round(l_extendedprice * {SCALE}.0) AS BIGINT))").alias("_gs"),
        F.count("*").alias("_n"),
    )
    return finest.rollup("year", "month").agg(
        (F.sum("_gs").cast("double") / float(SCALE)).alias("gross"),
        F.sum("_n").alias("n_rows"),
    )


@register(
    "g6_cube_flag_status",
    survey="G6",
    extended=True,  # G6 covered in the driver tier by g6_rollup_time_hierarchy
    sql=f"""
    SELECT l_returnflag, l_linestatus, {dsum_sql('l_quantity')} AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def g6_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations of (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        ds("l_quantity").alias("sum_qty"), F.count("*").alias("n_rows")
    )


# --------------------------------------------------------------------------
# G7: exact percentile / median
# --------------------------------------------------------------------------
@register(
    "g7_percentile_median",
    survey="G7",
    sql="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.9) AS p90_price
    FROM lineitem
    GROUP BY 1
    """,
)
def g7_percentile_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-distribution percentiles (diagram_1.txt:105). Exact linear-
    interpolation percentile (matches quantile_cont); the 100 TB path swaps in
    percentile_approx (t-digest) — same API shape, bounded memory."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
    )


# --------------------------------------------------------------------------
# G8: per-source audit aggregate
# --------------------------------------------------------------------------
@register(
    "g8_per_source_audit",
    survey="G8,F8,E2",
    sql="""
    -- sum(BIGINT) is HUGEINT in DuckDB (→ float64 via fetchdf); Spark sums
    -- BIGINT as BIGINT. Cast for the driver's dtype-sensitive hash.
    -- src_file: Spark derives it from input_file_name() at scan time (F8);
    -- the oracle pins the fixture's TABLE file/dir name. The Spark side
    -- extracts the 'documents*' path segment (not the basename), so the two
    -- agree whether the fixture is a single file or a part-file directory
    -- named documents.parquet; a renamed fixture fails loudly in
    -- tools/verify_oracle.py before any driver run (ADVICE r02).
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           'documents.parquet' AS src_file
    FROM documents
    GROUP BY 1
    """,
)
def g8_per_source_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-contributed-per-source-file audit — the purpose of the lineage
    column (sudo_code.txt:250 "Helps trace back rows", diagram3:109). The
    src_file column is real scan-time lineage via input_file_name() (F8),
    the same mechanism ingest stamps _source_file with."""
    docs = load_table(spark, sf_dir, "documents")
    # input_file_name() is nondeterministic → must be projected to a column
    # BEFORE the aggregate (Spark rejects it inside agg arguments). Extract
    # the table-level path segment, not the basename: if the fixture is ever
    # a multi-file directory, the basename would be a part-file name but the
    # 'documents*' segment is still the table name the oracle pins.
    docs = docs.withColumn(
        "src_file",
        F.regexp_extract(F.input_file_name(), "/(documents[^/]*)(?=/|$)", 1),
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.min("src_file").alias("src_file"),
    )


# --------------------------------------------------------------------------
# G10: mergeable HLL sketch rollup (incremental distinct counts)
# --------------------------------------------------------------------------
@register(
    "g10_hll_mergeable_rollup",
    survey="G5,G3,F1",
    extended=True,
    sql="""
    -- Accuracy-contract oracle (the g5/l3b pattern): the sketch bytes are
    -- implementation-defined, so the Spark side emits whether the UNIONED
    -- estimate landed within 5% of the exact total; the oracle pins the
    -- exact values and asserts the contract held.
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS d
        FROM events GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(d) AS BIGINT) AS sum_daily_distinct,
           (SELECT count(DISTINCT user_id) FROM events) AS exact_total,
           TRUE AS union_within_5pct
    FROM daily
    """,
)
def g10_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count rollup with mergeable HLL sketches
    (DataSketches via ``hll_sketch_agg``): one sketch per day, then
    ``hll_union_agg`` merges the daily sketches into the period total
    WITHOUT rescanning events — the 100 TB pattern for maintained rollups
    (store a sketch per partition; any date-range cardinality is a cheap
    union over stored sketches, while exact daily counts can never be
    summed because users span days — ``sum_daily_distinct`` > total shows
    exactly that). The contract column asserts the unioned estimate lands
    within 5% of the exact cardinality."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("d"),
    )
    rolled = daily.agg(
        F.count("*").alias("n_days"),
        F.sum("d").alias("sum_daily_distinct"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact_total"))
    return rolled.crossJoin(exact).select(
        "n_days",
        "sum_daily_distinct",
        "exact_total",
        (
            F.abs(F.col("est_total") - F.col("exact_total"))
            / F.col("exact_total")
            <= 0.05
        ).alias("union_within_5pct"),
    )
