"""Schema-drift gate tests (SURVEY.md §7.3 / FIXTURES.md §3 variants 4-5):
compatible widening flows through; incompatible STRING→STRUCT drift
quarantines the offending file without poisoning the curated table."""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from datalakejson_spark.plans.ingest import discover, ingest_batch, read_curated
from datalakejson_spark.plans.ledger import Ledger, LedgerStatus
from datalakejson_spark.plans.schema_evolution import (
    RawSchemaRegistry,
    compatible,
    incompatible_columns,
    merge_schemas,
    split_compatible_files,
)
from tests.conftest import good_record, jobs_of, write_ndjson


def test_compatible_rules():
    assert compatible(T.LongType(), T.DoubleType())  # widening
    assert compatible(T.DoubleType(), T.LongType())
    assert compatible(T.StringType(), T.StringType())
    assert not compatible(T.StringType(), T.StructType([]))  # the §7.3 case
    assert not compatible(
        T.ArrayType(T.StringType()), T.StringType()
    )
    # struct compat recurses on shared fields only
    old = T.StructType([T.StructField("a", T.LongType())])
    new_ok = T.StructType(
        [T.StructField("a", T.DoubleType()), T.StructField("b", T.StringType())]
    )
    new_bad = T.StructType([T.StructField("a", T.StructType([]))])
    assert compatible(old, new_ok)
    assert not compatible(old, new_bad)


def test_merge_widens_and_unions():
    old = T.StructType(
        [T.StructField("x", T.LongType()), T.StructField("keep", T.StringType())]
    )
    new = T.StructType(
        [T.StructField("x", T.DoubleType()), T.StructField("extra", T.BooleanType())]
    )
    merged = merge_schemas(old, new)
    by_name = {f.name: f.dataType for f in merged.fields}
    assert by_name["x"] == T.DoubleType()
    assert set(by_name) == {"x", "keep", "extra"}


def test_incompatible_drift_quarantines_file_only(spark, ingest_conf, tmp_path):
    # batch 1 establishes the landing contract (payload is a struct)
    discover(spark, ingest_conf)
    ingest_batch(spark, ingest_conf)
    curated_before = read_curated(spark, ingest_conf.curated_dir)
    rows_before = curated_before.count()
    assert "transaction_items" in curated_before.columns

    # batch 2: one drifted file (payload became a string) beside good files,
    # two of which say nothing about a contract column: an empty items
    # array, and a numeric field that is null in every row
    week = Path(ingest_conf.landing_dir) / "2024" / "week08"
    write_ndjson(
        week / "drift_incompatible.json",
        [
            '{"id": "bad-1", "event_timestamp": "2024-02-20T00:00:00Z", '
            '"MODE": "train", "payload": "oops-now-a-string"}'
        ],
    )
    write_ndjson(
        week / "still_good.json",
        [good_record(500, ts="2024-02-20T01:00:00Z")],
    )
    no_items = good_record(501, ts="2024-02-20T02:00:00Z")
    no_items["payload"]["items"] = []
    write_ndjson(week / "empty_items.json", [no_items])
    no_qty = [good_record(502 + i, ts="2024-02-20T03:00:00Z") for i in range(2)]
    for rec in no_qty:
        rec["payload"]["items"][0]["qty"] = None
    write_ndjson(week / "null_qty.json", no_qty)
    discover(spark, ingest_conf)

    # the gate costs the same few jobs at any file count: these 4 files run
    # the 4 jobs that per-file inference took for 2, and 64 run at most 10
    batch = sorted(str(p) for p in week.iterdir())
    filler = [
        str(write_ndjson(tmp_path / "filler" / f"f{i:02d}.json", [good_record(600 + i)]))
        for i in range(60)
    ]
    drifted = str(week / "drift_incompatible.json")
    contract = RawSchemaRegistry(ingest_conf.ledger_dir).load()
    for files, budget in ((batch, 4), (batch + filler, 10)):
        (_, bad, _), jobs = jobs_of(
            spark,
            f"drift-gate-{tmp_path.name}-{len(files)}",
            lambda: split_compatible_files(spark, files, contract),
        )
        assert list(bad) == [drifted]
        assert jobs <= budget, (len(files), jobs)
    # a no-information file is compatible even when it alone is left to
    # re-infer the good files' schema
    empty_items = str(week / "empty_items.json")
    good, _, good_schema = split_compatible_files(spark, [drifted, empty_items], contract)
    assert good == [empty_items]
    assert not incompatible_columns(contract, good_schema)

    res = ingest_batch(spark, ingest_conf)
    assert drifted in res.drifted_files
    assert any(col == "payload" for col, _, _ in res.drifted_files[drifted])
    assert sorted(Path(p).name for p in res.succeeded_files) == sorted(
        Path(p).name for p in batch if p != drifted
    )

    # curated table grew by exactly the good files' rows; payload-derived
    # columns keep their struct-derived types
    curated = read_curated(spark, ingest_conf.curated_dir)
    assert curated.count() == rows_before + 4
    assert curated.filter(F.col("record_id") == "rec-500").count() == 1
    items = dict(
        curated.filter(F.col("record_id").isin("rec-501", "rec-502"))
        .select("record_id", F.size("transaction_items"))
        .collect()
    )
    assert items == {"rec-501": 0, "rec-502": 1}

    # ledger: drifted file QUARANTINED with a drift message; still in landing
    row = (
        Ledger(spark, ingest_conf.ledger_dir)
        .read()
        .filter(F.col("s3_key") == drifted)
        .first()
    )
    assert row.status == LedgerStatus.QUARANTINED
    assert "schema drift" in row.error_message
    assert Path(drifted).exists()


def test_widening_drift_flows_through(spark, ingest_conf):
    """FIXTURES.md variant 4: an int field later arriving as float widens the
    union schema instead of quarantining."""
    discover(spark, ingest_conf)
    ingest_batch(spark, ingest_conf)
    week = Path(ingest_conf.landing_dir) / "2024" / "week09"
    write_ndjson(
        week / "qty_int.json",
        [good_record(600, ts="2024-02-21T00:00:00Z", amount=5)],
    )
    discover(spark, ingest_conf)
    ingest_batch(spark, ingest_conf)
    write_ndjson(
        week / "qty_float.json",
        [good_record(601, ts="2024-02-22T00:00:00Z", amount=5.5)],
    )
    discover(spark, ingest_conf)
    res = ingest_batch(spark, ingest_conf)
    assert res.drifted_files == {}
    assert len(res.succeeded_files) == 1
    curated = read_curated(spark, ingest_conf.curated_dir)
    vals = {
        r.amount
        for r in curated.filter(F.col("amount").isNotNull()).select("amount").collect()
    }
    assert vals == {5.0, 5.5}


def test_merge_widens_map_value_types():
    """ADVICE r01: map value types must merge recursively — map<string,int> +
    map<string,double> widens to map<string,double>, not silently narrow."""
    from pyspark.sql import types as T

    from datalakejson_spark.plans.schema_evolution import merge_schemas

    old = T.StructType([T.StructField("m", T.MapType(T.StringType(), T.LongType()))])
    new = T.StructType([T.StructField("m", T.MapType(T.StringType(), T.DoubleType()))])
    merged = merge_schemas(old, new)
    assert merged["m"].dataType == T.MapType(T.StringType(), T.DoubleType())
    # nested: map values that are structs merge field-wise
    old2 = T.StructType(
        [T.StructField("m", T.MapType(T.StringType(), T.StructType(
            [T.StructField("a", T.LongType())])))]
    )
    new2 = T.StructType(
        [T.StructField("m", T.MapType(T.StringType(), T.StructType(
            [T.StructField("a", T.DoubleType()), T.StructField("b", T.StringType())])))]
    )
    merged2 = merge_schemas(old2, new2)
    vt = merged2["m"].dataType.valueType
    assert vt["a"].dataType == T.DoubleType() and vt["b"].dataType == T.StringType()


# --------------------------------------------------------------------------
# Round-6 (VERDICT #7): the full widening matrix, property-based + e2e
# --------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402

_SCALARS = st.sampled_from(
    [
        T.LongType(),
        T.IntegerType(),
        T.DoubleType(),
        T.FloatType(),
        T.DecimalType(10, 2),
        T.StringType(),
        T.BooleanType(),
        T.DateType(),
        T.TimestampType(),
        T.NullType(),
    ]
)


def _struct_of(dts):
    return T.StructType([T.StructField(f"f{i}", dt) for i, dt in enumerate(dts)])


_TYPES = st.recursive(
    _SCALARS,
    lambda kids: st.one_of(
        st.builds(T.ArrayType, kids),
        st.builds(_struct_of, st.lists(kids, min_size=0, max_size=3)),
        st.builds(T.MapType, _SCALARS, kids),
    ),
    max_leaves=6,
)


@settings(max_examples=300, deadline=None)
@given(a=_TYPES, b=_TYPES)
def test_lattice_compatible_iff_mergeable(a, b):
    """The drift gate and the merge must agree on the FULL recursive type
    lattice: compatible(a,b) ⟺ merge_schemas succeeds, and the merged type
    must accept data of both input types (so the widened curated column can
    hold every historical file). Also: the gate is symmetric, and
    incompatible_columns flags exactly the non-compatible single columns."""
    sa, sb = _struct_of([a]), _struct_of([b])
    ok = compatible(a, b)
    assert ok == compatible(b, a)  # symmetry
    assert ok == (not incompatible_columns(sa, sb))
    if ok:
        merged = merge_schemas(sa, sb)["f0"].dataType
        assert compatible(merged, a) and compatible(merged, b)
    else:
        with pytest.raises(ValueError):
            merge_schemas(sa, sb)


@settings(max_examples=150, deadline=None)
@given(a=_TYPES)
def test_lattice_identity_and_self_merge(a):
    """Every type is compatible with itself and self-merge is the type
    itself (up to in-kind widening, which must be idempotent)."""
    assert compatible(a, a)
    merged = merge_schemas(_struct_of([a]), _struct_of([a]))["f0"].dataType
    assert compatible(merged, a)
    again = merge_schemas(_struct_of([merged]), _struct_of([merged]))["f0"].dataType
    assert again == merged  # widening is idempotent


# JSON-expressible kind pool for the e2e matrix: name -> (sample_A, sample_B)
_E2E_POOL = {
    "long": (5, 7),
    "double": (5.5, 7.25),
    "string": ('"s1"', '"s2"'),
    "bool": ("true", "false"),
    "struct": ('{"k": 1}', '{"k": 2}'),
    "array": ("[1, 2]", "[3]"),
}
_E2E_COMPAT = {(a, b) for a in _E2E_POOL for b in _E2E_POOL if a == b} | {
    ("long", "double"),
    ("double", "long"),
}


def _pair_record(rid: int, ts: str, pairs, which: int) -> str:
    import json as _json

    fields = ", ".join(
        f'"p_{a}_{b}": {_E2E_POOL[b if which else a][which]}' for a, b in pairs
    )
    head = (
        f'{{"id": "rec-{rid}", "event_timestamp": "{ts}", "MODE": "train", '
    )
    return head + fields + "}"


def test_full_widening_matrix_e2e(spark, ingest_conf):
    """Every ordered kind pair of the JSON-expressible pool through the real
    pipeline: batch 1 establishes 36 pair columns at type A; the widening
    batch (all 8 compatible pairs at type B) flows through with widened
    dtypes; the drift batch (all 28 incompatible pairs at type B) is
    quarantined naming exactly those columns, and the curated lake keeps
    the original types — proven by reading it back."""
    discover(spark, ingest_conf)
    ingest_batch(spark, ingest_conf)

    week = Path(ingest_conf.landing_dir) / "2024" / "week10"
    all_pairs = [(a, b) for a in _E2E_POOL for b in _E2E_POOL]
    write_ndjson(
        week / "matrix_base.json",
        [_pair_record(700, "2024-02-23T00:00:00Z", all_pairs, 0)],
    )
    discover(spark, ingest_conf)
    res1 = ingest_batch(spark, ingest_conf)
    assert res1.drifted_files == {}

    compat = sorted(_E2E_COMPAT)
    write_ndjson(
        week / "matrix_widen.json",
        [_pair_record(701, "2024-02-24T00:00:00Z", compat, 1)],
    )
    discover(spark, ingest_conf)
    res2 = ingest_batch(spark, ingest_conf)
    assert res2.drifted_files == {}
    assert [Path(p).name for p in res2.succeeded_files] == ["matrix_widen.json"]

    incompat = sorted(set(all_pairs) - _E2E_COMPAT)
    drift_file = week / "matrix_drift.json"
    write_ndjson(
        drift_file, [_pair_record(702, "2024-02-25T00:00:00Z", incompat, 1)]
    )
    discover(spark, ingest_conf)
    res3 = ingest_batch(spark, ingest_conf)
    assert str(drift_file) in res3.drifted_files
    flagged = {col for col, _, _ in res3.drifted_files[str(drift_file)]}
    assert flagged == {f"p_{a}_{b}" for a, b in incompat}

    # The curated lake survived: both numeric-widening directions read back
    # as double with BOTH rows' values; non-drifted columns keep their kind;
    # the drift row never landed.
    curated = read_curated(spark, ingest_conf.curated_dir)
    dtypes = dict(curated.dtypes)
    assert dtypes["p_long_double"] == "double"
    assert dtypes["p_double_long"] == "double"
    assert dtypes["p_struct_struct"].startswith("struct")
    assert dtypes["p_array_array"].startswith("array")
    assert curated.filter(F.col("record_id") == "rec-702").count() == 0
    vals = {
        (r.a, r.b)
        for r in curated.filter(F.col("p_long_double").isNotNull())
        .select(F.col("p_long_double").alias("a"), F.col("p_double_long").alias("b"))
        .collect()
    }
    assert vals == {(5.0, 5.5), (7.25, 7.0)}


def test_map_value_drift_is_gated_not_fatal():
    """The hole the lattice property found: a map whose VALUE type drifted
    incompatibly must be flagged by the gate (quarantine path), not sail
    through compatible() and explode in merge_schemas mid-ingest."""
    old = _struct_of([T.MapType(T.StringType(), T.LongType())])
    new = _struct_of([T.MapType(T.StringType(), T.StructType([]))])
    assert not compatible(old["f0"].dataType, new["f0"].dataType)
    assert incompatible_columns(old, new) == [
        ("f0", "map<string,bigint>", "map<string,struct<>>")
    ]
