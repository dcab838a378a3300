"""Schema-evolution policy (SURVEY.md §1.3, §7.3).

The reference allows additive evolution (new keys → NULL backfill,
psuedo_code.txt:356-358) and compatible widening (INT→BIGINT, FLOAT→DOUBLE,
psuedo_code.txt:360), and names incompatible changes (STRING→STRUCT,
psuedo_code.txt:362) as an acknowledged open problem that would corrupt the
curated table. Our engine closes that gap: before appending, the batch schema
is checked against the landing contract; on conflict, one aggregate infers
every file's schema at once to find the *offending files* (the rare path),
which are quarantined to the DLQ, while compatible files proceed.

Compatibility rules (JSON-inference type lattice):
- identical types: ok
- void (no value seen: a null or an empty array element) merges to the
  other side, so a file that says nothing about a column never conflicts
- numeric widening long→double: ok (Parquet/catalog stores the wide type)
- anything↔struct, anything↔array, scalar-kind changes (e.g. string→long is
  NOT inferred ambiguously by Spark — strings stay strings — so a kind
  change means the data genuinely changed shape): incompatible
"""

from __future__ import annotations

import json
import os
import pathlib
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datalakejson_spark import publish
from datalakejson_spark.fsutil import atomic_write_json, uri_path
from datalakejson_spark.plans.variant_ingest import LINEAGE_COL, drift_report
from datalakejson_spark.session import configure_runtime


def _kind(dt: T.DataType) -> str:
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "integral"
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return "fractional"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.StringType,)):
        return "string"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "datetime"
    return dt.simpleString()


def compatible(old: T.DataType, new: T.DataType) -> bool:
    """May data of type ``new`` append into a column historically ``old``?
    Exactly when the two types merge (``_merge_type``), so the gate and the
    contract's evolution rule cannot disagree."""
    try:
        _merge_type(old, new)
    except ValueError:
        return False
    return True


def incompatible_columns(
    curated: T.StructType, batch: T.StructType
) -> list[tuple[str, str, str]]:
    """(column, curated_type, batch_type) for every conflicted top-level
    column. New columns are never conflicts (additive evolution)."""
    cur = {f.name: f.dataType for f in curated.fields}
    out = []
    for f in batch.fields:
        if f.name in cur and not compatible(cur[f.name], f.dataType):
            out.append((f.name, cur[f.name].simpleString(), f.dataType.simpleString()))
    return out


# ``schema_of_variant`` spells a JSON object OBJECT<...> and a kind conflict
# VARIANT; names that need quoting are back-quoted and skipped here. An
# empty object says nothing (JSON inference drops it), and conflicting
# kinds widen to string, as JSON inference widens them.
_VARIANT_TOKEN = re.compile(r"(`(?:[^`]|``)*`)|\bOBJECT<>|\bOBJECT<|\bVARIANT\b(?!:)")
_DDL_OF = {"OBJECT<>": "VOID", "OBJECT<": "STRUCT<", "VARIANT": "STRING"}


def _row_type(variant_schema: str) -> T.StructType:
    """The row type of one file's ``schema_of_variant_agg`` over its lines,
    each wrapped in an array (see :func:`split_compatible_files`)."""
    ddl = _VARIANT_TOKEN.sub(lambda m: m.group(1) or _DDL_OF[m.group(0)], variant_schema)
    rows = T._parse_datatype_string(ddl)
    if isinstance(rows, T.ArrayType) and isinstance(rows.elementType, T.StructType):
        return rows.elementType
    return T.StructType()


def split_compatible_files(
    spark: SparkSession,
    paths: list[str],
    contract: T.StructType,
) -> tuple[list[str], dict[str, list[tuple[str, str, str]]], T.StructType | None]:
    """Partition ``paths`` into (compatible, {path: conflicts}, schema_of_good).
    An empty ``contract`` (the first batch) conflicts with nothing.

    Fast path: one batch-level inference; if it is compatible, every file is,
    and the inferred schema is returned for reuse (the caller must not infer
    again — inference is a full data scan). Slow path (a conflict exists):
    one aggregate over the batch's lines, grouped by file, merges each
    file's JSON types into its schema. That is the reduce over most specific
    supertypes that JSON inference runs over a whole batch (Spark SQL,
    SIGMOD 2015 §5.1), keyed by file, so attribution costs the same jobs at
    any file count. Then the compatible subset is re-inferred, with fields
    that hold no value dropped: a column that a file leaves null or empty
    passed attribution, and must not conflict with the contract there."""
    batch_schema = spark.read.json(paths).schema
    if not incompatible_columns(contract, batch_schema):
        return paths, {}, batch_schema

    # JSON inference reads an object line as a row and an array line as its
    # rows; any other line is a corrupt record and carries no schema
    line = F.col("value")
    doc = F.when(line.rlike(r"^\s*\{"), F.concat(F.lit("["), line, F.lit("]"))).when(
        line.rlike(r"^\s*\["), line
    )
    lines = spark.read.text(paths).select(
        F.try_parse_json(doc).alias("record"), F.input_file_name().alias(LINEAGE_COL)
    )
    schema_of = {
        uri_path(r[LINEAGE_COL]): r.merged_schema for r in drift_report(lines).collect()
    }
    conflicts = {
        s: incompatible_columns(contract, _row_type(s)) for s in set(schema_of.values())
    }
    bad = {p: conflicts[schema_of[p]] for p in paths if conflicts.get(schema_of.get(p))}
    good = [p for p in paths if p not in bad]
    good_schema = (
        spark.read.option("dropFieldIfAllNull", True).json(good).schema if good else None
    )
    return good, bad, good_schema


def _merge_type(a: T.DataType, b: T.DataType) -> T.DataType:
    """The type that holds data of both ``a`` and ``b``; ValueError when no
    type does (an incompatible change)."""
    ka, kb = _kind(a), _kind(b)
    if ka == "void":
        return b
    if kb == "void":
        return a
    if ka == kb == "struct":
        return merge_schemas(a, b)
    if ka == kb == "array":
        return T.ArrayType(_merge_type(a.elementType, b.elementType))
    if ka == kb == "map":
        # recurse like arrays: map<string,int> + map<string,double> must
        # widen the value type, not silently keep the narrow one
        return T.MapType(
            _merge_type(a.keyType, b.keyType),
            _merge_type(a.valueType, b.valueType),
        )
    if ka == kb:
        # prefer the wider scalar within a kind
        if ka == "integral":
            return T.LongType()
        if ka == "fractional":
            return T.DoubleType()
        return a
    if {ka, kb} == {"integral", "fractional"}:
        return T.DoubleType()
    raise ValueError(f"incompatible merge: {a.simpleString()} vs {b.simpleString()}")


def merge_schemas(old: T.StructType, new: T.StructType) -> T.StructType:
    """Union-of-schemas with widening (the landing contract's evolution rule):
    fields from both sides; integral+fractional conflicts widen to double;
    structs/arrays merge recursively. Caller must have rejected incompatible
    fields first (``incompatible_columns``)."""
    fields: dict[str, T.DataType] = {f.name: f.dataType for f in old.fields}
    for f in new.fields:
        fields[f.name] = (
            _merge_type(fields[f.name], f.dataType) if f.name in fields else f.dataType
        )
    return T.StructType([T.StructField(n, dt, True) for n, dt in fields.items()])


def read_parquet_union(
    spark: SparkSession, base: str, rels: list[str] | None = None
) -> DataFrame:
    """Union-of-schemas read of the parquet files ``rels`` under ``base``
    (all of them when None), NULL-backfilled (diagram3:110). ``mergeSchema``
    belongs on the READ (SURVEY.md §1.3), but it cannot merge a column that
    widened its physical type (INT64 vs DOUBLE, psuedo_code.txt:360). Then:

    1. group the data files by their footer schema (driver-side pyarrow
       metadata reads — cheap; at very large file counts fan this out as
       an RDD over footers),
    2. read each homogeneous group (no merging needed, ``basePath`` keeps
       the hive partition columns),
    3. cast every group to the widened union schema and unionByName.

    One logical plan, no data rewrite; old files upcast lazily at scan
    time. Hidden (``_``/``.``) dirs such as publish stages are skipped by
    Spark's file index and by :func:`publish.staged_files` alike."""
    import pyarrow.parquet as pq
    from functools import reduce

    from pyspark.sql.pandas.types import from_arrow_schema

    configure_runtime(spark)
    paths = [base] if rels is None else [os.path.join(base, r) for r in rels]
    try:
        df = spark.read.options(mergeSchema="true", basePath=base).parquet(*paths)
        df.schema  # force schema resolution (merge failures surface here)
        return df
    except Exception:  # noqa: BLE001 — widened physical types
        pass
    groups: dict[str, tuple[T.StructType, list[str]]] = {}
    for rel in publish.staged_files(base) if rels is None else rels:
        path = os.path.join(base, rel)
        arrow_schema = pq.read_schema(path)
        key = str(arrow_schema)
        if key in groups:
            groups[key][1].append(path)
        else:
            groups[key] = (from_arrow_schema(arrow_schema), [path])
    if not groups:
        raise FileNotFoundError(f"no parquet files under {base}")

    target = reduce(merge_schemas, (s for s, _ in groups.values()))
    frames = []
    for _, (schema, files) in groups.items():
        df = spark.read.option("basePath", base).parquet(*files)
        have = dict(zip(df.columns, df.columns))
        cols = [
            (F.col(f.name).cast(f.dataType) if f.name in have
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in target.fields
        ]
        # carry partition columns (not in footers) through unchanged
        part_cols = [c for c in df.columns if c not in {f.name for f in target.fields}]
        frames.append(df.select(*cols, *part_cols))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


class RawSchemaRegistry:
    """Persisted union of all landing-file schemas — the landing-zone
    contract the drift check compares against (the Glue-Data-Catalog role
    for the RAW side, psuedo_code.txt:314-365 Q&A). Atomic single-file
    replace, same crash-safety as the ledger pointer."""

    def __init__(self, root: str):
        self.path = pathlib.Path(root) / "_raw_schema.json"

    def load(self) -> T.StructType:
        """The contract; empty (nothing conflicts) before the first batch."""
        try:
            return T.StructType.fromJson(json.loads(self.path.read_text()))
        except FileNotFoundError:
            return T.StructType()

    def save(self, schema: T.StructType) -> None:
        # the dir normally exists (snapshot ledger home), but with a JDBC
        # ledger nothing else creates it
        self.path.parent.mkdir(parents=True, exist_ok=True)
        atomic_write_json(str(self.path), schema.jsonValue())
