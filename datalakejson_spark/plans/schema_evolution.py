"""Schema-evolution policy (SURVEY.md §1.3, §7.3).

The reference allows additive evolution (new keys → NULL backfill,
psuedo_code.txt:356-358) and compatible widening (INT→BIGINT, FLOAT→DOUBLE,
psuedo_code.txt:360), and names incompatible changes (STRING→STRUCT,
psuedo_code.txt:362) as an acknowledged open problem that would corrupt the
curated table. Our engine closes that gap: before appending, the batch schema
is checked against the curated schema; on conflict, the *offending files* are
identified (per-file inference on the conflicted columns only — the rare
path) and quarantined to the DLQ, while compatible files proceed.

Compatibility rules (JSON-inference type lattice):
- identical types: ok
- numeric widening long→double: ok (Parquet/catalog stores the wide type)
- anything↔struct, anything↔array, scalar-kind changes (e.g. string→long is
  NOT inferred ambiguously by Spark — strings stay strings — so a kind
  change means the data genuinely changed shape): incompatible
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datalakejson_spark import publish
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
    """May data of type ``new`` append into a column historically ``old``?"""
    ko, kn = _kind(old), _kind(new)
    if ko == kn:
        if ko == "struct":
            old_fields = {f.name: f.dataType for f in old.fields}
            return all(
                name not in old_fields or compatible(old_fields[name], f.dataType)
                for name, f in ((f.name, f) for f in new.fields)
            )
        if ko == "array":
            return compatible(old.elementType, new.elementType)
        if ko == "map":
            # must mirror merge_type's recursion: a map whose key/value type
            # drifted incompatibly would otherwise pass this gate and then
            # blow up merge_schemas mid-ingest instead of quarantining
            return compatible(old.keyType, new.keyType) and compatible(
                old.valueType, new.valueType
            )
        return True
    # numeric widening in either direction is mergeable (result: fractional)
    return {ko, kn} == {"integral", "fractional"}


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


def split_compatible_files(
    spark: SparkSession,
    paths: list[str],
    curated: T.StructType,
) -> tuple[list[str], dict[str, list[tuple[str, str, str]]], T.StructType | None]:
    """Partition ``paths`` into (compatible, {path: conflicts}, schema_of_good).

    Fast path: one batch-level inference; if it is compatible, every file is,
    and the inferred schema is returned for reuse (the caller must not infer
    again — inference is a full data scan). Slow path (a conflict exists):
    per-file inference to attribute it, then re-infer over the compatible
    subset — acceptable because conflicts are rare and the batch is bounded
    (batch_size files, sudo_code.txt:128).

    The per-file inferences are independent one-task jobs, so they run
    concurrently on a pool bounded by the session's parallelism instead of
    back to back (a 10k-file batch with one drifted file would otherwise
    queue 10k jobs). ``inheritable_thread_target`` hands each worker the
    caller's local properties and session tags, so the caller's job group,
    scheduler pool and job tags still mark every job."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    batch_schema = spark.read.json(paths).schema
    if not incompatible_columns(curated, batch_schema):
        return paths, {}, batch_schema

    def conflicts_of(p: str) -> list[tuple[str, str, str]]:
        return incompatible_columns(curated, spark.read.json(p).schema)

    workers = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        per_file = list(pool.map(inheritable_thread_target(spark)(conflicts_of), paths))
    good, bad = [], {}
    for p, conflicts in zip(paths, per_file):
        if conflicts:
            bad[p] = conflicts
        else:
            good.append(p)
    good_schema = spark.read.json(good).schema if good else None
    return good, bad, good_schema


def curated_schema(spark: SparkSession, curated_dir: str) -> T.StructType | None:
    try:
        return (
            spark.read.option("mergeSchema", "true").parquet(curated_dir).schema
        )
    except Exception:  # noqa: BLE001 — first batch: no curated lake yet
        return None


def merge_schemas(old: T.StructType, new: T.StructType) -> T.StructType:
    """Union-of-schemas with widening (the landing contract's evolution rule):
    fields from both sides; integral+fractional conflicts widen to double;
    structs/arrays merge recursively. Caller must have rejected incompatible
    fields first (``incompatible_columns``)."""

    def merge_type(a: T.DataType, b: T.DataType) -> T.DataType:
        ka, kb = _kind(a), _kind(b)
        if ka == kb == "struct":
            return merge_schemas(a, b)
        if ka == kb == "array":
            return T.ArrayType(merge_type(a.elementType, b.elementType))
        if ka == kb == "map":
            # recurse like arrays: map<string,int> + map<string,double> must
            # widen the value type, not silently keep the narrow one
            return T.MapType(
                merge_type(a.keyType, b.keyType),
                merge_type(a.valueType, b.valueType),
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

    fields: dict[str, T.DataType] = {f.name: f.dataType for f in old.fields}
    for f in new.fields:
        fields[f.name] = (
            merge_type(fields[f.name], f.dataType) if f.name in fields else f.dataType
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
        import pathlib

        self.path = pathlib.Path(root) / "_raw_schema.json"

    def load(self) -> T.StructType | None:
        try:
            return T.StructType.fromJson(
                __import__("json").loads(self.path.read_text())
            )
        except FileNotFoundError:
            return None

    def save(self, schema: T.StructType) -> None:
        import json
        import os

        # the dir normally exists (snapshot ledger home), but with a JDBC
        # ledger nothing else creates it
        self.path.parent.mkdir(parents=True, exist_ok=True)
        from datalakejson_spark.fsutil import atomic_write_json

        atomic_write_json(str(self.path), schema.jsonValue())
