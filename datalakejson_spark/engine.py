"""DataLakeEngine — the one-object facade over both planes.

A user of the reference system interacts with: file drops → scheduled ingest
→ a catalog table → SQL/DataFrame queries → ML exports (diagram_1.txt,
diagram3). This facade packages that workflow:

    engine = DataLakeEngine(spark, IngestConfig(...))
    engine.discover()                      # register new landing files
    engine.ingest_until_drained()          # ledger-driven micro-batches
    engine.register_catalog()              # curated table + partitions
    engine.sql("SELECT ... FROM curated_records WHERE year=2024")
    engine.curated()                       # schema-evolved DataFrame
    engine.dedup_report(text_col=...)      # Tier C: near-dup candidates
    engine.dlq_summary()                   # monitoring surface
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.plans.ingest import (
    IngestConfig,
    IngestResult,
    deduplicate_replays,
    discover,
    ingest_batch,
    make_ledger,
    read_curated,
    run_until_drained,
    write_dlq_summary,
)
from datalakejson_spark.session import configure_runtime
from datalakejson_spark.sources.catalog import register_curated_table


class DataLakeEngine:
    def __init__(self, spark: SparkSession, conf: IngestConfig, table: str = "curated_records"):
        self.spark = configure_runtime(spark)
        self.conf = conf
        self.table = table
        self._fq_table: str | None = None

    # -- ingest plane -------------------------------------------------------
    def discover(self) -> int:
        return discover(self.spark, self.conf)

    def ingest_once(self) -> IngestResult:
        result = ingest_batch(self.spark, self.conf)
        self._fq_table = None  # new partitions/schema → re-register on next sql()
        return result

    def ingest_until_drained(self, max_runs: int = 100) -> list[IngestResult]:
        results = run_until_drained(self.spark, self.conf, max_runs=max_runs)
        self._fq_table = None  # new partitions/schema → re-register on next sql()
        return results

    def ledger(self):
        """The configured ledger backend (snapshot, or JDBC when
        ``conf.jdbc_url`` is set — S5)."""
        return make_ledger(self.spark, self.conf)

    def dlq_summary(self) -> DataFrame:
        return write_dlq_summary(self.spark, self.conf)

    def alarms(self, **thresholds) -> DataFrame:
        """The monitoring board (plans/monitor.py): one row per alarm class
        with (observed, threshold, triggered)."""
        from datalakejson_spark.plans.monitor import ingest_alarms

        return ingest_alarms(self.spark, self.conf, **thresholds)

    # -- consumption plane --------------------------------------------------
    def curated(self, resolve_replays: bool = False) -> DataFrame:
        df = read_curated(self.spark, self.conf.curated_dir)
        return deduplicate_replays(df) if resolve_replays else df

    def register_catalog(self, database: str = "datalake") -> str:
        self._fq_table = register_curated_table(
            self.spark, self.conf.curated_dir, table=self.table, database=database
        )
        # a temp view under the short name makes BOTH spellings resolve in
        # any query shape (no string rewriting of user SQL)
        self.spark.table(self._fq_table).createOrReplaceTempView(self.table)
        return self._fq_table

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc SQL over the curated lake (the Athena role,
        diagram_1.txt:98-101). (Re-)registers the catalog table when curated
        data has changed since the last registration, so new partitions and
        evolved columns are always visible."""
        if self._fq_table is None:
            self.register_catalog()
        return self.spark.sql(query)

    # -- Tier C -------------------------------------------------------------
    def dedup_report(self, text_col: str, df: DataFrame | None = None,
                     id_col: str = "record_id") -> DataFrame:
        """MinHash near-dup candidate pairs over a curated text column.
        ``text_col`` is required — there is no sensible default text field.
        Ids map through xxhash64 (64-bit: collision-safe far beyond the
        32-bit hash() whose birthday bound bites at ~10^5 rows)."""
        import pyspark.sql.functions as F

        from datalakejson_spark.functions.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        src = df if df is not None else self.curated()
        docs = src.select(
            F.xxhash64(id_col).alias("doc_id"),
            F.col(text_col).cast("string").alias("text"),
        )
        return lsh_candidate_pairs(minhash_signatures(docs))

    # -- lake maintenance ---------------------------------------------------
    def compact(self, **kwargs) -> dict[str, bool]:
        """Small-file compaction over the curated lake's leaf partitions
        (plans/compact.py); returns {partition: rewritten?}."""
        from datalakejson_spark.plans.compact import compact

        self._fq_table = None  # rewritten files → re-register on next sql()
        return compact(self.spark, self.conf.curated_dir, **kwargs)

    def compact_dedup_index(self, index_dir: str, **kwargs) -> dict:
        """Rewrite the incremental-dedup index pair into few large files
        (functions/incremental_dedup.compact_index): every staged append
        adds a file set and the per-batch audit pays the file count
        (measured +45% wall at 2048 files vs 32, SCALE.md). Crash-safe via the
        same staged publish the appends use; run it from the ingest runner
        between batches, the cadence the ledger uses for its own
        compaction."""
        from datalakejson_spark.functions.incremental_dedup import compact_index

        return compact_index(self.spark, index_dir, **kwargs)

    def rebuild_dedup_index(
        self, docs: DataFrame, index_dir: str, **kwargs
    ) -> dict:
        """Rebuild the incremental-dedup index pair from the curated corpus
        under the CURRENT minhash lane definition
        (functions/incremental_dedup.rebuild_index) — the executable answer
        when the lane-definition guard refuses a marker-less or drifted
        index. Staged, crash-self-healing, range-sorted output; run it
        offline like compaction."""
        from datalakejson_spark.functions.incremental_dedup import rebuild_index

        return rebuild_index(self.spark, docs, index_dir, **kwargs)

    def vacuum_replays(self) -> dict[str, int]:
        """Physically drop superseded crash-replay rows per partition."""
        from datalakejson_spark.plans.compact import vacuum_replays

        self._fq_table = None
        return vacuum_replays(self.spark, self.conf.curated_dir)

    def optimize(self, zorder_cols: list[str], **kwargs) -> dict[str, bool]:
        """Compaction + Z-order re-clustering in one staged publish
        (plans/compact.optimize_table): small files merged AND each
        partition sorted along the space-filling curve over ``zorder_cols``
        so multi-column filters skip row groups (plans/layout.py); readers
        never miss a row (plans/compact.py has the publish window)."""
        from datalakejson_spark.plans.compact import optimize_table

        self._fq_table = None
        return optimize_table(
            self.spark, self.conf.curated_dir, zorder_cols, **kwargs
        )

    # -- variant mode -------------------------------------------------------
    def curate_variant(self, **kwargs) -> dict[str, int]:
        """One schema-free VARIANT pass over the landing zone
        (plans/variant_ingest.py): no inference, lossless under drift, same
        DLQ contract. Complements the typed ledgered pipeline."""
        from datalakejson_spark.plans.variant_ingest import curate_variant

        return curate_variant(
            self.spark,
            self.conf.landing_dir,
            self.conf.curated_dir,
            self.conf.dlq_dir,
            **kwargs,
        )

    def drift_report(self, column: str = "record") -> DataFrame:
        """Per-source-file merged variant schema over a variant-mode curated
        lake — schema drift as a query, not an incident."""
        from datalakejson_spark.plans.variant_ingest import drift_report

        return drift_report(
            self.spark.read.parquet(self.conf.curated_dir), column
        )

    # -- training-data pipeline --------------------------------------------
    def prepare_training_corpus(
        self, docs: DataFrame | None = None, text_col: str = "record_id", **kwargs
    ) -> DataFrame:
        """dedup → CC clustering → quality gate → decontaminate → shard-pack
        (functions/llm_pipeline.py) over ``docs`` or a curated text column.
        Pass ``bench_docs=`` with the real eval suite for decontamination."""
        import pyspark.sql.functions as F

        from datalakejson_spark.functions.llm_pipeline import (
            prepare_training_corpus,
        )

        if docs is None:
            docs = self.curated(resolve_replays=True).select(
                F.xxhash64("record_id").alias("doc_id"),
                F.col(text_col).cast("string").alias("text"),
            ).withColumn("n_chars", F.length("text").cast("long"))
        return prepare_training_corpus(docs, **kwargs)

    def assign_split(self, docs: DataFrame) -> DataFrame:
        """Deterministic train/val/test split column (functions/curation.py)."""
        from datalakejson_spark.functions.curation import assign_split

        return assign_split(docs)

    def quality_gate(self, docs: DataFrame, **kwargs) -> DataFrame:
        """Per-document keep/drop verdict with a reason-code bitmask: l6
        shape rules + Gopher repetition cutoffs (functions/curation.py::
        quality_gate, the l22 query). ``newlines=True`` for real multi-line
        corpora. Join back on the id column to route kept/rejected rows;
        the streaming form is streaming/quality_stream.py.

        The id column must be UNIQUE and NON-NULL (duplicates multiply the
        internal signals join; NULLs drop rows). For raw landing data,
        freeze a surrogate key first — see streaming/quality_stream.py's
        ``_rid`` pattern."""
        from datalakejson_spark.functions.curation import quality_gate

        return quality_gate(docs, **kwargs)

    def export_shards(self, corpus: DataFrame, out_dir: str, **kwargs) -> None:
        """Materialize a packed corpus as one parquet file per shard_id
        (consumption/feed.py) — the layout ShardFeed and training jobs read."""
        from datalakejson_spark.consumption import export_shards

        export_shards(corpus, out_dir, **kwargs)

    def feed(self, shard_dir: str, **kwargs):
        """Deterministic, partition-pruned Arrow batch iterator over an
        exported shard lake; ``rank``/``world_size`` slice shards per
        training worker."""
        from datalakejson_spark.consumption import ShardFeed

        return ShardFeed(self.spark, shard_dir, **kwargs)
