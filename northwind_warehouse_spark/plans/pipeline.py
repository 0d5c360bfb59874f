"""End-to-end incremental warehouse materialization — the engine's
equivalent of ``dbt run`` on the reference project.

Flow per run (reference: models/* + macros/audit_management/*):
  1. staging: build the batch's conformed relations — ``stg_orders``
     for the fact, the events change rows for the dim — lazily; staging
     writes nothing, and with schema-known loads (``catalog.read_parquet``)
     it starts no Spark job;
  2. dims: ``scd2_fold_commit`` reads the dim's high watermark from its
     latest log entry, SCD2-merges the newer change rows into the active
     slice (only affected keys recomputed) and commits the new version
     together with its new watermark (the newest change ``ts``) in one
     log entry; the closed history carries forward as hard links, and
     an empty change slice commits no version;
  3. facts: upsert the incoming orders by ``order_id``; they enter
     unresolved, and ONE customer lookup per batch resolves them
     together with the existing rows still on the dummy customer SK
     (reference: macros/fact_order_fail_lookup.sql); commit one version
     (partitioned by order_year for pruning) that rewrites only the
     years the batch touches and links the others.

The dim and fact stages write different tables from the same staged
relations, so ``run`` runs them at once: the dim stage in a thread of
its own, the fact stage in the caller's. Each stage has one commit
point, its log entry, created put-if-absent: a crash anywhere before it
leaves the table and its watermark as they were. Both stages are
``VersionedTable.update`` steps, so a stage that loses its version id
to a concurrent writer (the streaming SCD2 sink on the same dim)
rebuilds on the winner's version instead of dropping either commit.
Idempotent: re-running with no new data commits no dim version and a
fact version equal to the previous one, mirroring dbt's incremental
materialization semantics.
"""

from __future__ import annotations

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from northwind_warehouse_spark.catalog import load
from northwind_warehouse_spark.functions.hashing import surrogate_key
from northwind_warehouse_spark.operators.incremental import (
    AuditControl, incremental_merge_by_key, scd2_fold_commit,
)
from northwind_warehouse_spark.plans import medallion
from northwind_warehouse_spark.sources.lake import read_table, write_table
from northwind_warehouse_spark.sources.versioned import VersionedTable


class WarehousePipeline:
    """Materializes the medallion warehouse under ``lake_dir``."""

    DIM_USERS = "dim_users_scd2"
    FACT_ORDERS = "fact_orders"

    def __init__(self, spark: SparkSession, lake_dir: str):
        self.spark = spark
        self.lake = lake_dir.rstrip("/")
        self.audit = AuditControl(spark, f"{self.lake}/_audit/audit_control")

    def _vt(self, name: str) -> VersionedTable:
        return VersionedTable(self.spark, self.lake, name)

    # -- stages ------------------------------------------------------------

    def run_staging(self, sf_dir: str) -> tuple[DataFrame, DataFrame]:
        """The batch's conformed relations, lazy and unwritten:
        ``stg_orders`` for the fact and the events change rows for the
        dim. Schema-known loads make this step start no Spark job."""
        return medallion.stg_orders(self.spark, sf_dir), load(self.spark, sf_dir, "events")

    def run_dim_users(self, events: DataFrame) -> None:
        scd2_fold_commit(self._vt(self.DIM_USERS), events, medallion.users_scd2_spec())

    def run_fact_orders(self, orders: DataFrame, sf_dir: str) -> None:
        self._vt(self.FACT_ORDERS).update(
            lambda fact, _: self.refresh_failed_lookups(fact, orders, sf_dir),
            partition_by=("order_year",))

    def refresh_failed_lookups(self, fact: DataFrame | None, orders: DataFrame,
                               sf_dir: str) -> DataFrame | tuple[DataFrame, list[int]]:
        """``fact`` (None before the first commit) upserted by
        ``order_id`` with ``orders`` (``stg_orders`` rows), which enter
        unresolved; one customer lookup against ``sf_dir`` then resolves
        them together with the rows still on the dummy customer SK, e.g.
        after a late-arriving dimension load (reference:
        models/dwh/fact_order.sql, macros/fact_order_fail_lookup.sql).
        Rows already resolved are kept as they are.

        With a ``fact``, returns only the ``order_year`` partitions that
        hold an incoming order, the row it replaces or an unresolved row,
        and their years, so the commit carries the other years forward;
        finding them is one Spark job. The rows themselves are lazy: the
        caller's commit runs them."""
        lookup = medallion.CUSTOMER_LOOKUP_COLS
        incoming = medallion.fact_order_rows(
            orders.withColumns({c: F.lit(None).cast("string") for c in lookup})
        ).withColumn("order_year", F.year("order_date"))
        sk = F.col("customer_sk")
        unresolved = sk.isNull() | (sk == surrogate_key(F.lit(0)))
        if fact is None:
            return medallion.lookup_customer(self.spark, sf_dir, incoming, "customer_id", unresolved)
        touched = (fact.filter(unresolved)
                   .unionByName(fact.join(incoming.select("order_id"), "order_id", "left_semi"))
                   .select("order_year").unionByName(incoming.select("order_year")))
        years = sorted({r[0] for r in touched.collect()})
        rows = incremental_merge_by_key(fact.filter(F.col("order_year").isin(years)), incoming, ["order_id"])
        return medallion.lookup_customer(self.spark, sf_dir, rows, "customer_id", unresolved), years

    def run(self, sf_dir: str) -> None:
        """One batch: staging, then the dim stage in an
        ``InheritableThread`` (a caller's job group carries over) while
        this thread runs the fact stage. A stage's error is raised once
        both have ended."""
        orders, events = self.run_staging(sf_dir)
        errors = []

        def dim() -> None:
            try:
                self.run_dim_users(events)
            except BaseException as e:  # re-raised by the caller's thread
                errors.append(e)

        thread = InheritableThread(target=dim)
        thread.start()
        try:
            self.run_fact_orders(orders, sf_dir)
        finally:
            thread.join()
        if errors:
            raise errors[0]

    # -- reads -------------------------------------------------------------

    def table(self, name: str, version: int | None = None) -> DataFrame:
        return self._vt(name).read(version=version)


class CorpusPipeline:
    """End-to-end training-data corpus build (SURVEY.md §2C composed):

    raw documents → quality gate → exact dedup (keep min doc_id per
    fingerprint) → PII scrub → sliding-window chunking → deterministic
    train/val split → lake, partitioned by split so a trainer reads
    ``chunks/split=train/`` without touching validation data; plus a
    sequence-pack manifest (per-split concat-then-chunk pack ids) so the
    trainer's data loader knows each chunk's pack and offset up front.

    Every stage is one of the §2C operators — the pipeline is plain
    composition, no new semantics.
    """

    CHUNKS = "corpus_chunks"
    PACKS = "corpus_packs"
    PACK_BUDGET = 64

    def __init__(self, spark: SparkSession, lake_dir: str):
        self.spark = spark
        self.lake = lake_dir.rstrip("/")

    def run(self, sf_dir: str) -> DataFrame:
        from northwind_warehouse_spark.plans import llm

        kept = llm.quality_filter(self.spark, sf_dir).select("doc_id")
        docs = load(self.spark, sf_dir, "documents").join(kept, "doc_id", "left_semi")

        fingerprint = F.md5("text")
        from northwind_warehouse_spark.operators.dedup import exact_dedup

        unique_docs = exact_dedup(docs, fingerprint, [F.col("doc_id")]).drop("fingerprint")

        from northwind_warehouse_spark.plans.llm import redact_pii

        unique_docs = unique_docs.withColumn("text", redact_pii(F.col("text")))

        # chunk + split on the surviving docs
        toks = unique_docs.select("doc_id", F.split("text", " ").alias("w")).withColumn(
            "n", F.size("w").cast("bigint")
        )
        starts = F.expr("transform(sequence(0, (n - 1) div 10), i -> i * 10 + 1)")
        chunks = toks.select(
            "doc_id", F.posexplode(starts).alias("chunk_idx", "start"), "w"
        ).select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.concat_ws(" ", F.expr("slice(w, start, 20)")).alias("chunk_text"),
        )
        bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        ) % 100
        out = chunks.withColumn(
            "split", F.when(bucket < 90, F.lit("train")).otherwise(F.lit("val"))
        )
        path = f"{self.lake}/{self.CHUNKS}"
        write_table(out, path, partition_by=("split",))
        chunks_tbl = read_table(self.spark, path)

        # sequence-pack manifest: per split, concat chunks in
        # (doc_id, chunk_idx) order and cut every PACK_BUDGET tokens
        from pyspark.sql.window import Window

        w = (
            Window.partitionBy("split")
            .orderBy("doc_id", "chunk_idx")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        manifest = (
            chunks_tbl.withColumn("n_tok", F.size(F.split("chunk_text", " ")).cast("bigint"))
            .withColumn("off", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint"))
            .select(
                "split", "doc_id", "chunk_idx", "n_tok",
                F.expr(f"off div {self.PACK_BUDGET}").alias("pack_id"),
                (F.col("off") % self.PACK_BUDGET).alias("offset_in_pack"),
            )
        )
        write_table(manifest, f"{self.lake}/{self.PACKS}", partition_by=("split",))
        return chunks_tbl
