"""End-to-end incremental warehouse materialization — the engine's
equivalent of ``dbt run`` on the reference project.

Flow per run (reference: models/* + macros/audit_management/*):
  1. staging: conform raw tables → lake;
  2. dims: read the dim's high watermark from its latest manifest entry,
     incremental SCD2 merge of the newer change rows (only affected keys
     recomputed), and commit the new version together with its new
     watermark (the newest change ``ts``, or the parent's if there is
     none) in one manifest entry;
  3. facts: re-resolve existing rows still on the dummy customer SK
     against the current dim_customer (reference:
     macros/fact_order_fail_lookup.sql), upsert the incoming orders by
     ``order_id`` and commit one version (partitioned by order_year for
     pruning).

Each stage has one commit point, its manifest entry: a crash anywhere
before it leaves the table and its watermark as they were. Idempotent:
re-running with no new data commits versions equal to the previous ones
(merge of empty changes = existing), mirroring dbt's incremental
materialization semantics.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from northwind_warehouse_spark.catalog import load
from northwind_warehouse_spark.functions.hashing import num_str, surrogate_key
from northwind_warehouse_spark.operators.joins import maybe_broadcast
from northwind_warehouse_spark.operators.incremental import (
    AuditControl, high_watermark_filter, incremental_merge_by_key,
)
from northwind_warehouse_spark.operators.scd2 import scd2_from_change_stream, scd2_merge
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

    def _path(self, name: str) -> str:
        return f"{self.lake}/{name}"

    def _vt(self, name: str) -> VersionedTable:
        return VersionedTable(self.spark, self.lake, name)

    def _exists(self, name: str) -> bool:
        return bool(self._vt(name).versions())

    # -- stages ------------------------------------------------------------

    def run_staging(self, sf_dir: str) -> None:
        for name, builder in (
            ("stg_customer", medallion.stg_customer),
            ("stg_orders", medallion.stg_orders),
            ("stg_lineitem", medallion.stg_lineitem),
        ):
            write_table(builder(self.spark, sf_dir), self._path(name))

    def _user_changes(self, sf_dir: str, hwm: datetime) -> DataFrame:
        e = load(self.spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        return high_watermark_filter(e, "ts", hwm)

    def run_dim_users(self, sf_dir: str) -> None:
        entity = self.DIM_USERS
        hwm = self.audit.get(entity).hwm_date
        changes = self._user_changes(sf_dir, hwm)
        hash_col = surrogate_key("event_type", num_str("value"))
        kwargs = dict(
            key_cols=["user_id"], ts_col="ts", hash_col=hash_col,
            attr_cols=["event_type", "value"], tiebreak_cols=["event_id"],
            sk_name="user_sk",
        )
        vt = self._vt(entity)
        if self._exists(entity):
            dim = scd2_merge(vt.read(), changes, **kwargs)
        else:
            dim = scd2_from_change_stream(changes, **kwargs)
        new_hwm = changes.agg(F.max("ts")).collect()[0][0]
        # each run commits an immutable version with its watermark in one
        # manifest swap — no read/overwrite conflict, past runs stay
        # reproducible (time travel)
        vt.write(dim, watermark=new_hwm or hwm)

    def run_fact_orders(self, sf_dir: str) -> None:
        entity = self.FACT_ORDERS
        fact = medallion.fact_orders(self.spark, sf_dir).withColumn(
            "order_year", F.year("order_date")
        )
        vt = self._vt(entity)
        if self._exists(entity):
            existing = self.refresh_failed_lookups(
                vt.read(), medallion.dim_customer(self.spark, sf_dir))
            fact = incremental_merge_by_key(existing, fact, ["order_id"])
        vt.write(fact, partition_by=("order_year",))

    def refresh_failed_lookups(self, fact: DataFrame, dim: DataFrame) -> DataFrame:
        """``fact`` with its rows still on the dummy customer SK
        re-resolved against ``dim`` (reference:
        macros/fact_order_fail_lookup.sql) — e.g. after a late-arriving
        dimension load. Lazy: the caller's commit runs it."""
        dummy_sk = surrogate_key(F.lit(0))
        failed = fact.filter(F.col("customer_sk") == dummy_sk)
        dim = dim.select(
            F.col("customer_id").alias("_cid"), F.col("customer_sk").alias("_sk"),
            F.col("nation_name").alias("_nn"), F.col("region_name").alias("_rn"),
        )
        repaired = (
            failed.join(maybe_broadcast(dim), failed.customer_id == F.col("_cid"), "left")
            .withColumn("customer_sk", F.coalesce("_sk", dummy_sk))
            .withColumn("nation_name", F.coalesce("_nn", F.lit("Not Found")))
            .withColumn("region_name", F.coalesce("_rn", F.lit("Not Found")))
            .drop("_cid", "_sk", "_nn", "_rn")
        )
        return fact.filter(F.col("customer_sk") != dummy_sk).unionByName(repaired)

    def run(self, sf_dir: str) -> None:
        self.run_staging(sf_dir)
        self.run_dim_users(sf_dir)
        self.run_fact_orders(sf_dir)

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
