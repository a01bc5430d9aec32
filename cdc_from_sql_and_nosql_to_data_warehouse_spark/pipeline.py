"""End-to-end pipeline — the reference's whole deployment as one
driver program (SURVEY.md §3; A21/A22 orchestration collapses to plain
sequential code + streaming triggers).

Reference topology (README.md:9-14):
  EventBridge(5 min) → load CSV → RDS MySQL → binlog → DMS → Redshift
  EventBridge(5 min) → load JSON → DynamoDB → stream → Lambda → S3 →
  COPY → Redshift

Engine topology (this function):
  tick: CSV → normalize → typed parse → bronze append  (SQL-path leg)
  tick: NDJSON docs → keyed upsert table               (DynamoDB leg)
  change stream (file drop) → append warehouse (reference semantics)
                            → merge warehouse (corrected semantics)
  count-parity report (A20, implemented as intended)

Run-once setup (A22) happens before the streams start; re-running a
tick reproduces the reference's documented duplicate accumulation on
the append path while the merge path stays keyed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import normalize as N
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import readers
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc

TXNS_TYPES = {
    "date": "date",
    "value_date": "date",
    "chip_used": "bool",
    "withdrawal_amt": "money",
    "deposit_amt": "money",
    "balance_amt": "money",
}


@dataclass
class PipelinePaths:
    workdir: str

    @property
    def bronze_txns(self) -> str:
        return f"{self.workdir}/bronze_txns"

    @property
    def keyed_trades(self) -> str:
        return f"{self.workdir}/keyed_trades"

    @property
    def warehouse_append(self) -> str:
        return f"{self.workdir}/warehouse_trades_append"

    @property
    def warehouse_merge(self) -> str:
        return f"{self.workdir}/warehouse_trades_merge"

    @property
    def drop_dir(self) -> str:
        return f"{self.workdir}/change_drop"

    @property
    def ckpt_append(self) -> str:
        return f"{self.workdir}/ckpt_append"

    @property
    def ckpt_merge(self) -> str:
        return f"{self.workdir}/ckpt_merge"


def tick_sql_path(spark: SparkSession, csv_path: str, paths: PipelinePaths) -> None:
    """One 5-minute tick of the SQL-source leg: parse CSV, normalize
    header, typed-parse the dialect, append to the bronze table (no PK —
    rows accumulate, reference README.md:11)."""
    raw = readers.read_csv_normalized(spark, csv_path)
    typed = N.typed_parse(raw, TXNS_TYPES)
    typed.write.mode("append").parquet(paths.bronze_txns)


def _read_keyed(spark: SparkSession, paths: PipelinePaths) -> DataFrame:
    """The keyed table, typed by the schema ``tick_nosql_path`` always
    writes it with — no schema-inference job."""
    return spark.read.schema(readers.TRADES_SCHEMA).parquet(paths.keyed_trades)


def tick_nosql_path(spark: SparkSession, ndjson_path: str, paths: PipelinePaths) -> None:
    """One tick of the NoSQL-source leg: load documents, upsert by id
    (idempotent — table stays 8 rows however often it runs, A8)."""
    from pyspark.sql import functions as F

    docs = readers.read_documents_json(spark, ndjson_path).drop("event_time")
    try:
        current = _read_keyed(spark, paths).withColumn("__seq", F.lit(1))
        incoming = docs.withColumn("__seq", F.lit(2))  # put_item: new image wins
        merged = cdc.latest_wins(current.unionByName(incoming), "id", "__seq").drop("__seq")
    except Exception:
        # first tick (no table yet): deterministic survivor per id —
        # lexicographic max over the non-key struct, never
        # dropDuplicates (whose survivor depends on partitioning)
        others = [c for c in docs.columns if c != "id"]
        merged = (
            docs.groupBy("id")
            .agg(F.max(F.struct(*others)).alias("__s"))
            .select("id", "__s.*")
        )
    merged.persist()
    merged.count()
    merged.write.mode("overwrite").parquet(paths.keyed_trades)
    merged.unpersist()


def run_change_streams(spark: SparkSession, paths: PipelinePaths) -> None:
    """Drain the change-file drop folder through BOTH warehouse modes
    (availableNow = the scheduled-tick trigger, A21).  A drain still
    running after 300 s is stopped and raises ``TimeoutError``."""
    drains = (
        ("append", cdc.start_append_stream, paths.warehouse_append, paths.ckpt_append),
        ("merge", cdc.start_merge_stream, paths.warehouse_merge, paths.ckpt_merge),
    )
    for name, start, out_dir, ckpt in drains:
        q = start(cdc.read_change_stream(spark, paths.drop_dir), out_dir, ckpt)
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(f"{name} change stream into {out_dir} did not drain within 300 s")


def parity_report(spark: SparkSession, paths: PipelinePaths) -> DataFrame:
    """A20: source (keyed table) vs target (merge warehouse) row parity."""
    source = _read_keyed(spark, paths)
    target = cdc.read_merge_table(spark, paths.warehouse_merge)
    return cdc.count_parity(source, target)
