"""CDC core — change-event model and apply semantics (SURVEY.md §2.1
A8-A17, §3.2), shared between batch and streaming.

The reference's NoSQL pipeline: DynamoDB stream records
{eventName ∈ {INSERT, MODIFY, REMOVE}, newImage} are filtered
(REMOVE dropped, unknown → error,
reference: source/write_dynamodb_stream_to_s3_lambda/handler.py:27-38),
staged as NDJSON files with timestamped names (:40-58), and blindly
COPY-appended into the warehouse (load_s3_files…/handler.py:54-71) —
so duplicates accumulate and deletes never propagate (README.md:30).

This module implements BOTH semantics:
- ``append`` mode reproduces the reference (duplicates accumulate,
  REMOVE dropped);
- ``merge`` mode is the corrected apply: per-key latest-wins by
  sequence, REMOVE deletes.

All transformations are plain DataFrame→DataFrame functions, applied
identically to batch frames and to streaming micro-batches via
``foreachBatch`` — the Structured Streaming model (repo:PAPERS.md,
SIGMOD'18).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned as V
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import TRADES_SCHEMA

ALLOWED_EVENTS = ("INSERT", "MODIFY")

# The reference's batch_size=100 event-source mapping
# (cdk_infrastructure/__init__.py:441); session.py ties Spark's
# parallel-listing threshold to it.
MAX_FILES_PER_TRIGGER = 100

# Change-event envelope (FIXTURES.md §1.3): seq is the monotonic
# per-key order carrier — in the reference it's the staged file's
# timestamped name (write_dynamodb_stream_to_s3_lambda/handler.py:47).
CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("eventName", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("newImage", TRADES_SCHEMA, True),
        T.StructField("removedId", T.StringType(), True),
    ]
)


def split_change_events(
    events: DataFrame, allowed: tuple[str, ...] = ALLOWED_EVENTS, keep_remove: bool = False
) -> tuple[DataFrame, DataFrame]:
    """A10: keep INSERT/MODIFY (and REMOVE when merging), route unknown
    event names to an error channel instead of the reference's raise —
    a per-row raise would kill the whole job on one bad record at scale.

    The split is EXHAUSTIVE: a NULL eventName (decode_debezium maps
    unknown op codes to null exactly so it lands here; PERMISSIVE-mode
    corrupt NDJSON parses to all-null rows) fails ``isin`` with NULL,
    which a plain ``~isin`` filter would also drop — so the invalid
    side null-coalesces the predicate and catches everything the valid
    side doesn't (review-caught: events vanishing from BOTH channels)."""
    known = allowed + (("REMOVE",) if keep_remove else ())
    is_known_any_mode = F.col("eventName").isin(*(allowed + ("REMOVE",)))
    valid = events.filter(F.col("eventName").isin(*known))
    invalid = events.filter(~F.coalesce(is_known_any_mode, F.lit(False)))
    return valid, invalid


def latest_wins(
    df: DataFrame, key: str, seq: str = "seq", tiebreak: list | None = None
) -> DataFrame:
    """A8 upsert semantics as a batch op: one row per key, max-seq image.
    Single shuffle on the key; at 100 TB pre-bucketing the table by the
    key makes this shuffle-free.  ``tiebreak`` appends deterministic
    secondary sort columns for sources whose seq can collide (e.g.
    Debezium ts_ms — two same-millisecond changes to one key); without
    one, equal-seq winners are partitioning-dependent."""
    order = [F.col(seq).desc(), *(tiebreak or [])]
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# Target base rows merge at a sentinel BELOW any valid event seq, so a
# real change at seq=0 (or any seq) deterministically beats the base row
# instead of tying with it.
_BASE_SEQ = -(2**63)


def apply_changes(
    target: DataFrame | None,
    changes: DataFrame,
    key: str = "id",
    seq: str = "seq",
    mode: str = "merge",
    removed_key: str = "removedId",
) -> DataFrame:
    """Apply a batch of change events to a (possibly empty) target.

    ``append``: reference semantics — INSERT/MODIFY images appended
    blindly, REMOVE dropped, duplicates accumulate (A14).
    ``merge``: corrected semantics — per-key latest event wins; a
    REMOVE as the latest event deletes the key (B36).

    ``key`` names the merge column both inside ``newImage`` and on the
    target; ``removed_key`` is the top-level column carrying the key of
    a REMOVE event (whose newImage is null).
    """
    if mode not in ("append", "merge"):
        raise ValueError(f"unknown apply mode: {mode}")

    if mode == "append":
        valid, _ = split_change_events(changes, keep_remove=False)
        images = valid.select(F.col("newImage.*"))
        return target.unionByName(images) if target is not None else images

    valid, _ = split_change_events(changes, keep_remove=True)
    flat = valid.select(
        F.coalesce(F.col(f"newImage.{key}"), F.col(removed_key)).alias("__key"),
        F.col(seq).alias("__seq"),
        (F.col("eventName") == "REMOVE").alias("__is_remove"),
        F.col("newImage").alias("__img"),
    )
    # an event with a known name but NO key carrier (null image AND null
    # removedId) cannot be merged — excluding it here keeps the single
    # NULL "key" from collecting garbage rows; the streaming sinks route
    # such rows to the error channel BEFORE apply (errors_dir)
    flat = flat.filter(F.col("__key").isNotNull())
    if target is not None:
        # ADDITIVE schema evolution: the change images and the target
        # may each carry columns the other lacks (a new column added
        # upstream, or a legacy column no longer sent).  Align both
        # __img structs to the UNION of field names, null-filling the
        # missing side, so the union below cannot fail with
        # INCOMPATIBLE_COLUMN_TYPE and a later-added column survives
        # the merge instead of wedging the stream.  Type CHANGES to an
        # existing column are not resolved here (they still fail
        # loudly — silent cast-widening hides real producer bugs).
        img_schema = {
            f.name: f.dataType
            for f in valid.schema["newImage"].dataType.fields
        }
        tgt_schema = {f.name: f.dataType for f in target.schema.fields}
        all_names = list(img_schema) + [
            c for c in target.columns if c not in img_schema
        ]

        def _aligned(schema: dict, col_of) -> F.Column:
            return F.struct(
                *[
                    (
                        col_of(name)
                        if name in schema
                        else F.lit(None).cast(
                            img_schema.get(name) or tgt_schema[name]
                        )
                    ).alias(name)
                    for name in all_names
                ]
            )

        base = target.select(
            F.col(key).alias("__key"),
            F.lit(_BASE_SEQ).cast("long").alias("__seq"),
            F.lit(False).alias("__is_remove"),
            _aligned(tgt_schema, F.col).alias("__img"),
        )
        flat = flat.withColumn(
            "__img", _aligned(img_schema, lambda n: F.col(f"__img.{n}"))
        )
        flat = base.unionByName(flat)
    # seq ties resolve deterministically: REMOVE beats an image at the
    # same seq (delete-wins, the conservative CDC resolution — a
    # resurrected deleted row is worse than a dropped same-instant
    # update), then a content hash so equal-seq images can never be
    # partitioning-dependent
    latest = latest_wins(
        flat,
        "__key",
        "__seq",
        tiebreak=[
            F.col("__is_remove").desc(),
            F.xxhash64(F.to_json(F.col("__img"))).desc(),
        ],
    )
    return latest.filter(~F.col("__is_remove")).select(F.col("__img.*"))


def snapshot_union_cdc(
    snapshot: DataFrame, changes: DataFrame, key: str = "id", seq: str = "seq"
) -> DataFrame:
    """A17 full-load-and-cdc: initial snapshot overridden by any later
    change images (DMS migration_type='full-load-and-cdc',
    reference: cdk_infrastructure/__init__.py:260)."""
    return apply_changes(snapshot, changes, key=key, seq=seq, mode="merge")


# ------------------------------------------------------------ streaming


def read_change_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = MAX_FILES_PER_TRIGGER
) -> DataFrame:
    """A9: micro-batch change-stream source — a file-drop folder stands
    in for the DynamoDB stream / S3 staging protocol (one NDJSON file
    per tick, reference handler.py:44-58), at most
    ``MAX_FILES_PER_TRIGGER`` files per micro-batch."""
    return (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )


def start_append_stream(
    changes: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    errors_dir: str | None = None,
):
    """A12/A14 append mode as a streaming sink: filtered change images
    appended to parquet; the checkpoint replaces the reference's
    move-to-processed file state machine (A15) — offsets make replay
    idempotent without renaming files.

    ``errors_dir``: where unknown/corrupt events land as NDJSON (the
    error channel made REAL — a split whose invalid side is discarded
    is silent data loss with extra steps).  foreachBatch is used so
    both sides of the split write from one micro-batch.  The DATA side
    stays exactly-once under replay: each batch OVERWRITES its own
    ``batch_id=N`` partition subdir, so a crash after the write but
    before the checkpoint commit converges on redo instead of
    duplicating rows (a plain ``mode('append')`` here silently
    downgraded the main output to at-least-once; advisory r3).  Read
    the table with ``spark.read.parquet(out_dir)`` — partition
    discovery exposes ``batch_id`` as an extra bigint column (drop it,
    or keep it as free write lineage).  Error writes remain
    at-least-once (append), the right trade for a diagnostics feed."""
    if errors_dir is None:
        valid, _ = split_change_events(changes)
        images = valid.select(F.col("newImage.*"))
        writer = (
            images.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _append(batch: DataFrame, batch_id: int) -> None:
        # persist: the two sink actions below would otherwise each
        # re-scan the micro-batch's source files (measured: doubled
        # numInputRows and doubled feed I/O in tools/stream_bench.py)
        batch = batch.persist()
        try:
            valid, invalid = split_change_events(batch)
            invalid.write.mode("append").json(errors_dir)
            valid.select(F.col("newImage.*")).write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        finally:
            batch.unpersist()

    writer = changes.writeStream.foreachBatch(_append).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _key_bucket(col: F.Column, n_buckets: int) -> F.Column:
    """Stable key→bucket mapping (xxhash64 is deterministic across
    sessions/partitionings, unlike monotonically_increasing_id)."""
    return F.pmod(F.xxhash64(col.cast("string")), F.lit(n_buckets)).cast("int")


_SCHEMA_FILE = "_SCHEMA"


def _read_schema(table_dir: str) -> T.StructType | None:
    """The merge table's ``_SCHEMA`` sidecar (``StructType.json()`` of
    its rows, ``__bucket`` included), read on the driver with no Spark
    job; None for a table written before the sidecar existed."""
    try:
        with open(os.path.join(table_dir, _SCHEMA_FILE)) as fh:
            return T.StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return None


def _read_version(spark: SparkSession, table_dir: str, committed: int) -> DataFrame:
    """Version ``committed`` typed by the sidecar (inference cannot read
    an all-keys-REMOVEd version: it holds no parquet file), or by
    inference when the table has none."""
    schema = _read_schema(table_dir)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(table_dir, f"_v{committed}"))


def read_merge_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read a merge-mode target without its internal bucket column.

    PURE READ: resolves the version pointer and reads that immutable
    version directory — no repair, no mutation, no race with a live
    writer (the prior two-rename swap protocol let a concurrent
    reader's repair pass delete a writer's in-flight temp, silently
    destroying a bucket; review-caught, eliminated by construction
    here).  The ``_SCHEMA`` JSON sidecar types the read, so it launches
    no schema-inference job and an all-keys-REMOVEd table reads as a
    typed empty frame; a table without one reads by inference."""
    committed = V.current_version(table_dir)
    if committed < 1:
        raise FileNotFoundError(f"merge table {table_dir} has no published version")
    return _read_version(spark, table_dir, committed).drop("__bucket")


def start_merge_stream(
    changes: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key: str = "id",
    available_now: bool = True,
    n_buckets: int = 16,
    errors_dir: str | None = None,
    keep_versions: int = 2,
):
    """B36 apply-changes via foreachBatch, INCREMENTAL: the target is
    hash-partitioned on ``__bucket = xxhash64(key) % n_buckets`` and
    each micro-batch merges + rewrites ONLY the buckets containing the
    batch's keys.  Per-batch I/O is O(touched buckets), not O(table) —
    a full-table read-modify-write per micro-batch is the classic
    100 TB killer (on a lakehouse this same body is a Delta/Iceberg
    MERGE, which prunes files the same way).

    Publication uses the VERSIONED-TABLE protocol (sources/versioned):
    each batch stages a complete new version — rewritten touched
    buckets plus HARD LINKS to the untouched buckets' files (metadata
    cost only) — then flips the pointer atomically.  Readers resolve
    the pointer, so there is no crash window and no reader/writer
    race; a crash anywhere before the flip leaves the table at the
    prior version, and checkpoint replay of the idempotent latest-wins
    merge converges.  Old versions are vacuumed down to
    ``keep_versions`` (hard links make them near-free while present).

    A commit whose merged schema differs from the ``_SCHEMA`` JSON
    sidecar (or finds none) replaces it atomically before publishing.

    Error channel: unknown-eventName, corrupt (all-null), and
    keyless-but-valid events are excluded from the merge and appended
    to ``errors_dir`` as NDJSON when given (at-least-once on replay).
    """

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            valid, invalid = split_change_events(batch, keep_remove=True)
            batch_key = F.coalesce(F.col(f"newImage.{key}"), F.col("removedId"))
            keyless = valid.filter(batch_key.isNull())
            valid = valid.filter(batch_key.isNotNull())
            if errors_dir is not None:
                invalid.unionByName(keyless).write.mode("append").json(errors_dir)
            # touched buckets from the rows that will actually merge —
            # error rows must not force no-op bucket rewrites
            touched = sorted(
                r["b"]
                for r in valid.select(_key_bucket(batch_key, n_buckets).alias("b"))
                .distinct()
                .collect()
            )
            if not touched:
                return
            os.makedirs(table_dir, exist_ok=True)
            committed = V.current_version(table_dir)
            V._clean_orphans(table_dir, committed)
            cur_dir = os.path.join(table_dir, f"_v{committed}")
            if committed >= 1:
                # sidecar-typed: inference over an all-keys-REMOVEd
                # version wedged the stream under replay (advisory r3);
                # partition pruning: only the touched bucket dirs are read
                current = (
                    _read_version(spark, table_dir, committed)
                    .filter(F.col("__bucket").isin(touched))
                    .drop("__bucket")
                )
            else:
                current = None
            merged = apply_changes(current, valid, key=key, mode="merge")
            merged = merged.withColumn("__bucket", _key_bucket(F.col(key), n_buckets))
            n = committed + 1
            staging = os.path.join(table_dir, f"{V._TMP_PREFIX}{n}")
            merged.write.mode("overwrite").partitionBy("__bucket").parquet(staging)
            if committed >= 1:
                for entry in os.listdir(cur_dir):
                    if not entry.startswith("__bucket="):
                        continue
                    if int(entry.split("=", 1)[1]) in touched:
                        continue
                    V.link_tree(
                        os.path.join(cur_dir, entry), os.path.join(staging, entry)
                    )
            # refreshed on any schema change: a write-once sidecar
            # silently nulled later-added columns (advisory r3)
            if _read_schema(table_dir) != merged.schema:
                V.replace_file(table_dir, _SCHEMA_FILE, merged.schema.json())
            os.rename(staging, os.path.join(table_dir, f"_v{n}"))
            V.flip_pointer(table_dir, n)
            V.vacuum(table_dir, keep_last=keep_versions)
        finally:
            batch.unpersist()

    writer = changes.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# -------- streaming ANN-index maintenance (q_sim_index_incremental's
# streaming twin: the same frozen-codebook delta re-encode, executed
# through the real CDC merge pipeline)

VECTOR_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("eventName", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField(
            "newImage",
            T.StructType(
                [
                    T.StructField("vec_id", T.StringType(), False),
                    T.StructField(
                        "embedding", T.ArrayType(T.FloatType()), False
                    ),
                ]
            ),
            True,
        ),
        T.StructField("removedId", T.StringType(), True),
    ]
)


def read_vector_change_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = MAX_FILES_PER_TRIGGER
) -> DataFrame:
    """Embedding change-stream source: the vector twin of
    read_change_stream (same envelope, newImage carries the raw
    embedding instead of a trade row)."""
    return (
        spark.readStream.schema(VECTOR_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )


def encode_vector_changes(changes: DataFrame, codebook_literal) -> DataFrame:
    """Streaming ANN-index maintenance, step 1: map vector change
    events to CODE-TABLE change events by re-encoding each new/changed
    embedding against the FROZEN codebook literal
    (operators.mlprep.pq_codebook_literal).  A PURE PROJECTION — no
    join, no aggregation — so it is legal on an unbounded stream with
    no watermark/state; REMOVEs (null newImage) pass through.  Compose
    with ``start_merge_stream(key="vec_id")`` and the maintained PQ
    index advances exactly like any other CDC-merged table: bucket-
    incremental, versioned, crash-safe.  Equivalence to the batch
    operator (q_sim_index_incremental) is pinned end-to-end in
    tests/test_stream_index_round9.py."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.mlprep import (
        pq_encode_expr,
    )

    return changes.withColumn(
        "newImage",
        F.when(
            F.col("newImage").isNotNull(),
            F.struct(
                F.col("newImage.vec_id").alias("vec_id"),
                pq_encode_expr(codebook_literal, "newImage.embedding").alias(
                    "codes"
                ),
            ),
        ),
    )


def streaming_dedup(changes: DataFrame, key_cols: list[str], watermark_col: str, delay: str):
    """B35: watermark-scoped streaming dedup — state is bounded by the
    watermark horizon (dedup-forever state is unbounded at 100 TB;
    SURVEY.md §7.4.5).

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates``
    on a key subset that EXCLUDES the event-time column never evicts
    its state even under a watermark (the documented Spark gap the
    WithinWatermark variant exists to close; review-caught) — keyed on
    ``seq`` alone it would grow one state entry per event forever."""
    return changes.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def is_stream_active(spark: SparkSession, name: str) -> bool:
    """A19 idempotent stream-job control: start only when not already
    running (reference checks DMS task status before StartReplicationTask,
    source/start_dms_replication_task_lambda/handler.py:60-79)."""
    return any(q.name == name for q in spark.streams.active)


def count_parity(source: DataFrame, target: DataFrame) -> DataFrame:
    """A20 COUNT(*) parity metric — implemented as intended (the
    reference executes but never fetches the target count; we return
    both plus lag)."""
    # one aggregate over a tagged union runs 2 jobs; a cross join of two
    # global aggregates ran 4
    sides = source.select(F.lit(True).alias("src")).unionAll(target.select(F.lit(False)))
    src = F.col("src")
    return sides.agg(
        F.count_if(src).alias("source_rows"), F.count_if(~src).alias("target_rows")
    ).select(
        "source_rows", "target_rows", (F.col("source_rows") - F.col("target_rows")).alias("row_lag")
    )


def retention_filter(df: DataFrame, ts_col: str, max_age: str) -> DataFrame:
    """A16 retention/TTL: keep rows younger than the horizon (the S3
    lifecycle expiry analog, cdk_infrastructure/__init__.py:380-388).
    With ingest-date partitioning this prunes whole partitions."""
    return df.filter(F.col(ts_col) >= F.current_timestamp() - F.expr(f"INTERVAL {max_age}"))
