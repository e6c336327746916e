"""Streaming ingestion: the reference's event-driven trigger replaced
by a file-source stream + foreachBatch MERGE.

reference: S3 ObjectCreated → Lambda → Step Function per file
(lambda/trigger_lakehouse_stepfn_on_upload/lambda_function.py:12-38).
Spark-native equivalent: ``readStream`` watches the raw directory; each
micro-batch runs the SAME validate→dedup→merge operators as the batch
pipeline; the checkpoint + idempotent MERGE give exactly-once table
state. ``availableNow`` drains the backlog as an incremental batch —
one query definition serves continuous and catch-up modes.

100 TB: file-source streams scale by file count (maxFilesPerTrigger
bounds micro-batch size); MERGE state lives in the table, not the
stream — only source-discovery state is checkpointed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.operators.dedup import dedup_arbitrary
from lakehouse_ecommerce_etl_pipeline_spark.operators.validate import (
    split_valid_invalid,
)
from lakehouse_ecommerce_etl_pipeline_spark.sinks.merge import merge_upsert
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import drain


def stream_ingest_csv(
    spark: SparkSession,
    raw_dir: str,
    table_path: str,
    schema: T.StructType,
    required: Sequence[str],
    keys: Sequence[str],
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all new CSV files under ``raw_dir`` into the managed table
    at ``table_path`` with validate→dedup→MERGE per micro-batch."""
    reader = (
        spark.readStream.schema(schema).option("header", "true").format("csv")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(raw_dir)

    def upsert_batch(batch: DataFrame, epoch_id: int) -> None:
        valid, _ = split_valid_invalid(batch, list(required))
        clean = dedup_arbitrary(valid, list(keys))
        merge_upsert(batch.sparkSession, table_path, clean, list(keys))

    drain(
        stream.writeStream.foreachBatch(upsert_batch).option(
            "checkpointLocation", checkpoint_dir
        ),
        raw_dir,
    )
