"""Processed-file marker log — Spark-native idempotency.

reference: the marker system is split across
lambda/lakehouse_check_processed_marker/lambda_function.py:17-28 (check)
and glue_jobs/archive_and_mark_processed.py:30-44 (write), with a path
bug: the checker reads ``processed/processed_log/...`` while the writer
writes ``processed/_processed_log/...`` — markers never match, so every
file reprocesses and MERGE idempotency silently absorbs it
(SURVEY.md §2.12-O1).

We implement the *intended* semantics with consistent paths: a managed
``_processed_log`` table of (dataset, file_name, processed_at). The
MERGE layer remains the safety net, exactly as the reference
effectively behaves — both layers are now correct and testable.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

SCHEMA = T.StructType(
    [
        T.StructField("dataset", T.StringType()),
        T.StructField("file_name", T.StringType()),
        T.StructField("processed_at", T.TimestampType()),
    ]
)


def log_path(base_path: str) -> str:
    return os.path.join(base_path, "_processed_log")


def processed_files(spark: SparkSession, base_path: str) -> set[tuple[str, str]]:
    """Every marked ``(dataset, file_name)`` — the whole marker set in
    one collect, so a run checks all its discovered files against one
    read instead of one scan per file."""
    p = log_path(base_path)
    if not managed.exists(p):
        return set()
    rows = managed.read(spark, p).select("dataset", "file_name").collect()
    return {(r.dataset, r.file_name) for r in rows}


def is_processed(spark: SparkSession, base_path: str, dataset: str, file_name: str) -> bool:
    """reference: lakehouse_check_processed_marker/lambda_function.py:17-28
    (marker existence check, with the path bug fixed)."""
    return (dataset, file_name) in processed_files(spark, base_path)


def mark_processed(
    spark: SparkSession, base_path: str, dataset: str, file_name: str
) -> None:
    """reference: archive_and_mark_processed.py:37-44 (marker put)."""
    row = [(dataset, file_name, _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None))]
    new = spark.createDataFrame(row, SCHEMA)
    p = log_path(base_path)
    if managed.exists(p):
        new = managed.read(spark, p).unionByName(new)
    managed.write(spark, new, p)
