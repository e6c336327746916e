"""Processed-file marker log — one empty marker file per processed file.

reference: the marker system is split across
lambda/lakehouse_check_processed_marker/lambda_function.py:17-28 (check)
and glue_jobs/archive_and_mark_processed.py:30-44 (write), with a path
bug: the checker reads ``processed/processed_log/...`` while the writer
writes ``processed/_processed_log/...`` — markers never match, so every
file reprocesses and MERGE idempotency silently absorbs it
(SURVEY.md §2.12-O1).

We implement the *intended* semantics with consistent paths and the
reference's own layout: one object per marker at
``_processed_log/<dataset>/<file_name>``. Marking is one file create
and checking is one directory listing, so neither runs a Spark job
and neither grows with the log. The MERGE layer remains the safety
net, exactly as the reference effectively behaves — both layers are
now correct and testable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def log_path(base_path: str) -> str:
    return os.path.join(base_path, "_processed_log")


def processed_files(spark: SparkSession, base_path: str) -> set[tuple[str, str]]:
    """Every marked ``(dataset, file_name)``, from one listing of the
    marker directory."""
    root = log_path(base_path)
    if not os.path.isdir(root):
        return set()
    return {
        (dataset, name)
        for dataset in os.listdir(root)
        for name in os.listdir(os.path.join(root, dataset))
    }


def is_processed(spark: SparkSession, base_path: str, dataset: str, file_name: str) -> bool:
    """reference: lakehouse_check_processed_marker/lambda_function.py:17-28
    (marker existence check, with the path bug fixed)."""
    return os.path.exists(os.path.join(log_path(base_path), dataset, file_name))


def mark_processed(
    spark: SparkSession, base_path: str, dataset: str, file_name: str
) -> None:
    """reference: archive_and_mark_processed.py:37-44 (marker put)."""
    d = os.path.join(log_path(base_path), dataset)
    os.makedirs(d, exist_ok=True)
    open(os.path.join(d, file_name), "a").close()
