"""In-process pipeline driver — the Step-Functions DAG without AWS.

reference mapping (SURVEY.md §2.12):
- O1 marker check/skip   → one ``_processed_log/<dataset>/<file>``
  marker file each (sinks/processed_log.py; the reference's
  path-mismatch bug fixed)
- O2 dependency order    → DATASET_ORDER loop; order_items aborts if
  parent tables are missing (order_items_etl.py:47-50,57-60)
- O3 retry w/ backoff    → ``_with_retries`` (2 attempts, 10 s, ×2 —
  lakehouse_etl_stepfunction.json:45-54)
- O5 post-load COUNT(*)  → catalog.count_star validation
- O7 archive + mark      → file move into archived/ + marker file
  (archive_and_mark_processed.py:28-47)

Zone layout under ``base_dir`` (README.md:36-63)::

    raw/<dataset>/<file>       incoming CSV/workbooks
    processed/<dataset>/       managed tables (+ _rejected siblings)
    processed/_processed_log/  marker files, <dataset>/<file>
    archived/<dataset>/        ingested source files
"""

from __future__ import annotations

import logging
import os
import shutil
import time
from collections.abc import Callable
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession

from lakehouse_ecommerce_etl_pipeline_spark.pipeline.jobs import (
    DATASET_ORDER,
    JOBS,
    DatasetJob,
    read_source,
    transform,
)
from lakehouse_ecommerce_etl_pipeline_spark.sinks import catalog, processed_log
from lakehouse_ecommerce_etl_pipeline_spark.sinks.merge import merge_upsert
from lakehouse_ecommerce_etl_pipeline_spark.sinks.quarantine import write_rejected
from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

log = logging.getLogger(__name__)


def _with_retries(
    fn: Callable[[], dict[str, int]],
    attempts: int = 2,
    initial_delay: float = 10.0,
    backoff: float = 2.0,
    on_failure: Callable[[Exception], None] | None = None,
) -> dict[str, int]:
    """reference: Step Functions Retry — 2 attempts, 10 s interval,
    rate 2.0 (lakehouse_etl_stepfunction.json:45-54); terminal failure
    invokes the notification hook (O4, :268-282)."""
    delay = initial_delay
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            if attempt == attempts - 1:
                if on_failure:
                    on_failure(e)
                raise
            log.warning("attempt %d failed (%s); retrying in %.1fs", attempt + 1, e, delay)
            time.sleep(delay)
            delay *= backoff


def table_path(base_dir: str, dataset: str) -> str:
    return os.path.join(base_dir, "processed", dataset)


def run_dataset(
    spark: SparkSession,
    base_dir: str,
    dataset: str,
    source_path: str,
) -> dict[str, int]:
    """One ETL job — the §3.2 shape: read → validate → [FK] → dedup →
    audit → MERGE → DDL. Returns counters for observability."""
    job: DatasetJob = JOBS[dataset]

    parents: dict[str, DataFrame] = {}
    for parent in job.fks.values():
        ppath = table_path(base_dir, parent)
        if not managed.exists(ppath):
            # order_items_etl.py:47-50 — abort early when FK parents missing
            raise RuntimeError(
                f"{dataset}: required parent table '{parent}' not loaded yet"
            )
        parents[parent] = managed.read(spark, ppath)

    raw = read_source(spark, job, source_path)
    tpath = table_path(base_dir, dataset)
    # the tagged frame behind clean/rejected is cached for this file
    # only: the scope unpersists it on success and on a failed attempt
    with ExitStack() as scope:
        clean, rejected = transform(raw, job, parents, scope)
        n_rejected = write_rejected(spark, rejected, tpath)
        merge_upsert(spark, tpath, clean, [job.merge_key], partition_by=job.partition_by)

    # K4 — the reference's DDL shape: CREATE TABLE ... USING <fmt>
    # LOCATION pointing at the current snapshot (orders_etl.py:98-103)
    qualified = catalog.register_table_external(
        spark, managed.current_data_path(tpath), dataset
    )
    n_loaded = catalog.count_star(spark, qualified)  # O5 validation query
    return {"loaded": n_loaded, "rejected": n_rejected}


def _discover(base_dir: str, dataset: str) -> list[str]:
    d = os.path.join(base_dir, "raw", dataset)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if not f.startswith(".") and os.path.isfile(os.path.join(d, f))
    )


def _archive(base_dir: str, dataset: str, file_path: str) -> None:
    """reference: archive_and_mark_processed.py:28-36 (copy → delete)."""
    dest_dir = os.path.join(base_dir, "archived", dataset)
    os.makedirs(dest_dir, exist_ok=True)
    shutil.move(file_path, os.path.join(dest_dir, os.path.basename(file_path)))


def run_pipeline(
    spark: SparkSession,
    base_dir: str,
    retry_attempts: int = 2,
    retry_delay: float = 0.1,
    on_failure: Callable[[Exception], None] | None = None,
) -> dict[str, dict[str, int]]:
    """Full DAG run over every unprocessed file in the raw zone,
    in FK dependency order. Files already in the marker log are
    skipped (O1); processed files are archived and marked (O7).

    Per dataset: ``rejected`` sums over the run's files, ``loaded`` is
    the post-load COUNT(*) after its last file."""
    processed_base = os.path.join(base_dir, "processed")
    # one marker-log read per run: a run marks only files it discovered
    # itself, and discovery lists each (dataset, file name) once
    done = processed_log.processed_files(spark, processed_base)
    results: dict[str, dict[str, int]] = {}
    for dataset in DATASET_ORDER:
        for path in _discover(base_dir, dataset):
            fname = os.path.basename(path)
            if (dataset, fname) in done:
                log.info("skip %s/%s: already processed", dataset, fname)
                continue
            counts = _with_retries(
                lambda: run_dataset(spark, base_dir, dataset, path),
                attempts=retry_attempts,
                initial_delay=retry_delay,
                on_failure=on_failure,
            )
            total = results.setdefault(dataset, {"loaded": 0, "rejected": 0})
            total["loaded"] = counts["loaded"]
            total["rejected"] += counts["rejected"]
            _archive(base_dir, dataset, path)
            processed_log.mark_processed(spark, processed_base, dataset, fname)
    return results
