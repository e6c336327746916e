"""Partitioned table writes.

reference: glue_jobs/orders_etl.py:93-96 (initial write partitioned by
``date``), product_etl.py:83-86 (by ``department``),
order_items_etl.py:120-123 (by ``date``).

100 TB notes: partition by a low-cardinality column the queries filter
on (date). ``maxRecordsPerFile`` caps file size; AQE coalescing avoids
the small-file problem on the other end. For join-heavy tables add
bucketing (``bucketBy``) on the join key so downstream joins co-locate
without a shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from lakehouse_ecommerce_etl_pipeline_spark.session import conf_scope


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
) -> None:
    (
        df.write.format(fmt)
        .mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .save(path)
    )


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions
    present in ``df``, leaving all others untouched — the incremental
    re-load primitive (re-land one day/department without rewriting
    the table), and the non-Delta analogue of MERGE for
    full-partition refreshes.

    reference: its monthly-batch shape (one Excel file per month,
    step_functions/lakehouse_etl_stepfunction.json:96) re-processes a
    whole period at a time — exactly the partition-replace pattern;
    the reference instead rewrites via MERGE row-by-row.

    100 TB: static overwrite mode would TRUNCATE the table first;
    dynamic mode prunes the rewrite to touched partitions, so cost
    scales with the increment, not the table. Pair with
    ``maxRecordsPerFile`` so each replaced partition lands in
    right-sized files."""
    with conf_scope(
        df.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        (
            df.write.format(fmt)
            .mode("overwrite")
            .partitionBy(*partition_by)
            .save(path)
        )
