"""Managed lakehouse tables: Delta when available, versioned parquet
otherwise.

reference: the processed zone is Delta tables (glue_jobs/orders_etl.py:
21-22,82-96). delta-spark is not in this runtime, so the fallback is a
minimal versioned-parquet table that preserves the two Delta properties
the reference actually relies on: (a) atomic replace — readers never
see a partial write; (b) MERGE-able snapshots (sinks/merge.py).

Layout of a managed table directory::

    <path>/_v=<n>/part-*.parquet   # immutable snapshot n
    <path>/_LATEST                 # text file holding "<n>"; atomic rename

A writer stages ``_LATEST.tmp`` then ``os.replace``s it over
``_LATEST`` — the commit point, same single-atomic-swap shape as
Delta's ``_delta_log`` JSON commit (one winner per version).

100 TB: snapshots are plain partitioned parquet — all scan
optimizations apply. This single-writer scheme is a stand-in for local
FS; on S3 with many writers use real Delta (the code path is gated on
``delta_available()``), which this module dispatches to when present.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.session import delta_available

_LATEST = "_LATEST"
_SCHEMA = "_SCHEMA.json"


def _latest_version(path: str) -> int | None:
    marker = os.path.join(path, _LATEST)
    if not os.path.exists(marker):
        return None
    with open(marker) as f:
        return int(f.read().strip())


def exists(path: str) -> bool:
    """Does a managed table exist at ``path``?

    reference: DeltaTable.isDeltaTable checks in orders_etl.py:82-85
    (merge-or-initial-write branch).
    """
    if delta_available():
        from delta.tables import DeltaTable  # type: ignore

        spark = SparkSession.getActiveSession()
        return DeltaTable.isDeltaTable(spark, path)
    return _latest_version(path) is not None


def snapshot_dir(path: str, version: int) -> str:
    return os.path.join(path, f"_v={version}")


def read(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Scan a snapshot (reference: order_items_etl.py:45,53-55 — Delta
    scans of orders/products for FK lookups). ``version`` gives time
    travel — the versioned layout keeps every published snapshot, the
    same contract as Delta's ``versionAsOf``."""
    if delta_available():
        reader = spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        return reader.load(path)
    v = version if version is not None else _latest_version(path)
    if v is None:
        raise FileNotFoundError(f"no managed table at {path}")
    snap = snapshot_dir(path, v)
    if not os.path.isdir(snap):
        raise FileNotFoundError(f"no version {v} at {path}")
    return read_snapshot(spark, snap)


def read_snapshot(spark: SparkSession, snap: str) -> DataFrame:
    """Scan one snapshot directory under its ``_SCHEMA.json`` sidecar
    schema when it has one: no schema-inference job, and empty
    snapshots (a partitioned write of zero rows emits no parquet files)
    read back as empty typed frames. Hive-style partition directories
    are discovered either way."""
    schema_file = os.path.join(snap, _SCHEMA)
    if os.path.exists(schema_file):
        with open(schema_file) as f:
            schema = T.StructType.fromJson(json.load(f))
        return spark.read.schema(schema).parquet(snap)
    return spark.read.parquet(snap)


def write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Write a new snapshot and atomically publish it.

    reference: orders_etl.py:93-96 (initial partitioned Delta write).
    ``maxRecordsPerFile`` bounds file sizes at scale (small-file
    problem's inverse); partition columns mirror the reference
    (date / department).
    """
    if delta_available():
        w = df.write.format("delta").mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)
        return
    v = (_latest_version(path) or 0) + 1
    w = df.write.mode("overwrite").option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    snap = snapshot_dir(path, v)
    w.parquet(snap)
    with open(os.path.join(snap, _SCHEMA), "w") as f:
        json.dump(df.schema.jsonValue(), f)
    tmp = os.path.join(path, _LATEST + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(path, _LATEST))


def current_data_path(path: str) -> str:
    """The directory holding the CURRENT snapshot's data files — what
    external catalog registration should point at (the table root
    itself under Delta, the published ``_v=N`` dir otherwise)."""
    if delta_available():
        return path
    v = _latest_version(path)
    if v is None:
        raise FileNotFoundError(f"no managed table at {path}")
    return snapshot_dir(path, v)


def history(path: str) -> list[int]:
    """Published snapshot versions, oldest first (Delta: DESCRIBE
    HISTORY analogue)."""
    if not os.path.isdir(path):
        return []
    vs = [
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("_v=") and os.path.isdir(os.path.join(path, d))
    ]
    return sorted(vs)


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    zorder_by: list[str] | None = None,
) -> None:
    """Maintenance rewrite — the OPTIMIZE / Z-ORDER the reference docs
    claim but never implement (README.md:119,
    docs/full_implementation_guide.md:317-321).

    Compaction coalesces small files; ``zorder_by`` approximates
    Z-ordering with linear clustering (range-partition + sort within
    partitions on the given columns) — the practical substitute that
    gives the same min/max file-skipping benefit for the leading
    columns. Publishes a new snapshot atomically; time travel keeps
    the old one."""
    df = read(spark, path)
    if zorder_by:
        n = target_partitions or df.rdd.getNumPartitions()
        df = df.repartitionByRange(n, *zorder_by).sortWithinPartitions(*zorder_by)
    elif target_partitions:
        df = df.coalesce(target_partitions)
    write(spark, df, path)


def vacuum(path: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (Delta VACUUM
    analogue). Returns removed versions. Never touches the published
    ``_LATEST`` version."""
    import shutil

    vs = history(path)
    latest = _latest_version(path)
    removable = [v for v in vs[:-keep_last] if v != latest] if keep_last else []
    for v in removable:
        shutil.rmtree(snapshot_dir(path, v), ignore_errors=True)
    return removable
