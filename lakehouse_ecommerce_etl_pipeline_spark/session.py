"""SparkSession factory.

Reproduces the session configuration every reference Glue job builds
(reference: glue_jobs/orders_etl.py:26-37 — Delta extension + catalog),
plus the scale hygiene the reference leaves to Glue defaults: AQE with
partition coalescing and skew-join handling, Arrow for any
pandas-interop path, a pinned UTC session timezone (required for
oracle parity with DuckDB's naive timestamps), and an explicit
broadcast threshold so dimension-table joins (region/nation/part)
broadcast instead of shuffling.

100 TB design notes
-------------------
- ``spark.sql.shuffle.partitions`` defaults here to the local core
  count; on a 1000-executor cluster set it (or let AQE coalesce from)
  ~2-3x total cores. AQE re-plans at runtime either way.
- ``spark.sql.files.maxPartitionBytes`` = 128 MiB keeps scan tasks
  right-sized for 100 TB inputs (~800k tasks — fine for Spark's
  scheduler; raise to 256 MiB if task overhead dominates).
- ``autoBroadcastJoinThreshold`` = 64 MiB: every TPC-H-style dimension
  (region/nation/supplier/part at single-node scale) broadcasts; fact-
  fact joins fall through to sort-merge with AQE skew splitting.
- Delta Lake is optional at runtime: if ``delta-spark`` is importable
  the extension + catalog are configured exactly as the reference does;
  otherwise the sinks fall back to the parquet-backed managed-table
  layer in ``sources/table.py`` (same semantics, versioned dirs).
"""

from __future__ import annotations

import importlib.util
import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_APP_NAME = "lakehouse-ecommerce-etl-pipeline-spark"


def delta_available() -> bool:
    """True when delta-spark is importable (not baked into this image)."""
    return importlib.util.find_spec("delta") is not None


def _default_driver_mem() -> str:
    """Half the machine's physical memory, at most 48g. The local
    driver JVM holds the executors too; with a heap ceiling above
    physical memory the collector keeps growing the heap instead of
    collecting, until the kernel's OOM killer ends the JVM (seen: a
    48g-ceiling pytest JVM killed at 15.7 GB resident on a 16 GB
    host)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(2, min(48, total // 2 // 2**30))}g"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    reference: glue_jobs/orders_etl.py:26-37 (SparkSession with Delta
    extension + catalog — applied here only when delta-spark exists);
    glue_jobs/product_etl.py:21-30 (identical config in every job).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # UI off by default (bench hygiene); SPARK_GRAFT_UI=true flips it
        # on for the measured shuffle audit (scripts/shuffle_audit.py
        # reads stage metrics over the REST API)
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").lower()
            in ("true", "1", "yes", "on")
            else "false",
        )
        # bucketed tables need a catalog warehouse; keep it off the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/lakehouse_spark_warehouse"
            ),
        )
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long and convert at the source
        # (plans/_helpers.load truncates to micros, matching DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # JVM (pre-4.1) case mapping for lower()/upper() under
        # UTF8_BINARY: Spark 4.1's ICU path builds a full-Unicode
        # title-case table in a single-threaded class init (~5 min per
        # fresh JVM on this host, all other task threads blocked on the
        # init monitor — thread-dump evidence in OPTIMIZATION_r12.md).
        # Result-identical here: the corpus is pure ASCII at every SF
        # (audited) and no initcap/titlecase expression exists in the
        # package, so ICU and JVM mappings agree bit-for-bit (pinned by
        # tests/test_icu_casemap.py). Re-evaluate for non-ASCII corpora.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # naive parquet timestamps (isAdjustedToUTC=false) read as
        # session-UTC TIMESTAMP, not TIMESTAMP_NTZ: time-arithmetic
        # (unix_micros, window(), watermarks) requires TIMESTAMP, and the
        # DuckDB oracle compares equal under the pinned-UTC session
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
    )

    if delta_available():
        builder = (
            builder.config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            ).config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_scope(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Set the session conf ``overrides`` for the body of a ``with``
    block. On exit, on success and on an exception, each key gets its
    prior value back, or is unset again if it was unset on entry."""
    prior = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the session's core count when
    it scans fewer files than there are cores; otherwise return it
    unchanged.

    For CPU-bound per-row kernels (shingle md5s, tokenizers, codec
    decodes, cosine folds) over a tiny parquet footprint: a small
    single-row-group file scans as ONE task whatever
    ``maxPartitionBytes`` says, serializing the per-row CPU onto one
    core. Measured at sf0.1: the shingle-hash pass falls from 5.3 s to
    0.56 s with the spread, and four regexp metrics per row
    (``q_text_stats``) also run faster with it. One md5 per row is too
    light: the exchange of the full text column made ``q_dedup_exact``
    2.2x slower at 32 cores, so it and ``q_fingerprint`` read with
    plain ``load``. Calling this helper or not is the per-row-weight
    choice.

    The gate is the scan's file count. Spark already packs many small
    files into splits by bytes per core (40 files of 1.4 MB scan as 4
    tasks on ``local[4]`` and 14 on ``local[16]``), so an input of at
    least as many files as cores needs no exchange; neither does a
    plan with no file scan (``spark.range``, ``createDataFrame``,
    checkpointed frames list 0 files) nor a 1-core session. Callers
    must not depend on partition order (per-row projections, max/count
    aggregates, threshold filters; not float partial-sum trainers)."""
    sp = df.sparkSession.sparkContext.defaultParallelism
    if 0 < len(df.inputFiles()) < sp:
        return df.repartition(sp)
    return df
