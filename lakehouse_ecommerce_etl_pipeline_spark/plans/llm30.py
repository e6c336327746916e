"""LLM tier XXX: Avro Object Container Files — the row-oriented
interchange format of the Kafka/ingest world, as export + scan.

Spark's `avro` module's jar is absent from this runtime (probed), so
sources/avro.py implements the published spec directly (zigzag varint
binary encoding, metadata map, sync-marker block framing, deflate
codec) the way sources/xlsx.py and sources/warc.py do for their
formats.

Oracle strategy mirrors the WARC tier: the writer is deterministic,
so per-record encoded sizes are CLOSED-FORM VARINT ARITHMETIC — the
SQL twin restates `varlen(zigzag(doc_id)) + varlen(strlen) + strlen`
digit-exactly, which means an encoder bug (wrong zigzag, off-by-one
length prefix) breaks the equality; and the scan side proves the full
export→import identity against the original table THROUGH the deflate
codec, so framing bugs (bad block size, sync drift) fail by value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
    session_dir,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.sources.avro import (
    scan_avro,
    stream_scan_avro,
    write_avro_files,
)
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import drain

_N_FILES = 8


def _varlen(u: str) -> str:
    """SQL: byte length of the varint encoding of non-negative {u}."""
    return (
        f"CASE WHEN {u} < 128 THEN 1 WHEN {u} < 16384 THEN 2"
        f" WHEN {u} < 2097152 THEN 3 WHEN {u} < 268435456 THEN 4"
        f" WHEN {u} < 34359738368 THEN 5 ELSE 6 END"
    )


@register(
    "q_export_avro",
    oracle=f"""
    WITH m AS (
      SELECT CAST(doc_id % {_N_FILES} AS INTEGER) AS file_id,
             CAST(strlen(text) AS BIGINT) AS sz,
             2 * doc_id AS zid
      FROM documents
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM({_varlen('zid')} + {_varlen('2 * sz')} + sz) AS BIGINT)
             AS record_bytes
    FROM m GROUP BY file_id
    """,
)
def q_export_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → 8 deterministic Avro OCF containers; per-file stats
    where ``record_bytes`` sums each record's binary-encoded size —
    zigzag-varint(doc_id) + varint length prefix + utf-8 payload —
    and the oracle restates that varint arithmetic in pure SQL.

    100 TB: one applyInPandas group per container (fix file SIZE not
    count in production); doc bytes cross exactly one hash-partition
    exchange. Avro rows are self-describing and splittable at block
    sync points — at cluster scale you'd hand larger containers to a
    block-level reader; file-grain is the local[] analogue."""
    return (
        write_avro_files(
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            n_files=_N_FILES,
        )
        .select("file_id", "n_records", "record_bytes")
    )


def _avro_containers(spark: SparkSession, sf_dir: str) -> str:
    """The corpus as DEFLATE-coded OCF containers, written once per
    session."""
    return session_artifact(
        spark,
        sf_dir,
        "avro_containers",
        lambda p: write_avro_files(
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            n_files=_N_FILES,
            out_dir=p,
            codec="deflate",
        ).collect(),  # stat rows — the action that writes containers
    )


@register(
    "q_scan_avro",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def q_scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST side: materialize the corpus as DEFLATE-coded OCF once
    per session, scan it back distributedly (binaryFile →
    block walker + record decoder in mapInPandas), and prove the
    export→import identity — every record returns byte-for-byte
    through zigzag decode + raw-inflate, oracle recomputed from the
    ORIGINAL table."""
    recs = scan_avro(spark, _avro_containers(spark, sf_dir))
    return recs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("content_hash"),
    )


@register(
    "q_stream_avro_ingest",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def q_stream_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop-zone pattern end-to-end as REAL Structured Streaming:
    a file stream watches the container directory (the reference's
    S3-ObjectCreated trigger, Spark-native), every discovered OCF
    decodes through the same mapInPandas walker, and availableNow
    drains the backlog into a parquet sink through a checkpoint.
    The identity oracle against the ORIGINAL table holds regardless
    of how the files split into micro-batches — ingest correctness
    is batching-invariant, which is the property that lets one query
    definition serve both continuous and catch-up modes.

    100 TB: file-source streams scale by file count
    (maxFilesPerTrigger bounds micro-batch size); only source-
    discovery state is checkpointed — the decode itself is stateless."""
    import uuid

    containers = _avro_containers(spark, sf_dir)
    run = os.path.join(
        session_dir(spark, sf_dir, "avro_stream"), uuid.uuid4().hex[:8]
    )
    sink, ckpt = os.path.join(run, "sink"), os.path.join(run, "ckpt")
    drain(
        stream_scan_avro(spark, containers)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        containers,
    )
    return spark.read.parquet(sink).select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("content_hash"),
    )
