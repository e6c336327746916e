"""LLM tier XXI: training-shard export (WebDataset-style tar).

The writer is value-oracled through exact USTAR size arithmetic: a
member costs 512 (header) + ceil(size/512)·512 (padded data), the
archive ends with 1024 zero bytes and is padded to the 10240-byte
record size — so DuckDB recomputes every shard's byte count from
octet lengths alone, and any header/padding/membership bug in the
distributed writer breaks the oracle. See ``llm/export.py`` for the
determinism contract (pinned metadata ⇒ byte-identical re-exports).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.llm.export import (
    export_tar_shards,
    scan_tar_shards,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register


@register(
    "q_export_tar_shards",
    oracle="""
    WITH m AS (
      SELECT CAST(doc_id % 8 AS INTEGER) AS shard_id,
             CAST(strlen(text) AS BIGINT) AS sz
      FROM documents
    ),
    agg AS (
      SELECT shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(sz) AS BIGINT) AS payload_bytes,
             CAST(SUM(512 + ((sz + 511) // 512) * 512) AS BIGINT)
               AS member_bytes
      FROM m GROUP BY shard_id
    )
    SELECT shard_id, n_docs, payload_bytes,
           CAST(((member_bytes + 1024 + 10239) // 10240) * 10240
                AS BIGINT) AS tar_bytes
    FROM agg
    """,
)
def q_export_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → 8 deterministic tar shards; per-shard stats where
    ``tar_bytes`` is measured from the archive the writer actually
    produced (the oracle recomputes it in closed form)."""
    return export_tar_shards(
        load(spark, sf_dir, "documents").select("doc_id", "text"), n_shards=8
    )


@register(
    "q_scan_tar_shards",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def q_scan_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INGEST side: materialize the corpus as tar shards once
    per session, scan them back distributedly (binaryFile
    → untar mapInPandas), and prove the export→import identity — every
    document comes back byte-for-byte (id from the member name, size
    and md5 from the payload, oracle recomputed from the ORIGINAL
    table)."""
    out = session_artifact(
        spark,
        sf_dir,
        "tar_shards",
        lambda p: export_tar_shards(
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            n_shards=8,
            out_dir=p,
        ).collect(),  # 8 stat rows — the action that writes shards
    )
    members = scan_tar_shards(spark, out)
    return members.select(
        F.regexp_extract("member_name", r"doc_(\d+)\.txt", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5(F.col("payload").cast("string")).alias("content_hash"),
    )
