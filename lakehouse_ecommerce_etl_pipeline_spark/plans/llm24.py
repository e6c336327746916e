"""LLM tier XXIV: WARC archives (ISO 28500) — the crawl-ingest twin
of the tar-shard tier (plans/llm21.py).

Oracle strategy: the writer is deterministic (pinned WARC-Date, CRLF
framing, ascending-id record order), so per-file byte totals are
closed-form in (doc_id, strlen(text)). The per-record constants are
SELF-CALIBRATED at import time from the actual writer
(``len(_doc_record(0, "")) `` minus the variable digit terms), so the
SQL twin can never drift from the Python framing code — change a
header, and both sides move together while a framing BUG (missing
CRLF, wrong Content-Length) still breaks the equality because the
parser-side identity query re-reads what was actually written.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.sources.warc import (
    _doc_record,
    _warcinfo_record,
    scan_warc,
    write_warc_files,
)

_N_FILES = 8

# self-calibration: record size = CONST + 2·digits(doc_id)
# + digits(strlen(text)) + strlen(text); probe with id=0, text="" where
# every variable term is known (1 digit id twice, 1 digit length, 0 bytes)
_DOC_REC_CONST = len(_doc_record(0, "")) - 3
_INFO_REC_CONST = len(_warcinfo_record(0)) - 1


@register(
    "q_export_warc",
    oracle=f"""
    WITH m AS (
      SELECT CAST(doc_id % {_N_FILES} AS INTEGER) AS file_id,
             CAST(strlen(text) AS BIGINT) AS sz,
             length(CAST(doc_id AS VARCHAR)) AS d,
             length(CAST(strlen(text) AS VARCHAR)) AS l
      FROM documents
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(sz) AS BIGINT) AS payload_bytes,
           CAST({_INFO_REC_CONST} + length(CAST(file_id AS VARCHAR))
                + SUM({_DOC_REC_CONST} + 2 * d + l + sz) AS BIGINT)
             AS warc_bytes
    FROM m GROUP BY file_id
    """,
)
def q_export_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → 8 deterministic WARC/1.0 files; per-file
    stats where ``warc_bytes`` is measured from the bytes the writer
    actually produced and the oracle restates them in closed form
    (version line + headers + Content-Length framing + double-CRLF
    terminators, digit-exact).

    100 TB: one applyInPandas group per output archive — fix file
    SIZE not count in production; payload bytes cross exactly one
    hash-partition exchange."""
    return write_warc_files(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        n_files=_N_FILES,
    )


@register(
    "q_scan_warc",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def q_scan_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INGEST side: materialize the corpus as WARC archives once
    per session, scan them back distributedly (binaryFile
    → Content-Length-framed record walker in mapInPandas), and prove
    the export→import identity — every response record comes back
    byte-for-byte (id parsed from urn:doc record ids, size/md5 from
    the payload, oracle recomputed from the ORIGINAL table). The
    warcinfo preamble records are filtered out by WARC-Type, like a
    real crawl consumer does."""
    out = session_artifact(
        spark,
        sf_dir,
        "warc_archives",
        lambda p: write_warc_files(
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            n_files=_N_FILES,
            out_dir=p,
        ).collect(),  # stat rows — the action that writes archives
    )
    recs = scan_warc(spark, out).filter(F.col("warc_type") == "response")
    return recs.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5(F.col("payload").cast("string")).alias("content_hash"),
    )
