"""Spark 4 API-surface tier (part 2): the write face of the Python
DataSource API, dynamic-schema UDTFs, and SQL pipe syntax.

Complements `plans/analytics13.py` (VARIANT, Python DataSource READER,
fixed-schema UDTF, SQL-defined functions): a Python-implemented batch
SINK with per-task commit messages and an all-or-nothing driver
commit, a UDTF whose output schema is computed at plan time by
``analyze()`` from a constant argument, and Spark 4's pipe-operator
SQL dialect (`|>`) — each value-oracled by round-tripping the result
back through a plain scan or the equivalent ANSI query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_dir,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.sources.pydatasource import (
    register_jsonl_sink,
)
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import (
    drain,
    parquet_stream,
)


@register(
    "q_python_datasource_write",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
)
def q_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python batch SINK (Spark 4 DataSourceWriter): orders
    stream per-task through a pure-Python newline-JSON writer —
    part file per partition, per-task commit messages, driver-side
    all-or-nothing commit manifest — then the files are scanned back
    and value-checked against the source table, proving the sink is
    lossless end to end.  This is the write half of the connector API
    (the read half is q_python_datasource); doubles survive because
    json.dumps emits shortest round-trip representations.

    100 TB: executors write their partitions directly (no driver
    funnel); commit coordination is O(#tasks) messages; a retried task
    atomically replaces its own part file, so speculative execution
    and retries stay exactly-once at the file level."""
    register_jsonl_sink(spark)
    # a write-path demonstration, re-executed per call
    path = os.path.join(session_dir(spark, sf_dir, "pyds_write"), "orders_jsonl")
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.format("pyjsonl")
        .option("path", path)
        .mode("overwrite")
        .save()
    )
    return spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    ).json(path)


@register(
    "q_udtf_dynamic_schema",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks
      FROM documents
    )
    SELECT doc_id, toks[1] AS tok0, toks[2] AS tok1, toks[3] AS tok2
    FROM t
    """,
)
def q_udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-schema Python UDTF: ``split_fixed(text, n)`` computes
    its OUTPUT SCHEMA at plan time in ``analyze()`` — n=3 literal ⇒
    columns (tok0, tok1, tok2), another n would produce a different
    width with no code change.  This is the Spark 4 capability the
    fixed-returnType UDTF (q_udtf_bigrams) can't express: schema as a
    function of the call site, resolved before execution so downstream
    operators bind columns normally.

    100 TB: the UDTF runs Arrow-batched per partition like any
    vectorized UDF; analyze() executes once on the driver at planning
    — dynamic schema costs nothing at runtime."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class SplitFixed:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            width = int(n.value)
            return AnalyzeResult(
                schema=StructType(
                    [
                        StructField(f"tok{i}", StringType())
                        for i in range(width)
                    ]
                )
            )

        def eval(self, text, n):
            toks = (text or "").strip().split(" ")
            yield tuple(
                toks[i] if i < len(toks) else None for i in range(n)
            )

    spark.udtf.register("split_fixed", udtf(SplitFixed))
    return spark.sql(
        """
        SELECT d.doc_id, u.tok0, u.tok1, u.tok2
        FROM {docs} d, LATERAL split_fixed(d.text, 3) u
        """,
        docs=load(spark, sf_dir, "documents"),
    )


@register(
    "q_sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax: the linear `|>` dialect — FROM, then
    WHERE, then EXTEND (derived column), then AGGREGATE ... GROUP BY —
    compiled by the same parser into the same logical plan as the
    nested ANSI form the oracle runs, so the result is bit-identical;
    what changes is authoring order matching execution order.

    100 TB: zero runtime difference by construction — the audit point
    is that pipe stages fuse exactly like their ANSI equivalents
    (filter pushdown, partial aggregation), which the shared oracle
    hash proves."""
    return spark.sql(
        """
        FROM {lineitem}
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |> EXTEND CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                  AS disc4
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_lines,
                     CAST(SUM(disc4) AS DOUBLE) / 10000.0 AS revenue
           GROUP BY l_returnflag
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    ).select("l_returnflag", "n_lines", "revenue")


@register(
    "q_python_datasource_stream_write",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def q_python_datasource_stream_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom Python STREAMING sink (Spark 4 DataSourceStreamWriter):
    the events table arrives as a file-source stream and is drained
    availableNow through the pure-Python JSONL sink — per-task part
    files keyed by (batchId, partitionId), per-batch manifest lines
    committed only after every task succeeds, idempotent on batch
    replay (sources/pydatasource.py JsonLinesStreamWriter).  The
    written artifact is scanned back and value-checked against the
    source table, closing the Spark-4 Python connector matrix: batch
    read, batch write, stream read, and now stream write.

    100 TB: executors append straight to the sink (no driver funnel);
    restart safety needs no sink-side log because file names are a
    pure function of (batch, partition) — the same recipe any bespoke
    streaming sink (queue producer, feature-store ingest) should
    follow."""
    import uuid

    from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
        events_parquet_path,
    )

    register_jsonl_sink(spark)
    src_path = events_parquet_path(spark, sf_dir)
    run = uuid.uuid4().hex[:8]
    base = session_dir(spark, sf_dir, "pyds_stream_write", run)
    out, ckpt = os.path.join(base, "events"), os.path.join(base, "ckpt")
    stream = parquet_stream(spark, src_path).select(
        "event_id", "user_id", "event_type"
    )
    drain(
        stream.writeStream.format("pyjsonl")
        .option("path", out)
        .option("checkpointLocation", ckpt),
        src_path,
    )
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string"
    ).json(out)
