"""Analytics tier XIII: Spark 4 surface — VARIANT semi-structured
type, Python UDTFs, and the Python DataSource API.

Cross-engine exactness: variant extraction yields integers identical
to DuckDB's json_extract; the UDTF emits plain strings reproduced by
a DuckDB list comprehension; the custom source's payload formula is
shared integer arithmetic recomputed over DuckDB's range().

Reference parity: props-style JSON columns are what the reference
stores as raw strings; VARIANT is the lakehouse-native encoding
(binary-parsed once, typed access after). The UDTF and DataSource
cover the extension surfaces a Glue-based pipeline gets from Glue
itself (custom readers, per-row expansion scripts).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.sources.pydatasource import (
    register_synthetic_source,
)
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import drain


@register(
    "q_variant_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_variant_extract(spark, sf_dir):
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed
    variant_get extraction — schema-on-read without string re-parsing
    per field.

    100 TB: VARIANT's win over raw JSON strings is parse-once — the
    binary encoding shreds into parquet and every downstream
    extraction is a field lookup, not a regex/parser pass. The
    aggregation itself is the usual map-side-combinable shuffle."""
    ev = load(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@udtf(returnType="bigram: string")
class _BigramUDTF:
    """Word-bigram expansion — one input row to N-1 output rows."""

    def eval(self, text: str):
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            yield (a + " " + b,)


@register(
    "q_udtf_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 1),
                                   i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM bi GROUP BY bigram HAVING COUNT(*) >= 5
    ORDER BY bigram
    """,
)
def q_udtf_bigrams(spark, sf_dir):
    """Corpus word-bigram counts via a Python UDTF applied LATERAL —
    the user-defined table-function surface (one row in, many out,
    arbitrary Python). Appears with >= 5 occurrences.

    100 TB: UDTFs run in Python workers (Arrow-batched input, row
    iterator output) — fine for genuinely-custom expansion logic, but
    this exact query is expressible JVM-side (transform over split +
    explode, as the oracle shows); prefer that when semantics allow.
    The UDTF registers per-session; the lateral join is narrow."""
    spark.udtf.register("udtf_bigrams", _BigramUDTF)
    return spark.sql(
        """
        SELECT u.bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM {docs}, LATERAL udtf_bigrams(text) u
        GROUP BY u.bigram HAVING COUNT(*) >= 5
        ORDER BY u.bigram
        """,
        docs=load(spark, sf_dir, "documents"),
    )


@register(
    "q_python_datasource",
    oracle="""
    SELECT ((id*id*31 + id*17) % 1000) % 10 AS bucket,
           COUNT(*) AS n,
           CAST(SUM(id) AS BIGINT) AS sum_id,
           CAST(SUM((id*id*31 + id*17) % 1000) AS BIGINT) AS sum_v
    FROM range(0, 100000) t(id)
    GROUP BY bucket ORDER BY bucket
    """,
)
def q_python_datasource(spark, sf_dir):
    """Read through a custom Python DataSource (Spark 4 API): the
    synthetic_rows source plans 8 InputPartitions, each task streams
    its id-range through a Python generator; the query aggregates per
    value bucket. The oracle recomputes the shared deterministic
    formula over DuckDB's range().

    100 TB: partition planning is the scalability contract of the
    DataSource API — splits map 1:1 to tasks, so ingest parallelism
    is declared by the source, not discovered; generators keep the
    driver and executor memory flat."""
    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_rows")
        .option("n", 100_000)
        .option("partitions", 8)
        .load()
    )
    return (
        df.groupBy((F.col("v") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").cast("bigint").alias("sum_id"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )
        .orderBy("bucket")
    )


@register(
    "q_python_datasource_stream",
    oracle="""
    SELECT id, (id*id*31 + id*17) % 1000 AS v
    FROM range(0, 600) t(id)
    """,
)
def q_python_datasource_stream(spark, sf_dir):
    """Read through the STREAMING face of the custom Python
    DataSource (Spark 4 SimpleDataSourceStreamReader): drain the
    offset-ordered micro-batches (150 rows each) into a batch frame
    via foreachBatch. Offsets are row ids and read(start) is a pure
    function of the range, so the drained stream equals the
    closed-form oracle row-for-row — stream/batch parity for a
    custom connector.

    100 TB: the simple reader is driver-side (control-plane rates);
    the partitioned DataSourceStreamReader variant fans splits to
    executors. Either way the offset log is the replay contract:
    checkpoint recovery re-reads [start, end) and an idempotent sink
    dedups — exactly-once end to end (tests/test_streaming_ingest.py
    exercises the resume)."""
    import tempfile

    from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
        ensure_session_defaults,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    ensure_session_defaults(spark)
    register_synthetic_source(spark)
    rows: list = []

    def sink(batch_df, _bid):
        rows.extend((r["id"], r["v"]) for r in batch_df.collect())

    with tempfile.TemporaryDirectory() as ck:
        # one micro-batch per availableNow run (simple-reader
        # contract) — loop until the bounded stream is drained
        for _ in range(8):
            drain(
                spark.readStream.format("synthetic_rows")
                .option("batch_rows", 150)
                .option("max_rows", 600)
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
            )
            if len(rows) >= 600:
                break
    return spark.createDataFrame(
        sorted(set(rows)), schema="id bigint, v bigint"
    )
