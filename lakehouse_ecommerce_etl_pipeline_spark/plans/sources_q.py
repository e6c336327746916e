"""Source-format coverage queries: ORC and JSON-lines roundtrips, and
the vectorized Python (Arrow) surface — pandas_udf / applyInPandas —
exercised with oracle-checkable semantics.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register


@register("q_scan_orc", oracle="SELECT * FROM orders")
def q_scan_orc(spark, sf_dir):
    """ORC source roundtrip — same columnar pushdown/pruning machinery
    as parquet (Spark-native reader)."""
    out = session_artifact(
        spark,
        sf_dir,
        "orc_orders",
        lambda p: load(spark, sf_dir, "orders").write.mode("overwrite").orc(p),
    )
    return spark.read.orc(out)


JSON_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


@register(
    "q_scan_json",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def q_scan_json(spark, sf_dir):
    """JSON-lines source with declared schema (no inference pass).
    Doubles survive exactly: Spark writes shortest-roundtrip reprs."""
    out = session_artifact(
        spark,
        sf_dir,
        "json_orders",
        lambda p: load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .json(p),
    )
    return spark.read.schema(JSON_SCHEMA).json(out)


_NTOK_SQL = (
    "CASE WHEN length(regexp_replace(trim(text), '\\s+', ' ', 'g')) = 0 THEN 0 "
    "ELSE length(regexp_replace(trim(text), '\\s+', ' ', 'g')) "
    "   - length(replace(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ', '')) + 1 "
    "END"
)


@register(
    "q_pandas_udf_tokens",
    oracle=f"SELECT doc_id, CAST({_NTOK_SQL} AS INTEGER) AS n_tokens FROM documents",
)
def q_pandas_udf_tokens(spark, sf_dir):
    """Vectorized scalar pandas_udf (Arrow batches): whitespace token
    count via pandas str ops — Python's whitespace-run split matches
    the SQL normalize-then-count formula exactly. Demonstrates the
    sanctioned slow path: Arrow-batched, never row-at-a-time."""

    @F.pandas_udf("int")
    def tok_count(s: pd.Series) -> pd.Series:
        return s.str.split().str.len().astype("int32")

    return load(spark, sf_dir, "documents").select(
        "doc_id", tok_count("text").alias("n_tokens")
    )


@register(
    "q_grouped_pandas_norm",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           (l_quantity - MIN(l_quantity) OVER (PARTITION BY l_returnflag))
           / (MAX(l_quantity) OVER (PARTITION BY l_returnflag)
              - MIN(l_quantity) OVER (PARTITION BY l_returnflag)) AS q_norm
    FROM lineitem
    """,
)
def q_grouped_pandas_norm(spark, sf_dir):
    """Grouped-map applyInPandas: per-group min-max normalization —
    one pandas DataFrame per group, Arrow both ways. (At 100 TB:
    groups must fit in executor memory — pre-aggregate or use window
    functions, which is exactly what the oracle does; the parity of
    the two formulations is the test.)"""

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"]
        lo, hi = q.min(), q.max()
        return pdf.assign(q_norm=(q - lo) / (hi - lo)).drop(columns=["l_quantity"])

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        norm,
        schema="l_orderkey long, l_linenumber int, l_returnflag string, q_norm double",
    )


@register(
    "q_pandas_udaf_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pandas_udaf_agg(spark, sf_dir):
    """GROUPED_AGG pandas_udf — the custom-UDAF face of the Python
    surface (scalar pandas_udf, applyInPandas, mapInPandas, mapInArrow,
    applyInArrow, UDTF are covered elsewhere): an Arrow-batched
    aggregation usable directly inside ``.agg()``. Integer cents sum
    per priority; int64 pandas sum is exact, so the oracle is a plain
    SQL aggregate.

    100 TB caveat (why built-ins win when expressible): a pandas
    GROUPED_AGG receives each group's column WHOLE — there is no
    partial aggregation / map-side combine, so every raw row shuffles
    to its group's reducer. The identical built-in SUM ships one
    partial row per partition. Use this face only for aggregations
    Spark lacks (e.g. a model fit per group), never for sums."""

    @F.pandas_udf("long")
    def cents_sum(v: pd.Series) -> int:
        return int(v.sum())

    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # pandas UDAFs cannot mix with non-pandas aggregates in one
        # agg() (INVALID_PANDAS_UDF_PLACEMENT) — so the count is a
        # pandas UDAF too
        return len(v)

    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return o.groupBy("o_orderpriority").agg(
        cents_sum("cents").alias("total_cents"),
        n_rows("cents").alias("n_orders"),
    )


@register(
    "q_pandas_udaf_window",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_cents
    FROM orders
    """,
)
def q_pandas_udaf_window(spark, sf_dir):
    """The same GROUPED_AGG pandas_udf evaluated OVER A WINDOW — the
    least-known face of the pandas UDF surface: Spark re-evaluates the
    UDAF per frame (here a running unbounded-preceding frame per
    customer), so a custom aggregation composes with ordered frames
    exactly like a built-in. Running integer-cents balance per
    customer ≡ the SQL running SUM.

    100 TB: per-frame re-evaluation makes this O(rows × frame) Python
    work in the worst case — bounded frames or built-ins (which use
    incremental frame processors JVM-side) are the scale path; the
    query exists to pin the semantics, and the docstring to warn."""

    @F.pandas_udf("long")
    def cents_sum(v: pd.Series) -> int:
        return int(v.sum())

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return o.select(
        "o_orderkey", "o_custkey", cents_sum("cents").over(w).alias("running_cents")
    )
