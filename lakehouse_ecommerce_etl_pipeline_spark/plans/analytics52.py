"""Analytics tier LII: dimension surrogate-key assignment and
file-level provenance/lineage.

Two warehouse-operations shapes the corpus lacked:

* ``q_surrogate_keys`` — the Kimball dimension-processing step: new
  natural keys entering a dimension receive dense surrogate keys
  ABOVE the existing maximum, while every existing member keeps its
  key (stability is the entire point of surrogates — fact tables
  already reference them).
* ``q_file_provenance`` — row-level lineage rolled up to the file
  grain with ``input_file_name()``: which physical file contributed
  how many rows and what value mass — the audit every incident
  review starts with ("which ingest shipped the bad rows?").

Cross-engine exactness: surrogate assignment is rank arithmetic over
unique integer keys (total order, no ties); provenance counts are
exact and the partition value is recovered from the file PATH, so the
oracle can reproduce it from the partition column itself.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register


@register(
    "q_surrogate_keys",
    oracle="""
    WITH existing AS (
      SELECT p_partkey,
             CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS BIGINT) AS sk
      FROM part WHERE p_partkey % 2 = 0
    ),
    incoming AS (SELECT p_partkey FROM part),
    fresh AS (
      SELECT i.p_partkey,
             (SELECT COUNT(*) FROM existing)
             + CAST(ROW_NUMBER() OVER (ORDER BY i.p_partkey) AS BIGINT) AS sk
      FROM incoming i LEFT JOIN existing e ON e.p_partkey = i.p_partkey
      WHERE e.p_partkey IS NULL
    )
    SELECT p_partkey, sk, FALSE AS is_new FROM existing
    UNION ALL
    SELECT p_partkey, sk, TRUE AS is_new FROM fresh
    """,
)
def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable surrogate-key assignment: the existing dimension (even
    part keys, surrogates 1..n in natural-key order) absorbs an
    incoming batch (all parts); members already present KEEP their
    surrogate, genuinely new natural keys get max-offset + dense rank
    among themselves.

    The two former unpartitioned ``row_number() OVER (ORDER BY
    p_partkey)`` windows (VERDICT r7: each ranked half the part
    DIMENSION — the same dimension-grain single-partition sort the
    ABC promotion killed) collapse into ONE boundary-cut global row
    number over the total order ``(is_new, p_partkey)``: existing
    members sort first, so their row numbers are exactly their
    surrogates 1..n, and new members continue at n+1.. — the
    max-offset + dense-rank semantics fall out of the order itself,
    no count offset or second window needed.  A left join against the
    existing key set flags membership.

    100 TB: the boundary-cut machinery ranks the dimension with
    balanced per-bucket windows; the two-value ``is_new`` primary is
    the designed-for skew case — the tie-class auto-split cuts each
    block by the numeric natural key (``secondary='p_partkey'``).
    What must NOT be used here: monotonically_increasing_id
    (partition-dependent → unstable across retries) or re-ranking the
    whole dimension under a changed order (breaks every fact row
    already written).  Former two-window form kept as the
    pytest-pinned twin; oracle unchanged."""
    from lakehouse_ecommerce_etl_pipeline_spark.operators.ranks import (
        RankSpec,
        with_global_row_numbers,
    )

    part = load(spark, sf_dir, "part").select("p_partkey")
    existing_keys = part.filter(F.col("p_partkey") % 2 == 0).select(
        "p_partkey", F.lit(1).alias("__ex")
    )
    flagged = (
        part.join(existing_keys, "p_partkey", "left")
        .select(
            "p_partkey",
            F.col("__ex").isNull().alias("is_new"),
        )
        .withColumn("__new_i", F.col("is_new").cast("int"))
    )
    ranked, _total = with_global_row_numbers(
        flagged,
        [
            RankSpec(
                [F.col("__new_i"), F.col("p_partkey")],
                primary="__new_i",
                rn="sk",
                secondary="p_partkey",
            )
        ],
    )
    return ranked.select("p_partkey", "sk", "is_new")


def q_surrogate_keys_window_form(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-window oracle-exactness twin (former production plan),
    pytest-pinned equal to the single boundary-cut rank."""
    part = load(spark, sf_dir, "part").select("p_partkey")
    existing = part.filter(F.col("p_partkey") % 2 == 0).select(
        "p_partkey",
        F.row_number()
        .over(Window.orderBy("p_partkey"))
        .cast("long")
        .alias("sk"),
    )
    n_existing = existing.agg(F.count("*").alias("__n"))
    fresh = (
        part.join(existing.select("p_partkey"), "p_partkey", "left_anti")
        .select(
            "p_partkey",
            F.row_number()
            .over(Window.orderBy("p_partkey"))
            .cast("long")
            .alias("__rn"),
        )
        .crossJoin(F.broadcast(n_existing))
        .select("p_partkey", (F.col("__n") + F.col("__rn")).alias("sk"))
    )
    return existing.withColumn("is_new", F.lit(False)).unionByName(
        fresh.withColumn("is_new", F.lit(True))
    )


@register(
    "q_file_provenance",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY 1
    """,
)
def q_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-grain lineage: scan the month-partitioned orders layout
    (the q_write_partitioned scratch table, one file per partition)
    tagging every row with ``input_file_name()``, roll row counts /
    value mass / distinct customers up to the physical file, and
    recover the partition value from the file PATH — proving the
    row→file provenance chain end-to-end, because the oracle computes
    the same report from the DATA alone and the two must agree
    exactly.

    100 TB: input_file_name is free metadata (no extra scan cost);
    the rollup is one partial-aggregated exchange at file granularity
    (# files rows, not # rows). This is the primitive under incident
    forensics, bad-ingest blast-radius reports, and per-file retention
    decisions — and the same pattern extends to _metadata.file_path /
    row-index for row-level lineage."""
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.trunc("o_orderdate", "month").alias("order_month"),
    )
    out = session_artifact(
        spark,
        sf_dir,
        "orders_prov_partitioned",
        lambda p: df.repartition("order_month")
        .write.mode("overwrite")
        .partitionBy("order_month")
        .parquet(p),
    )
    # partition value recovered from the file PATH, not the data — the
    # provenance direction the oracle cross-checks
    scanned = spark.read.parquet(out).select(
        "o_custkey",
        "o_totalprice",
        F.input_file_name().alias("__file"),
        F.regexp_extract(F.input_file_name(), r"order_month=([0-9-]+)", 1)
        .cast("date")
        .alias("order_month"),
    )
    per_file = scanned.groupBy("order_month", "__file").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )
    # final month rollup: file-layout-invariant (speculative execution
    # / maxRecordsPerFile may split a partition into several files —
    # the report must not depend on that). Distinct customers are not
    # summable across files, so they aggregate from row grain on the
    # SAME path-derived month key.
    per_month = per_file.groupBy("order_month").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("total_cents").cast("long").alias("total_cents"),
    )
    customers = scanned.groupBy("order_month").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers")
    )
    return per_month.join(customers, "order_month").select(
        "order_month", "n_rows", "total_cents", "n_customers"
    )
