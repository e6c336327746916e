"""Spark 4 surface, part 3: SQL session variables, Arrow-native UDFs
(mapInArrow / applyInArrow), and the streaming state-store reader.

Rounds out the Spark-4-specific API coverage beyond VARIANT / Python
DataSource / dynamic UDTF / pipe SQL (plans/spark4.py):

* ``q_sql_session_variables`` — DECLARE/SET VARIABLE driving a
  parameterized query: the session variable folds to a literal at
  plan time, so predicate pushdown still reaches the scan (the
  governed alternative to f-string SQL injection).
* ``q_map_in_arrow_derive`` — mapInArrow: batch-level Arrow transform
  with zero pandas materialization; the Arrow RecordBatch flows
  straight from the JVM into pyarrow.compute and back.
* ``q_grouped_arrow_stats`` — applyInArrow: grouped-map over Arrow
  tables (the Arrow-native sibling of applyInPandas).
* ``q_statestore_read`` — ``spark.read.format("statestore")``: read a
  streaming aggregation's state store out of its checkpoint as a
  DataFrame — the state-debugging / observability face Spark 4 added;
  checked against the batch aggregate of the same input.

Cross-engine exactness: money flows as ROUND(x*100) integer cents
(pyarrow round_mode='half_towards_infinity' ≡ DuckDB/Spark ROUND on
positive doubles); the state-store counts are exact LONGs.
"""

from __future__ import annotations

import shutil
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import conf_scope
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import (
    drain,
    parquet_stream,
)

_MIN_CENTS = 1_500_000  # $15,000 threshold for the variable demo


@register(
    "q_sql_session_variables",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= {_MIN_CENTS}
    GROUP BY o_orderpriority
    """,
)
def q_sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL via Spark 4 session variables: DECLARE a
    typed variable, SET it, reference it in the query text. The
    variable is resolved at analysis time and folds to a literal, so
    the threshold still pushes down to the parquet scan — unlike a
    real runtime parameter, and unlike string interpolation it is
    typed and injection-proof.

    100 TB: zero plan cost — after constant folding the plan is
    byte-identical to the literal query; the value is operational
    (one governed place to re-point a threshold across a notebook /
    job chain)."""
    spark.sql("DECLARE OR REPLACE VARIABLE min_cents BIGINT DEFAULT 0")
    spark.sql(f"SET VARIABLE min_cents = {_MIN_CENTS}")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM {orders}
        WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >= min_cents
        GROUP BY o_orderpriority
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "q_map_in_arrow_derive",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             AS revenue_cents
    FROM lineitem
    WHERE l_discount >= 0.05
    """,
)
def q_map_in_arrow_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the discount-band filter + revenue derivation runs
    as pyarrow.compute kernels on the raw Arrow batches — no pandas
    conversion, no per-row Python. This is the UDF face for payloads
    where pandas materialization is the bottleneck (binary/vector
    columns ride through zero-copy).

    100 TB: embarrassingly parallel batch transform, no shuffle; the
    cost over built-in expressions is one JVM↔Python Arrow IPC hop —
    use built-ins when expressible (this query is; it exists as the
    API witness), mapInArrow when the kernel isn't (custom decoders,
    tokenizers, vector ops)."""

    def derive(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            keep = pc.greater_equal(b.column("l_discount"), 0.05)
            t = pa.Table.from_batches([b]).filter(keep)
            rev = pc.cast(
                pc.round(
                    pc.multiply(
                        pc.multiply(
                            t.column("l_extendedprice"),
                            pc.subtract(1.0, t.column("l_discount")),
                        ),
                        100.0,
                    ),
                    0,
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            # declared output schema is all int64 — cast explicitly
            # (testdata l_linenumber is int32; a silent type mismatch
            # fails JVM-side vector access, not Python-side)
            out = pa.table(
                {
                    "l_orderkey": pc.cast(t.column("l_orderkey"), pa.int64()),
                    "l_linenumber": pc.cast(t.column("l_linenumber"), pa.int64()),
                    "revenue_cents": rev,
                }
            )
            yield from out.to_batches()

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    return li.mapInArrow(
        derive, "l_orderkey long, l_linenumber long, revenue_cents long"
    )


@register(
    "q_grouped_arrow_stats",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM (
      SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ) GROUP BY o_custkey
    """,
)
def q_grouped_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow: per-customer order stats computed by pyarrow
    aggregation kernels on each group's Arrow table — the Arrow-native
    sibling of applyInPandas (no pandas object allocation per group).

    100 TB: grouped-map materializes EACH GROUP in executor memory —
    safe on natural high-cardinality keys like customer (groups are
    tiny), catastrophic on low-cardinality keys; and everything this
    particular kernel does is expressible as built-in aggregates
    (it exists as the API witness) — reach for applyInArrow only when
    the per-group logic genuinely isn't (sequential scans, model
    fits)."""

    def stats(table: "pa.Table") -> "pa.Table":  # noqa: F821
        import pyarrow as pa
        import pyarrow.compute as pc

        cents = table.column("cents")
        return pa.table(
            {
                "o_custkey": pa.array(
                    [table.column("o_custkey")[0].as_py()], pa.int64()
                ),
                "n_orders": pa.array([table.num_rows], pa.int64()),
                "total_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "min_cents": pa.array([pc.min(cents).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
            }
        )

    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return o.groupBy("o_custkey").applyInArrow(
        stats,
        "o_custkey long, n_orders long, total_cents long, "
        "min_cents long, max_cents long",
    )


@register(
    "q_statestore_read",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state observability: run a checkpointed streaming
    count-by-type over events (availableNow drain), then read the
    aggregation's STATE STORE back out of the checkpoint with Spark
    4's ``statestore`` reader — key/value structs straight from the
    HDFS-backed state files, no query re-execution. The state of a
    fully drained complete-mode count must equal the batch aggregate
    — which is exactly what the oracle checks.

    The checkpoint is a session artifact: a state checkpoint is only
    readable from the session that ran (some) streaming query —
    ``spark.read.format("statestore")`` needs the StateStoreCoordinator
    RPC endpoint, which a fresh session hasn't created — so each
    session drains once into its own checkpoint. The state read is
    validated eagerly with rebuild-once self-heal: a corrupted
    checkpoint (CANNOT_LOAD_STATE_STORE) rebuilds instead of
    failing.

    100 TB: the reader parallelizes over state-store partitions (one
    task per shuffle partition of the owning query) and never touches
    the input data — state size is O(distinct keys), so inspecting a
    TB-scale pipeline's state reads MBs, not TBs."""
    events_path = f"{sf_dir}/events.parquet"

    def count_by_type(ck: str) -> None:
        # the sink is irrelevant (the state is what gets read back), so
        # the no-op sink keeps no rows and registers no view
        shutil.rmtree(ck, ignore_errors=True)
        agg = (
            parquet_stream(spark, events_path)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        drain(
            agg.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", ck),
            events_path,
        )

    def read_state(ck: str) -> DataFrame:
        st = spark.read.format("statestore").load(ck)
        out = st.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n_events"),
        )
        out.take(1)  # validate NOW — state errors surface lazily
        return out

    ck = session_artifact(spark, sf_dir, "statestore_agg", count_by_type)
    try:
        return read_state(ck)
    except Exception:
        # rebuild-once: corrupted/unreadable checkpoint self-heals
        count_by_type(ck)
        return read_state(ck)


@register(
    "q_sql_scripting",
    oracle="""
    SELECT CAST(SUM(EXTRACT(month FROM o_orderdate) * 1) AS BIGINT)
      AS weighted_orders
    FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
    """,
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (BEGIN/DECLARE/WHILE/SET): a procedural
    control-flow block computes the month-weighted 1997 order count
    by looping month = 1..12 and accumulating
    month × COUNT(orders in that month) — the migration target for
    stored-procedure workloads. The oracle states the same quantity
    declaratively (Σ month over 1997 orders), so the script's loop
    arithmetic, variable mutation, and per-iteration subqueries are
    all value-pinned against a plain aggregate.

    100 TB: each iteration is an independent pushed-down COUNT scan
    — scripting adds driver-side control flow, never a new
    distributed primitive; the declarative twin (ONE aggregate pass)
    is the form you'd deploy, which is exactly the point the oracle
    makes."""
    # the script runs when spark.sql returns (its result is a local
    # relation), so the conf can go back before returning
    with conf_scope(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE m INT DEFAULT 1;
              DECLARE acc BIGINT DEFAULT 0;
              WHILE m <= 12 DO
                SET acc = acc + m * (
                  SELECT COUNT(*) FROM {orders}
                  WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
                    AND EXTRACT(MONTH FROM o_orderdate) = m
                );
                SET m = m + 1;
              END WHILE;
              SELECT acc AS weighted_orders;
            END
            """,
            orders=load(spark, sf_dir, "orders"),
        )
