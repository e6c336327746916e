"""Analytics tier XLII: schema-on-read error handling.

New shape over I-XLI: malformed-record accounting on a dirty CSV feed
— the PERMISSIVE-mode corrupt-record column versus DROPMALFORMED row
counts, plus the good-row aggregate, in one reconciliation row.  The
reference pipeline's quarantine flow (q_rejected_records) handles
rows that PARSE but fail validation; this handles rows that don't
even parse — the other half of ingesting real files.

Cross-engine exactness: the dirty file is a deterministic render of
orders plus literal garbage lines; every emitted number is an integer
count or a decimal-quantized sum the oracle recomputes from orders.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register

_N_BAD = 7


def _dirty_csv(spark: SparkSession, sf_dir: str) -> str:
    """orders rendered to a single CSV file with _N_BAD unparseable
    lines interleaved (non-numeric key fields, correct arity — the
    shape a truncated upload or encoding glitch produces)."""
    out = session_artifact(
        spark,
        sf_dir,
        "dirty_csv",
        lambda p: _build_dirty_csv(
            spark, sf_dir, os.path.join(p, "orders_dirty.csv")
        ),
    )
    return os.path.join(out, "orders_dirty.csv")


def _build_dirty_csv(spark, sf_dir, path):
    rows = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .sort("o_orderkey")
        .collect()
    )
    with open(path, "w") as f:
        for i, r in enumerate(rows):
            if i % 2000 == 0 and i // 2000 < _N_BAD:
                f.write(f"bad{i},oops,not_a_price\n")
            f.write(f"{r[0]},{r[1]},{r[2]!r}\n")
        for j in range(_N_BAD - min(_N_BAD, (len(rows) + 1999) // 2000)):
            f.write(f"trailing_bad{j},oops,nope\n")


@register(
    "q_csv_corrupt_recovery",
    oracle=f"""
    SELECT CAST(COUNT(*) + {_N_BAD} AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST({_N_BAD} AS BIGINT) AS n_corrupt,
           CAST(COUNT(*) AS BIGINT) AS n_dropmalformed,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_good_price
    FROM orders
    """,
)
def q_csv_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record accounting: a dirty CSV (orders plus 7
    garbage lines) read twice — PERMISSIVE with a corrupt-record
    column splits the file into good rows and captured raw garbage;
    DROPMALFORMED silently keeps only the good rows — and the
    reconciliation row proves good + corrupt = total and that the
    good-row aggregate equals the clean source.  PERMISSIVE+capture
    is the production choice: dropped rows are invisible, captured
    rows feed the quarantine flow (q_rejected_records) with evidence.

    Pinned pitfall: ``df.count()`` on a DROPMALFORMED scan counts RAW
    LINES (column pruning parses nothing, so nothing is ever deemed
    malformed — observed: 15007, not 15000); the count below forces a
    key-column parse, which is the correct drop-aware count.

    100 TB: corrupt handling is per-row scan-local work — no shuffle,
    no second pass (the DROPMALFORMED re-read here exists only to pin
    its count); the operational knob is capping the corrupt column's
    size so one 2 GB garbage line can't blow the row buffer."""
    path = _dirty_csv(spark, sf_dir)
    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,"
        " _corrupt_record STRING"
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        # materialized once: Spark refuses a raw-file query that only
        # references the corrupt-record column, and both splits below
        # read these blocks instead of re-parsing the file
        .localCheckpoint(eager=True)
    )
    good = permissive.filter(F.col("_corrupt_record").isNull())
    n_corrupt = permissive.filter(F.col("_corrupt_record").isNotNull()).count()
    dropped = (
        spark.read.schema(
            "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"
        )
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    # count over a PARSED column — a bare count() would prune every
    # column, parse nothing, and count the garbage lines too
    n_dropped = dropped.agg(F.count("o_orderkey")).first()[0]
    return good.agg(
        (F.count(F.lit(1)) + F.lit(n_corrupt)).cast("bigint").alias("n_lines"),
        F.count(F.lit(1)).cast("bigint").alias("n_good"),
        F.lit(n_corrupt).cast("bigint").alias("n_corrupt"),
        F.lit(n_dropped).cast("bigint").alias("n_dropmalformed"),
        (
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).cast("double")
            / F.lit(100.0)
        ).alias("sum_good_price"),
    )


_N_BAD_J = 5


def _dirty_json(spark: SparkSession, sf_dir: str) -> str:
    """orders rendered to NDJSON with two corruption kinds interleaved:
    lines that are not JSON at all (truncated upload) and lines that
    ARE JSON but carry a wrong-typed key field (producer schema bug) —
    the failure mode CSV cannot represent."""
    out = session_artifact(
        spark,
        sf_dir,
        "dirty_json",
        lambda p: _build_dirty_json(
            spark, sf_dir, os.path.join(p, "orders_dirty.json")
        ),
    )
    return os.path.join(out, "orders_dirty.json")


def _build_dirty_json(spark, sf_dir, path):
    rows = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .sort("o_orderkey")
        .collect()
    )
    with open(path, "w") as f:
        for i, r in enumerate(rows):
            if i % 3000 == 0 and i // 3000 < _N_BAD_J:
                if (i // 3000) % 2 == 0:
                    f.write('{"o_orderkey": truncated\n')  # not JSON
                else:
                    f.write(
                        '{"o_orderkey": "not_a_number", '
                        '"o_custkey": 1, "o_totalprice": 1.0}\n'
                    )  # JSON, wrong type
            f.write(
                f'{{"o_orderkey": {r[0]}, "o_custkey": {r[1]}, '
                f'"o_totalprice": {r[2]!r}}}\n'
            )
        emitted = min(_N_BAD_J, (len(rows) + 2999) // 3000)
        for j in range(_N_BAD_J - emitted):
            f.write('{"o_orderkey": also truncated\n')


@register(
    "q_json_corrupt_recovery",
    oracle=f"""
    SELECT CAST(COUNT(*) + {_N_BAD_J} AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST({_N_BAD_J} AS BIGINT) AS n_corrupt,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_good_price
    FROM orders
    """,
)
def q_json_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record accounting for NDJSON — the q_csv_corrupt_
    recovery sibling with the JSON-specific twist: a row can be
    *valid JSON with a wrong-typed field* (producer schema bug), which
    PERMISSIVE mode treats exactly like unparseable garbage — column
    nulled, raw line captured in the corrupt-record column — so both
    corruption kinds land in one quarantine stream with evidence.
    The reconciliation row proves good + corrupt = total and the
    good-row sum equals the clean source.

    100 TB: same scan-local economics as the CSV case (no shuffle, no
    second pass); JSON adds per-row parse cost, which is why immutable
    zones re-encode to parquet at ingest (q_write_partitioned) and
    keep the raw NDJSON only as the replayable source of truth."""
    path = _dirty_json(spark, sf_dir)
    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,"
        " _corrupt_record STRING"
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .localCheckpoint(eager=True)  # see q_csv_corrupt_recovery
    )
    good = parsed.filter(F.col("_corrupt_record").isNull())
    n_corrupt = parsed.filter(F.col("_corrupt_record").isNotNull()).count()
    return good.agg(
        (F.count(F.lit(1)) + F.lit(n_corrupt)).cast("bigint").alias("n_lines"),
        F.count(F.lit(1)).cast("bigint").alias("n_good"),
        F.lit(n_corrupt).cast("bigint").alias("n_corrupt"),
        (
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).cast("double")
            / F.lit(100.0)
        ).alias("sum_good_price"),
    )
