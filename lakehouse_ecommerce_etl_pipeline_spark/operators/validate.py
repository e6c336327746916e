"""Required-field validation: split a batch into valid/invalid rows.

reference: glue_jobs/orders_etl.py:57-60 (dropna on
[order_id, user_id, order_timestamp] + invalid complement),
glue_jobs/order_items_etl.py:80-86 (5-col subset),
glue_jobs/product_etl.py:54-58 (all 4 cols; complement via
``df_raw.subtract(df_valid)``).

Design: the reference computes the invalid set with pandas index
complements / Spark ``subtract`` — a full extra shuffle and
nondeterministic under duplicates. We evaluate one boolean predicate
twice instead: ``filter(p)`` and ``filter(NOT p)``. Both sides are
pushdown-able scans with zero shuffle, and the split is exact even
with duplicate rows (``subtract`` is EXCEPT DISTINCT and silently
drops duplicate valid rows from the complement).

100 TB: predicate-only — narrow transformation, no shuffle. Two
filters read the source twice, which is cheap under parquet column
pruning. An expensive source (the Excel workbooks) should be parsed
once: the ETL pipeline evaluates ``not_null_predicate`` inside one
persisted tagging pass instead (pipeline/jobs.py ``transform``).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null_predicate(required: Sequence[str]) -> Column:
    """AND of IS NOT NULL over the required columns."""
    return reduce(lambda a, b: a & b, (F.col(c).isNotNull() for c in required))


def split_valid_invalid(
    df: DataFrame, required: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid) where valid rows have no NULL in ``required``.

    ``IS NOT NULL`` is never NULL itself, so the two filters partition
    the input exactly.
    """
    pred = not_null_predicate(required)
    return df.filter(pred), df.filter(~pred)
