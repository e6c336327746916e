"""Join operators: referential-integrity semi/anti joins + helpers.

reference: glue_jobs/order_items_etl.py:100-104 — order_items kept only
when ``order_id`` exists in orders AND ``product_id`` exists in
products (left-semi x2); FK-violating rows are silently dropped (the
docs demand an error log the code never writes —
docs/full_implementation_guide.md:21,151 — so ``tag_fk_violations``
tags that complement in the same pass that keeps the valid rows, and
the quarantine sink receives it).

100 TB notes
------------
- The reference builds the FK key sets with ``select(k).distinct()``
  (order_items_etl.py:46,56). We keep that projection (key column only
  crosses the wire) and mark the dim side broadcastable when small —
  the docs claim broadcast dimension lookups
  (docs/full_implementation_guide.md:154) but the code never hints it.
- A semi-join against a 100 TB fact table with a small dim broadcasts:
  zero shuffle of the fact side. When the dim exceeds the broadcast
  threshold Catalyst falls back to shuffle-hash/sort-merge and AQE
  splits skewed partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _prep_dim(dim: DataFrame, on: Sequence[str], broadcast_dim: bool) -> DataFrame:
    keys = dim.select(*on).distinct()
    return F.broadcast(keys) if broadcast_dim else keys


def semi_join(
    df: DataFrame, dim: DataFrame, on: Sequence[str] | str, broadcast_dim: bool = True
) -> DataFrame:
    """Rows of ``df`` whose key exists in ``dim`` (EXISTS).

    reference: order_items_etl.py:100-104.
    """
    on = [on] if isinstance(on, str) else list(on)
    return df.join(_prep_dim(dim, on, broadcast_dim), on=on, how="left_semi")


def anti_join(
    df: DataFrame, dim: DataFrame, on: Sequence[str] | str, broadcast_dim: bool = True
) -> DataFrame:
    """Rows of ``df`` whose key is absent from ``dim`` (NOT EXISTS).

    The complement the reference silently drops (SURVEY.md §2.4 J3).
    """
    on = [on] if isinstance(on, str) else list(on)
    return df.join(_prep_dim(dim, on, broadcast_dim), on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: for each left row, attach ``value_cols``
    from the latest right row with ``right.ts <= left.ts`` per key.

    Spark has no native ASOF join; this is the union+window
    composition: tag both sides, union, sort per key by (ts, side)
    with right rows first at equal timestamps (giving <= semantics),
    then forward-fill the right values with last(ignorenulls) and keep
    only left rows.

    100 TB: one shuffle + one per-key sort — the same cost as a window
    function, no range-explosion. Skewed keys serialize per key (the
    usual window caveat); bucket by (key, coarse time range) first
    when a single key's history exceeds one task. If multiple right
    rows share (key, ts), pre-aggregate the right side to one row per
    (key, ts) for determinism.

    Null keys follow SQL equality (like DuckDB/Snowflake ASOF JOIN's
    by-clause): a null-key left row matches nothing and keeps null
    value columns; null-key right rows are ignored.  Spark's
    Window.partitionBy would otherwise group nulls together, so the
    right side is null-filtered explicitly — both physical variants
    (this and asof_join_pandas) pin the same contract, tested.
    """
    from pyspark.sql import Window

    vtypes = dict(right.dtypes)
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    r = right.filter(F.col(on).isNotNull()).select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    ).withColumn("__side", F.lit(0))
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        unioned = unioned.withColumn(
            f"{c}{suffix}",
            F.last(F.col(f"__v_{c}"), ignorenulls=True).over(w).cast(vtypes[c]),
        )
    return unioned.filter(F.col("__side") == 1).select(
        *left.columns, *[f"{c}{suffix}" for c in value_cols]
    )


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join via per-key ``pd.merge_asof`` — the
    alternative physical strategy to ``asof_join``'s union+window
    composition (same semantics; results must match, tested).

    Shape: cogroup both sides by a HASH BUCKET of the key (not the raw
    key: cogrouped applyInPandas invokes the Python worker once per
    group, and per-key grouping meant ~10k tiny calls at sf0.1 —
    11.6 s; ~n_cores buckets make it ~n_cores calls, measured ~15×),
    then one vectorized ``pd.merge_asof(by=key)`` per bucket resolves
    every key in the bucket in a single sort-merge. Better than the
    window form when the right side is much denser than the left (the
    window form carries every right row through the sort); worse when
    a single BUCKET exceeds executor memory — then raise the bucket
    count (the standard applyInPandas sizing knob).

    Null keys follow SQL equality, same contract as asof_join: a
    null-key left row matches nothing (null value columns), null-key
    right rows are ignored.  This is routed EXPLICITLY (null-key left
    rows bypass merge_asof; null-key right rows are dropped) rather
    than left to pandas — merge_asof's NaN-by-key matching is
    undocumented and has changed across pandas versions.
    """
    import pandas as pd

    l_cols = left.columns
    out_cols = [*l_cols, *[f"{c}{suffix}" for c in value_cols]]
    l_schema = {f.name: f.dataType.simpleString() for f in left.schema.fields}
    r_types = {f.name: f.dataType.simpleString() for f in right.schema.fields}
    schema_str = ", ".join(
        [*[f"{c} {l_schema[c]}" for c in l_cols],
         *[f"{c}{suffix} {r_types[c]}" for c in value_cols]]
    )

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        # Spark 4 prunes each cogroup side independently down to
        # ZERO-COLUMN frames (row counts preserved) when downstream
        # references none of that side's contributions — a count
        # action prunes the right side, sometimes both.  Left pruned:
        # asof output is one row per left row regardless of content,
        # so emit the row count and let the engine read nothing from
        # it.  Right pruned (downstream reads no value column):
        # normalize to a typed-empty right — every left row passes
        # through with null asof values.
        if on not in lpdf.columns:
            return pd.DataFrame(
                {c: [None] * len(lpdf) for c in out_cols},
                columns=out_cols,
            )
        if on not in rpdf.columns:
            rpdf = pd.DataFrame(columns=[on, right_ts, *value_cols])
        lpdf = lpdf.drop(columns=["_bk"]).sort_values(
            left_ts, kind="mergesort"
        )
        # SQL null semantics, explicitly: null-key left rows match
        # nothing; null-key right rows match nothing
        lnull = lpdf[lpdf[on].isna()]
        lpdf = lpdf[lpdf[on].notna()]
        rpdf = rpdf[rpdf[on].notna()]
        if not lnull.empty:
            lnull = lnull.copy()
            for c in value_cols:
                lnull[f"{c}{suffix}"] = None
        if rpdf.empty or lpdf.empty:
            out = lpdf.copy()
            for c in value_cols:
                out[f"{c}{suffix}"] = None
            return pd.concat([out, lnull])[out_cols] if not lnull.empty \
                else out[out_cols]
        rpdf = rpdf.sort_values(right_ts, kind="mergesort")[
            [on, right_ts, *value_cols]
        ].rename(columns={c: f"{c}{suffix}" for c in value_cols})
        merged = pd.merge_asof(
            lpdf, rpdf, left_on=left_ts, right_on=right_ts, by=on,
            direction="backward", suffixes=("", "__r"),
        )
        if not lnull.empty:
            merged = pd.concat([merged[out_cols], lnull[out_cols]])
        return merged[out_cols]

    n_bk = left.sparkSession.sparkContext.defaultParallelism * 2
    bucket = F.pmod(F.xxhash64(F.col(on)), F.lit(n_bk)).alias("_bk")
    l_grp = left.withColumn("_bk", bucket).groupBy("_bk")
    r_grp = right.withColumn("_bk", bucket).groupBy("_bk")
    return l_grp.cogroup(r_grp).applyInPandas(merge, schema=schema_str)


def tag_fk_violations(
    df: DataFrame,
    fks: dict[str, tuple[DataFrame, str]],
    broadcast_dim: bool = True,
) -> DataFrame:
    """``df`` plus ``fk_violation``: the first child column, in ``fks``
    order, whose key is absent from its parent, else NULL; ``df``'s
    columns keep their order. ``fks`` maps a column of ``df`` to
    ``(parent_df, parent_key)``. One left join per parent against its
    distinct key set marks the hits, so one pass both keeps
    (order_items_etl.py:100-104) and tags the complement the reference
    drops. A NULL child key matches nothing, as under a semi-join.
    """
    out = df
    misses = []
    for i, (child_col, (parent, parent_key)) in enumerate(fks.items()):
        hit = f"__fk_hit{i}"
        keys = parent.select(F.col(parent_key).alias(child_col)).distinct()
        keys = keys.withColumn(hit, F.lit(True))
        out = out.join(F.broadcast(keys) if broadcast_dim else keys, on=child_col, how="left")
        misses.append(F.when(F.col(hit).isNull(), F.lit(child_col)))
    return out.select(*df.columns, F.coalesce(*misses).alias("fk_violation"))


def referential_filter(
    df: DataFrame, fks: dict[str, tuple[DataFrame, str]], broadcast_dim: bool = True
) -> DataFrame:
    """Rows satisfying every FK constraint (reference:
    order_items_etl.py:100-104, two chained semi-joins)."""
    tagged = tag_fk_violations(df, fks, broadcast_dim)
    return tagged.filter(F.col("fk_violation").isNull()).drop("fk_violation")


def fk_violations(
    df: DataFrame, fks: dict[str, tuple[DataFrame, str]], broadcast_dim: bool = True
) -> DataFrame:
    """Rows violating ANY of the FK constraints, tagged with the first
    violated constraint in ``fk_violation`` (feeds the quarantine sink;
    fixes SURVEY.md §2.13's dropped-invalid-rows gap)."""
    tagged = tag_fk_violations(df, fks, broadcast_dim)
    return tagged.filter(F.col("fk_violation").isNotNull())
