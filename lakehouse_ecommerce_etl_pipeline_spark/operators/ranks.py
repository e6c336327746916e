"""Exact global ranks WITHOUT a single-partition window.

``ROW_NUMBER()/NTILE(k) OVER (ORDER BY ...)`` with no PARTITION BY is
the one window shape that cannot scale: Spark moves every row to one
reducer (the WindowExec "moving all data to a single partition"
warning).  When the ORDER BY is a TOTAL order (unique tiebreaker),
the same values are computable with no global sort:

1. **Boundary probe** — ~``n_buckets`` percentile cuts of the primary
   order column, collected to the driver ONCE (an O(n_buckets)
   action, the audited O(1)-driver-decision pattern).  The cuts
   become plan LITERALS, so every later step sees identical
   boundaries — no dependence on exchange reuse or recompute
   determinism.  The same pass counts NULL/NaN primaries and FAILS
   FAST if any exist (a NULL bucket expression would otherwise
   silently mis-rank instead of erroring).
2. **Bucket assignment** — each row's bucket is the count of cuts
   strictly below (above, for DESC) its primary value: a codegen'd
   chain of literal comparisons, order-preserving because rows tied
   on the primary always share a bucket.
3. **Counts → literal offsets** — per-bucket row counts via one
   map-side-combined aggregate, collected (O(n_buckets) rows) and
   turned into a LITERAL CASE-WHEN offset chain — no unpartitioned
   window at any grain, no join.  (Not ``element_at`` on a literal
   array: under ANSI that expression is can-throw and measured ~8×
   slower per row than the codegen'd when-chain — 41 s vs 5 s on a
   2.9 M-row rank pass.)
4. **Skew guard / tie-class auto-split** — rows tied with each other
   on the primary always collapse into ONE bucket, so a low-cardinality
   primary (e.g. lines-per-order ∈ 1..7) makes one bucket carry a
   constant fraction of the data no matter how many cuts were probed.
   When a bucket exceeds ``4×`` its fair share (and the floor below
   which skew is irrelevant), and the caller named a numeric
   ``secondary`` order key, the fat TIE CLASSES (min == max primary
   within the bucket) are split by percentile cuts of the secondary
   WITHIN each class — order-preserving because inside a tie class
   the total order continues with the secondary.  Fat buckets that
   are not pure tie classes, or with no usable secondary, raise
   (``on_skew="accept"`` keeps the fat bucket for call sites with a
   documented bound on the tie-class mass).
5. **Local ranks** — ``row_number`` partitioned BY BUCKET (balanced
   hash exchange, per-group sort) + the literal offset chain = the
   exact global row number; NTILE follows by closed-form integer
   arithmetic on (rn, N) — exact integer division (``div``), never
   a float quotient that could misround across a tile boundary at
   >2^26 rows per tile.

Every step is deterministic and value-identical to the global-window
form for ANY total order — the formerly single-partition production
plans (equi-depth histogram, calibration deciles, quartile
contingency, systematic sample, CCNet buckets, RFM, ABC, KS drift)
are pytest-pinned equal to their window twins and share their
unchanged DuckDB oracles.

100 TB: two narrow scans of the fact (probe + counts; the rank pass
reuses the counts scan's lineage) and one balanced shuffle on bucket;
the tie-class split adds one bounded probe + recount ONLY when skew
is detected.  The probe/counts/rank trio executes the upstream
lineage up to 3×: a caller whose upstream is expensive passes
``df.localCheckpoint(eager=True)``, so recompute-vs-materialize is
the caller's explicit choice (Spearman and the CCNet buckets
checkpoint their input; the Theil-Sen selection recomputes its
day-pair expansion, which measured cheaper than storing it).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_BUCKETS = 64

# a bucket is "fat" when it holds more than 4× its fair share AND
# more than this many rows.  The floor is sized to the actual hazard:
# a per-bucket window partition is one task's sort — a few million
# rows sort comfortably in one task, so splitting below that would
# pay two extra data passes to fix a non-problem.  Above it (real
# 100 TB tie classes), the auto-split engages and its extra passes
# are amortized.  Tests exercise the split by lowering the floor.
SKEW_FLOOR_ROWS = 4_000_000

# percentile_approx accuracy for the boundary probes.  Cut PLACEMENT
# never affects rank exactness (ranks are recomputed per bucket with
# exact offsets) — only bucket balance — so a coarse sketch suffices;
# accuracy 10_000 measured ~5× the per-action cost of 1_000 on a
# 150 k-row probe with 63 percentiles, for no balance benefit.
PROBE_ACCURACY = 1_000


def _idiv(a: Column, b: int) -> Column:
    """Exact integral division (SQL ``div``) on longs — NOT ``/``,
    which is IEEE double on integrals and can round a quotient across
    the integer boundary once operands exceed 2^26 (ADVICE r6)."""
    return F.call_function("div", a.cast("long"), F.lit(b).cast("long"))


def _is_float(dt: T.DataType) -> bool:
    return isinstance(dt, (T.FloatType, T.DoubleType))


def _probe_cuts(
    df: DataFrame, primary: str, descending: bool, n_buckets: int
) -> list:
    """Percentile cuts of ``primary`` as driver literals, enforcing
    the non-NULL / non-NaN contract in the SAME aggregate pass (a
    NULL primary would bucket to NULL and silently fall through the
    offset chain; enforcement costs nothing extra)."""
    dt = df.schema[primary].dataType
    probs = [i / n_buckets for i in range(1, n_buckets)]
    aggs = [
        F.percentile_approx(primary, probs, PROBE_ACCURACY).alias("b"),
        F.sum(F.col(primary).isNull().cast("long")).alias("nulls"),
    ]
    if _is_float(dt):
        aggs.append(
            F.sum(F.isnan(F.coalesce(primary, F.lit(0.0))).cast("long"))
            .alias("nans")
        )
    row = df.agg(*aggs).head()
    if (row["nulls"] or 0) > 0:
        raise ValueError(
            f"boundary-cut rank: primary column {primary!r} has "
            f"{row['nulls']} NULLs — the total-order contract requires "
            "a non-null primary (filter or coalesce first)"
        )
    if _is_float(dt) and (row["nans"] or 0) > 0:
        raise ValueError(
            f"boundary-cut rank: primary column {primary!r} has "
            f"{row['nans']} NaNs — NaN ordering is engine-specific; "
            "filter or quantize first"
        )
    return sorted(set(row["b"] or []), reverse=descending)


def _cut_count_expr(col: Column, cuts: list, descending: bool) -> Column:
    """Count of cuts strictly below (above for DESC) the value — the
    order-preserving bucket id, a codegen'd literal comparison chain."""
    bucket = F.lit(0)
    for c in cuts:
        cond = (col > F.lit(c)) if not descending else (col < F.lit(c))
        bucket = bucket + cond.cast("int")
    return bucket


def _assign_buckets(
    df: DataFrame,
    primary: str,
    descending: bool,
    n_buckets: int,
    secondary: str | None,
    on_skew: str,
    agg_cols: Sequence[Column],
    agg_aliases: Sequence[str] = (),
) -> tuple[DataFrame, list[list], int]:
    """df + ``__bkt`` (order-consistent, skew-split) and the per-bucket
    aggregate rows ``[bkt, count, *agg values]`` in bucket order, plus
    total row count.  Driver actions collect O(n_buckets) rows each:
    probe, counts (+ caller aggregates), and — ONLY when a bucket is
    fat — a targeted tie-class stats pass over the fat buckets and a
    recount of the split assignment.  2 actions in the common case.
    """
    if on_skew not in ("raise", "accept"):
        raise ValueError(f"on_skew must be 'raise' or 'accept': {on_skew!r}")
    cuts = _probe_cuts(df, primary, descending, n_buckets)
    pcol = F.col(primary)
    bkt0 = _cut_count_expr(pcol, cuts, descending)
    b_df = df.withColumn("__bkt", bkt0)

    stats = (
        b_df.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__c"), *agg_cols)
        .collect()
    )
    by_bucket = {r["__bkt"]: r for r in stats}
    if None in by_bucket:  # defensive; the probe guard should catch it
        raise ValueError(
            f"boundary-cut rank: NULL bucket for primary {primary!r}"
        )
    total = sum(r["__c"] for r in stats)

    def _rows(counts_map: dict, rows_map: dict) -> list[list]:
        # normalized layout: [bkt, count, *agg values]
        return [
            [b, counts_map[b]] + [rows_map[b][a] for a in agg_aliases]
            for b in sorted(counts_map)
        ]

    counts0 = {b: by_bucket[b]["__c"] for b in by_bucket}
    fat_thresh = max(4 * total // max(n_buckets, 1), SKEW_FLOOR_ROWS)
    fat = [b for b in by_bucket if counts0[b] > fat_thresh]
    if not fat:
        return b_df, _rows(counts0, by_bucket), total

    # --- targeted tie-class stats over the fat buckets only ---------
    sec_ok = (
        secondary is not None
        and secondary in df.columns
        and not _is_float(df.schema[secondary].dataType)
    )
    probs = [j / n_buckets for j in range(1, n_buckets)]
    # primary min/max collected on the NATIVE type: a double cast is
    # monotone but not injective (two distinct decimals — or longs
    # past 2^53 — can collide in double), so native equality is the
    # only valid proof of a pure tie class (ADVICE r7).
    fat_stats = {
        r["__bkt"]: r
        for r in (
            b_df.filter(F.col("__bkt").isin(fat))
            .groupBy("__bkt")
            .agg(
                F.min(pcol).alias("__lo"),
                F.max(pcol).alias("__hi"),
                *(
                    [
                        F.percentile_approx(
                            F.col(secondary).cast("double"),
                            probs,
                            PROBE_ACCURACY,
                        ).alias("__sb"),
                        F.sum(F.col(secondary).isNull().cast("long"))
                        .alias("__snulls"),
                    ]
                    if sec_ok
                    else []
                ),
            )
            .collect()
        )
    }
    sub_cuts, splittable, unsplit = _split_decisions(
        fat, fat_stats, counts0, fat_thresh, sec_ok, on_skew,
        primary, secondary,
    )
    if (unsplit or not sec_ok) and on_skew == "raise":
        _raise_skew(primary, fat, fat_thresh, total, splittable)
    if not sub_cuts:
        if splittable and sec_ok and on_skew == "raise":
            raise ValueError(
                "boundary-cut rank: no fat tie class could be split on "
                f"secondary {secondary!r}"
            )
        return b_df, _rows(counts0, by_bucket), total

    final = _split_expr(
        sorted(by_bucket), sub_cuts, bkt0, F.col(secondary)
    )
    b_df = df.withColumn("__bkt", final.cast("int"))
    # recount on the final buckets (offsets must be exact)
    stats2 = (
        b_df.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__c"), *agg_cols)
        .collect()
    )
    by2 = {r["__bkt"]: r for r in stats2}
    counts2 = {b: by2[b]["__c"] for b in by2}
    _verify_split(counts2, fat_thresh, on_skew, primary, secondary)
    return b_df, _rows(counts2, by2), total


def _verify_split(
    counts: dict, fat_thresh: int, on_skew: str, primary: str,
    secondary: str | None,
) -> None:
    """The documented balance guarantee is re-CHECKED after the split
    recount (ADVICE r7): a near-constant secondary inside a tie class
    collapses the sketched cuts into ineffective ones, and the fat
    bucket would otherwise be silently accepted under on_skew='raise'
    (ranks stay exact either way — this guards the BALANCE contract,
    not correctness)."""
    if on_skew != "raise":
        return
    fat2 = sorted(b for b, c in counts.items() if c > fat_thresh)
    if fat2:
        raise ValueError(
            "boundary-cut rank: tie-class split left skewed buckets "
            f"{fat2} (> {fat_thresh} rows) for primary {primary!r} — "
            f"the sketched cuts of secondary {secondary!r} were "
            "ineffective (near-constant secondary inside a tie "
            "class); use a higher-cardinality secondary or set "
            "on_skew='accept' with a documented bound on the "
            "tie-class mass"
        )


def _split_decisions(
    fat: list,
    fat_stats: dict,
    counts: dict,
    fat_thresh: int,
    sec_ok: bool,
    on_skew: str,
    primary: str,
    secondary: str | None,
) -> tuple[dict, list, list]:
    """(sub_cuts per splittable bucket, splittable, unsplit): a fat
    bucket is a splittable TIE CLASS when its primary min == max
    compared on the NATIVE type — the former double-cast-under-2^53
    shortcut proved ties only for integer-valued primaries; two
    distinct DECIMALS with fractional scale can collide in double
    while abs < 2^53, and a misdeclared tie class split by the
    secondary would reorder rows with distinct primaries (ADVICE r7).
    Native min/max collect as exact Python values (int / Decimal /
    date), so equality IS the tie proof, at any magnitude.  Each
    class's sketched secondary cuts are thinned to its fair-share
    bucket count (every retained cut is one more per-row comparison in
    the codegen'd bucket expression)."""
    splittable, unsplit = [], []
    for b in fat:
        r = fat_stats[b]
        lo, hi = r["__lo"], r["__hi"]
        if lo == hi:
            splittable.append(b)
        else:
            unsplit.append(b)
    sub_cuts: dict = {}
    if not sec_ok:
        return sub_cuts, splittable, unsplit
    for b in splittable:
        r = fat_stats[b]
        if (r["__snulls"] or 0) > 0:
            if on_skew == "raise":
                raise ValueError(
                    f"boundary-cut rank: secondary {secondary!r} has "
                    f"NULLs inside fat tie class of {primary!r} — "
                    "cannot split"
                )
            continue
        cuts_all = sorted(set(r["__sb"] or []))
        want = min(
            len(cuts_all), max(1, -(-4 * counts[b] // fat_thresh) - 1)
        )
        if want < len(cuts_all):
            step = len(cuts_all) / (want + 1)
            keep = sorted(
                {cuts_all[int((jj + 1) * step) - 1] for jj in range(want)}
            )
        else:
            keep = cuts_all
        if keep:
            sub_cuts[b] = keep
    return sub_cuts, splittable, unsplit


def _raise_skew(primary, fat, fat_thresh, total, splittable):
    detail = (
        f"primary {primary!r}: fat buckets {sorted(fat)} "
        f"(> {fat_thresh} rows of {total}); tie-class-splittable: "
        f"{sorted(splittable)}"
    )
    hint = (
        "pass a numeric non-null `secondary` order key to auto-split "
        "tie classes, raise n_buckets, or set on_skew='accept' with a "
        "documented bound on the tie-class mass"
    )
    raise ValueError(f"boundary-cut rank: skewed buckets — {detail}; {hint}")


def _split_expr(
    all_buckets: list,
    sub_cuts: dict,
    bkt0: Column,
    scol: Column,
) -> Column:
    """Final bucket id: buckets renumbered so (old bucket, sub bucket)
    stays consecutive and order-consistent; non-split buckets keep one
    slot.  Literal CASE-WHEN over the original bucket id (conditions
    mutually exclusive — evaluation order free), codegen-friendly."""
    base_of: dict = {}
    next_id = 0
    for b in all_buckets:
        base_of[b] = next_id
        next_id += len(sub_cuts[b]) + 1 if b in sub_cuts else 1
    final: Column | None = None
    for b in all_buckets:
        if b in sub_cuts:
            sub = F.lit(0)
            for c in sub_cuts[b]:
                sub = sub + (scol > F.lit(c)).cast("int")
            expr = F.lit(base_of[b]) + sub
        else:
            expr = F.lit(base_of[b])
        final = (
            expr if final is None
            else F.when(bkt0 == F.lit(b), expr).otherwise(final)
        )
    return final


def _offset_expr(
    ids: list[int], offsets: list, bkt_col: str = "__bkt"
) -> Column:
    """Literal CASE-WHEN chain mapping ``bkt_col`` -> cumulative offset
    (codegen-friendly; see module docstring for why not element_at).
    Offsets are emitted as LONG (or exact Decimal) literals so the
    later ``local + offset`` add can never overflow int32 (ADVICE r6).
    """
    def lit(v):
        return F.lit(v).cast("long") if isinstance(v, int) else F.lit(v)

    off = lit(offsets[0])
    for i in range(1, len(ids)):
        off = F.when(F.col(bkt_col) == ids[i], lit(offsets[i])).otherwise(off)
    return off


from dataclasses import dataclass, field


@dataclass
class RankSpec:
    """One global rank/ntile over the SAME rows: ``order_by`` is the
    full total order (Columns with direction), ``primary`` its first
    key (numeric, non-null, direction = ``descending``), ``secondary``
    the optional numeric second key enabling tie-class auto-split,
    ``k`` turns the released column into NTILE(k) instead of a row
    number, released as ``rn``."""

    order_by: Sequence = field(default_factory=list)
    primary: str = ""
    descending: bool = False
    rn: str = "rn"
    secondary: str | None = None
    k: int | None = None


def _multi_assign(
    df: DataFrame,
    specs: Sequence[RankSpec],
    n_buckets: int,
    on_skew: str,
) -> tuple[list[Column], list[list[int]], list[list[int]], int]:
    """Shared bucket assignment for d INDEPENDENT global ranks of the
    same rows in O(1) driver actions TOTAL (not per rank):

    1. ONE probe action sketches every spec's primary percentiles and
       enforces the non-null/non-NaN contract.
    2. ONE counts action computes every dim's per-bucket row counts by
       exploding d bare (dim int, bucket int) structs per row — the
       data is READ ONCE for all dims (at scale the scan dominates,
       so this beats d sequential counting passes), and the exploded
       payload is two ints.
    3. ONLY when a bucket is fat: one targeted stats pass over the fat
       buckets (tie-class detection + secondary percentile sketch on
       the fat rows only) and one recount of the split assignment.

    Returns (final bucket exprs, ids per dim, row-count offsets per
    dim, total).  The tie-class split compares the secondary against
    double-cast cuts: cut PLACEMENT only affects balance, and
    int/decimal→double is monotone, so sub-buckets stay
    order-consistent (rows collapsed by the cast tie together,
    exactly like primary ties).
    """
    if on_skew not in ("raise", "accept"):
        raise ValueError(f"on_skew must be 'raise' or 'accept': {on_skew!r}")
    probs = [j / n_buckets for j in range(1, n_buckets)]

    # --- probe: one action for all dims -----------------------------
    aggs: list[Column] = []
    for i, sp in enumerate(specs):
        dt = df.schema[sp.primary].dataType
        aggs.append(
            F.percentile_approx(sp.primary, probs, PROBE_ACCURACY)
            .alias(f"__b{i}")
        )
        aggs.append(
            F.sum(F.col(sp.primary).isNull().cast("long")).alias(f"__nulls{i}")
        )
        if _is_float(dt):
            aggs.append(
                F.sum(
                    F.isnan(F.coalesce(sp.primary, F.lit(0.0))).cast("long")
                ).alias(f"__nans{i}")
            )
    row = df.agg(*aggs).head()
    cuts: list[list] = []
    for i, sp in enumerate(specs):
        if (row[f"__nulls{i}"] or 0) > 0:
            raise ValueError(
                f"boundary-cut rank: primary column {sp.primary!r} has "
                f"{row[f'__nulls{i}']} NULLs — the total-order contract "
                "requires a non-null primary (filter or coalesce first)"
            )
        if _is_float(df.schema[sp.primary].dataType) and (
            row[f"__nans{i}"] or 0
        ) > 0:
            raise ValueError(
                f"boundary-cut rank: primary column {sp.primary!r} has "
                f"{row[f'__nans{i}']} NaNs — NaN ordering is "
                "engine-specific; filter or quantize first"
            )
        cuts.append(sorted(set(row[f"__b{i}"] or []), reverse=sp.descending))

    bkt0 = [
        _cut_count_expr(F.col(sp.primary), cuts[i], sp.descending)
        for i, sp in enumerate(specs)
    ]
    sec_ok = [
        sp.secondary is not None
        and sp.secondary in df.columns
        and not _is_float(df.schema[sp.secondary].dataType)
        for sp in specs
    ]

    # --- counts: one light action ----------------------------------
    def _marginal_counts(bucket_exprs: list[Column]) -> list[dict]:
        if len(specs) <= 2:
            # r13 (guide §1.2/§2.3): for 1-2 dims the JOINT bucket
            # distribution is ≤ n_buckets² cells — still an O(buckets)
            # driver collect — and a plain groupBy on int columns is a
            # single codegen'd hash aggregate; the former per-row
            # struct-array explode doubled the row volume through
            # GenerateExec (measured 1.0-1.2 s → ~0.35 s on the 150 k-row
            # Spearman counts pass at sf0.1).  Marginals are exact sums
            # over the joint cells.  3+ dims keep the explode form so
            # the collect stays O(d·n_buckets), not O(n_buckets^d).
            cols = [
                bucket_exprs[i].cast("int").alias(f"__b{i}")
                for i in range(len(specs))
            ]
            rows = (
                df.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
            per: list[dict] = [{} for _ in specs]
            for r in rows:
                for i in range(len(specs)):
                    b = r[f"__b{i}"]
                    if b is None:
                        raise ValueError(
                            "boundary-cut rank: NULL bucket for primary "
                            f"{specs[i].primary!r}"
                        )
                    per[i][b] = per[i].get(b, 0) + r["c"]
            return per
        pairs = [
            F.struct(F.lit(i).alias("d"), bucket_exprs[i].cast("int").alias("b"))
            for i in range(len(specs))
        ]
        rows = (
            df.select(F.explode(F.array(*pairs)).alias("e"))
            .groupBy(F.col("e.d").alias("d"), F.col("e.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        per = [{} for _ in specs]
        for r in rows:
            if r["b"] is None:
                raise ValueError(
                    "boundary-cut rank: NULL bucket for primary "
                    f"{specs[r['d']].primary!r}"
                )
            per[r["d"]][r["b"]] = r["c"]
        return per

    per_dim = _marginal_counts(bkt0)
    total = sum(per_dim[0].values())
    fat_thresh = max(4 * total // max(n_buckets, 1), SKEW_FLOOR_ROWS)
    fat_per_dim = [
        [b for b, c in per_dim[i].items() if c > fat_thresh]
        for i in range(len(specs))
    ]

    if not any(fat_per_dim):
        final_exprs = [e.cast("int") for e in bkt0]
    else:
        # --- targeted tie-class stats over fat buckets only ---------
        # ONE flat conditional-aggregate pass (the data is still READ
        # ONCE for all dims; fat (dim, bucket) pairs are few, so the
        # aggregate list stays small).  The primary min/max collect on
        # the NATIVE type: a shared double-cast struct was how the
        # former pass unified dims, but double is not injective for
        # decimals / longs past 2^53 — native equality is the only
        # valid tie-class proof (ADVICE r7).  The secondary keeps its
        # double sketch: cut PLACEMENT only affects balance.  Each
        # dim's n_buckets-term comparison chain is PROJECTED ONCE
        # (``__fb{i}``) and the aggregates condition on the small int
        # — re-embedding the chain in every conditional aggregate
        # would evaluate ~terms×aggs predicates per row, the
        # duplicated-chain codegen blowup global_kth_with_total
        # measured at 8×.
        keep: list[Column] = [
            bkt0[i].cast("int").alias(f"__fb{i}")
            for i in range(len(specs))
        ]
        seen_cols: set[str] = set()
        for i, sp in enumerate(specs):
            for c in (sp.primary, sp.secondary if sec_ok[i] else None):
                if c and c not in seen_cols:
                    seen_cols.add(c)
                    keep.append(F.col(c))
        proj = df.select(*keep)
        aggs2: list[Column] = []
        for i, sp in enumerate(specs):
            for b in fat_per_dim[i]:
                cond = F.col(f"__fb{i}") == F.lit(b)
                pv = F.when(cond, F.col(sp.primary))
                aggs2.append(F.min(pv).alias(f"__lo_{i}_{b}"))
                aggs2.append(F.max(pv).alias(f"__hi_{i}_{b}"))
                if sec_ok[i]:
                    aggs2.append(
                        F.percentile_approx(
                            F.when(
                                cond, F.col(sp.secondary).cast("double")
                            ),
                            probs,
                            PROBE_ACCURACY,
                        ).alias(f"__sb_{i}_{b}")
                    )
                    aggs2.append(
                        F.sum(
                            F.when(
                                cond,
                                F.col(sp.secondary).isNull().cast("long"),
                            )
                        ).alias(f"__snulls_{i}_{b}")
                    )
        frow = proj.agg(*aggs2).head()
        fat_stats: list[dict] = [{} for _ in specs]
        for i, sp in enumerate(specs):
            for b in fat_per_dim[i]:
                fat_stats[i][b] = {
                    "__lo": frow[f"__lo_{i}_{b}"],
                    "__hi": frow[f"__hi_{i}_{b}"],
                    "__sb": frow[f"__sb_{i}_{b}"] if sec_ok[i] else None,
                    "__snulls": (
                        frow[f"__snulls_{i}_{b}"] if sec_ok[i] else 0
                    ),
                }
        final_exprs = []
        any_split = False
        for i, sp in enumerate(specs):
            if not fat_per_dim[i]:
                final_exprs.append(bkt0[i].cast("int"))
                continue
            sub_cuts, splittable, unsplit = _split_decisions(
                fat_per_dim[i], fat_stats[i], per_dim[i], fat_thresh,
                sec_ok[i], on_skew, sp.primary, sp.secondary,
            )
            if (unsplit or not sec_ok[i]) and on_skew == "raise":
                _raise_skew(
                    sp.primary, fat_per_dim[i], fat_thresh, total, splittable
                )
            if not sub_cuts:
                if splittable and sec_ok[i] and on_skew == "raise":
                    raise ValueError(
                        "boundary-cut rank: no fat tie class could be "
                        f"split on secondary {sp.secondary!r}"
                    )
                final_exprs.append(bkt0[i].cast("int"))
                continue
            any_split = True
            final_exprs.append(
                _split_expr(
                    sorted(per_dim[i]), sub_cuts, bkt0[i],
                    F.col(sp.secondary),
                ).cast("int")
            )
        if any_split:
            per_dim = _marginal_counts(final_exprs)
            # re-check the balance guarantee on the recount (ADVICE
            # r7): ineffective cuts must not pass silently
            for i, sp in enumerate(specs):
                _verify_split(
                    per_dim[i], fat_thresh, on_skew, sp.primary,
                    sp.secondary,
                )

    ids_per_dim: list[list[int]] = []
    offsets_per_dim: list[list[int]] = []
    for i in range(len(specs)):
        ids = sorted(per_dim[i])
        offsets, run = [], 0
        for b in ids:
            offsets.append(run)
            run += per_dim[i][b]
        ids_per_dim.append(ids)
        offsets_per_dim.append(offsets)
    return final_exprs, ids_per_dim, offsets_per_dim, total


def with_global_row_numbers(
    df: DataFrame,
    specs: Sequence[RankSpec],
    n_buckets: int = DEFAULT_BUCKETS,
    on_skew: str = "raise",
) -> tuple[DataFrame, int]:
    """df + one exact ``ROW_NUMBER() OVER (ORDER BY spec.order_by)``
    column PER SPEC, all computed in O(1) shared driver actions (2,
    or 3 under a tie-class split) — NOT O(specs): Spearman's two rank
    passes, RFM's three ntiles, and the quartile contingency's two
    all pay one probe + one counts pass total.  The final plan chains
    one balanced per-bucket window per spec (d hash exchanges, zero
    single-partition windows) and executes once.  Returns (df, total
    row count)."""
    final_exprs, ids_pd, offs_pd, total = _multi_assign(
        df, specs, n_buckets, on_skew
    )
    out = df
    for i in range(len(specs)):
        out = out.withColumn(f"__bkt{i}", final_exprs[i])
    for i, sp in enumerate(specs):
        bc = f"__bkt{i}"
        w_local = Window.partitionBy(bc).orderBy(*sp.order_by)
        out = out.withColumn(
            sp.rn,
            F.row_number().over(w_local).cast("long")
            + _offset_expr(ids_pd[i], offs_pd[i], bc),
        )
    return out.drop(*[f"__bkt{i}" for i in range(len(specs))]), total


def with_global_ntiles(
    df: DataFrame,
    specs: Sequence[RankSpec],
    n_buckets: int = DEFAULT_BUCKETS,
    on_skew: str = "raise",
) -> DataFrame:
    """df + one exact ``NTILE(spec.k) OVER (ORDER BY spec.order_by)``
    per spec (``k`` required), sharing the O(1) action budget of
    :func:`with_global_row_numbers`."""
    tmp = [
        RankSpec(sp.order_by, sp.primary, descending=sp.descending,
                 rn=f"__grn{i}", secondary=sp.secondary)
        for i, sp in enumerate(specs)
    ]
    ranked, total = with_global_row_numbers(
        df, tmp, n_buckets=n_buckets, on_skew=on_skew,
    )
    for i, sp in enumerate(specs):
        if sp.k is None:
            raise ValueError(f"spec {i} needs k for with_global_ntiles")
        ranked = ranked.withColumn(
            sp.rn, ntile_expr(F.col(f"__grn{i}"), total, sp.k)
        )
    return ranked.drop(*[f"__grn{i}" for i in range(len(specs))])


def with_global_row_number(
    df: DataFrame,
    order_by: Sequence[Column | str],
    primary: str,
    descending: bool = False,
    rn: str = "rn",
    n_buckets: int = DEFAULT_BUCKETS,
    secondary: str | None = None,
    on_skew: str = "raise",
) -> DataFrame:
    """df + exact ``ROW_NUMBER() OVER (ORDER BY order_by)`` as ``rn``.

    ``order_by`` must be a total order whose first key is the numeric
    non-null column ``primary`` (direction given by ``descending``);
    ``order_by`` carries the full Column list including direction.
    ``secondary`` names the numeric second order key (always ASC) to
    enable tie-class auto-splitting under skew.
    """
    out, _ = _global_row_number_with_total(
        df, order_by, primary, descending, rn, n_buckets,
        secondary=secondary, on_skew=on_skew,
    )
    return out


def _global_row_number_with_total(
    df: DataFrame,
    order_by: Sequence[Column | str],
    primary: str,
    descending: bool,
    rn: str,
    n_buckets: int,
    secondary: str | None = None,
    on_skew: str = "raise",
) -> tuple[DataFrame, int]:
    return with_global_row_numbers(
        df,
        [RankSpec(order_by, primary, descending=descending, rn=rn,
                  secondary=secondary)],
        n_buckets=n_buckets, on_skew=on_skew,
    )


def with_global_running_sums(
    df: DataFrame,
    order_by: Sequence[Column | str],
    primary: str,
    value_cols: Sequence[str],
    aliases: Sequence[str],
    descending: bool = False,
    n_buckets: int = DEFAULT_BUCKETS,
    secondary: str | None = None,
    on_skew: str = "raise",
) -> DataFrame:
    """df + exact ``SUM(value_col) OVER (ORDER BY order_by ROWS
    UNBOUNDED PRECEDING..CURRENT ROW)`` for EACH value col (one probe
    + one counts pass, shared buckets) — the parallel prefix-sum.

    Dtype contract: every value col must be an EXACT type — integral
    (released as long) or decimal (released as decimal(38, s)); float
    input raises, because per-bucket driver-collected partials would
    silently reorder float addition vs the window twin (ADVICE r6).
    Within groups tied on the whole ``order_by`` the local row order
    is engine-chosen, exactly as with the window form — released
    results must be tie-invariant in the same way.
    """
    if len(value_cols) != len(aliases):
        raise ValueError("value_cols and aliases must align")
    sum_aggs = []
    is_dec: list = []
    for vc in value_cols:
        dt = df.schema[vc].dataType
        if isinstance(dt, T.DecimalType):
            is_dec.append(T.DecimalType(38, dt.scale))
            sum_aggs.append(
                F.sum(vc).cast(f"decimal(38,{dt.scale})").alias(f"__s_{vc}")
            )
        elif isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            is_dec.append(None)
            sum_aggs.append(F.sum(vc).cast("long").alias(f"__s_{vc}"))
        else:
            raise TypeError(
                f"with_global_running_sums: value col {vc!r} has "
                f"non-exact dtype {dt.simpleString()} — running sums "
                "are only bit-equal to the window form for integral/"
                "decimal values (quantize floats first)"
            )
    b_df, rows, _total = _assign_buckets(
        df, primary, descending, n_buckets, secondary, on_skew, sum_aggs,
        agg_aliases=[f"__s_{vc}" for vc in value_cols],
    )
    ids = [r[0] for r in rows]
    out = b_df
    for j, (vc, alias) in enumerate(zip(value_cols, aliases)):
        offsets: list = []
        run = 0 if is_dec[j] is None else __import__("decimal").Decimal(0)
        for r in rows:
            offsets.append(run)
            run = run + (r[2 + j] or 0)
        w_local = (
            Window.partitionBy("__bkt")
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        off = _offset_expr(ids, offsets)
        if is_dec[j] is None:
            val = F.sum(vc).over(w_local).cast("long") + off
        else:
            val = (
                F.sum(vc).over(w_local).cast(is_dec[j].simpleString())
                + off.cast(is_dec[j].simpleString())
            ).cast(is_dec[j].simpleString())
        out = out.withColumn(alias, val)
    return out.drop("__bkt")


def with_global_running_sum(
    df: DataFrame,
    order_by: Sequence[Column | str],
    primary: str,
    value_col: str,
    alias: str = "running",
    descending: bool = False,
    n_buckets: int = DEFAULT_BUCKETS,
    secondary: str | None = None,
    on_skew: str = "raise",
) -> DataFrame:
    """Single-column convenience wrapper over
    :func:`with_global_running_sums` (same exact-dtype contract)."""
    return with_global_running_sums(
        df, order_by, primary, [value_col], [alias],
        descending=descending, n_buckets=n_buckets,
        secondary=secondary, on_skew=on_skew,
    )


def global_kth_with_total(
    df: DataFrame,
    order_by: Sequence[Column | str],
    primary: str,
    k,
    descending: bool = False,
    n_buckets: int = DEFAULT_BUCKETS,
    secondary: str | None = None,
    on_skew: str = "raise",
) -> tuple[DataFrame, int]:
    """(rows whose exact global ROW_NUMBER == k, total) — distributed
    SELECTION without ranking everything (the quickselect shape): the
    probe + counts passes locate the ONE bucket containing global rank
    k; the final pass filters to that bucket by a TWO-COMPARISON range
    predicate on the primary (pushed to the scan — re-evaluating the
    63-term bucket chain inside a filter measured 8× slower: the
    duplicated chain blows past whole-stage-codegen limits into
    interpreted evaluation) and ranks only those rows.  ``k`` is an
    int or a callable receiving the exact total (the median's
    ``lambda n: (n + 1) // 2``).  Value-identical to filtering the
    full boundary-cut rank (pytest-pinned).  The slice is ranked with
    the boundary-cut machinery RECURSIVELY (probe/counts over
    ~total/n_buckets rows, balanced per-bucket windows) — no
    single-partition window anywhere, so the selection survives the
    committed plan check and a 100× scale-up alike; ``secondary``
    passes through for tie-class auto-splitting inside the slice."""
    cuts = _probe_cuts(df, primary, descending, n_buckets)
    pcol = F.col(primary)
    bkt0 = _cut_count_expr(pcol, cuts, descending)
    counts_rows = (
        df.withColumn("__bkt", bkt0)
        .groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    counts = {r["__bkt"]: r["c"] for r in counts_rows}
    total = sum(counts.values())
    kk = k(total) if callable(k) else int(k)
    run = 0
    target = None
    for b in sorted(counts):
        if run < kk <= run + counts[b]:
            target, local_k = b, kk - run
            break
        run += counts[b]
    if target is None:  # k out of [1, total]
        return df.filter(F.lit(False)), total
    # bucket ``target`` = rows with exactly ``target`` cuts strictly
    # beyond the value, i.e. the half-open primary range between the
    # neighbouring cuts (inclusive on the near side — ties with a cut
    # land in the bucket NOT beyond it)
    pred = F.lit(True)
    if not descending:
        if target >= 1:
            pred = pred & (pcol > F.lit(cuts[target - 1]))
        if target < len(cuts):
            pred = pred & (pcol <= F.lit(cuts[target]))
    else:
        if target >= 1:
            pred = pred & (pcol < F.lit(cuts[target - 1]))
        if target < len(cuts):
            pred = pred & (pcol >= F.lit(cuts[target]))
    sliced = df.filter(pred)
    ranked, _slice_total = with_global_row_numbers(
        sliced,
        [RankSpec(order_by, primary, descending=descending,
                  rn="__lrn", secondary=secondary)],
        n_buckets=n_buckets, on_skew=on_skew,
    )
    out = ranked.filter(F.col("__lrn") == F.lit(local_k)).drop("__lrn")
    return out, total


def ntile_expr(rn: Column, n_total: int, k: int) -> Column:
    """SQL-standard ``NTILE(k)`` from a 1-based exact global row
    number and the total row count: the first ``N mod k`` buckets take
    ``ceil(N/k)`` rows, the rest ``floor(N/k)`` — pure INTEGER
    arithmetic (SQL ``div``, not a float quotient that can misround
    across a tile boundary once rows-per-tile exceeds 2^26 — ADVICE
    r6), bit-equal to the window function on any engine."""
    base, rem = divmod(int(n_total), k)
    thresh = rem * (base + 1)
    r = rn.cast("long")
    lo = _idiv(r - 1, base + 1) + 1
    hi = rem + _idiv(r - thresh - 1, max(base, 1)) + 1
    return F.when(r <= thresh, lo).otherwise(hi).cast("int")


def with_global_ntile(
    df: DataFrame,
    order_by: Sequence[Column | str],
    primary: str,
    k: int,
    descending: bool = False,
    alias: str = "bucket",
    n_buckets: int = DEFAULT_BUCKETS,
    secondary: str | None = None,
    on_skew: str = "raise",
) -> DataFrame:
    """df + exact ``NTILE(k) OVER (ORDER BY order_by)`` as ``alias``,
    via the boundary-cut global row number (no single-partition
    window; the total count comes from the same O(n_buckets)
    counts collect)."""
    ranked, total = _global_row_number_with_total(
        df, order_by, primary, descending, "__grn", n_buckets,
        secondary=secondary, on_skew=on_skew,
    )
    return ranked.withColumn(
        alias, ntile_expr(F.col("__grn"), total, k)
    ).drop("__grn")
