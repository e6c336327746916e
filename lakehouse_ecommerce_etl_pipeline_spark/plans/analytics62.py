"""Tier XXXIX: rank statistics & robust trend — Spearman rank
correlation and the Theil-Sen median-slope estimator.

Both are the rank-based robust twins of moments the corpus already
ships (q_groupwise_regression's OLS slope, q_autocorr_lag's Pearson
form): Spearman asks "is the relationship monotone" without assuming
linearity, Theil-Sen fits a trend a single outlier day can't drag.
Both become EXACT integer computations once ranks are exact, and the
boundary-cut global-rank machinery built for the de-weak work
(operators/ranks.py) is precisely what makes them scale-safe: no
single-partition window anywhere.

Oracle discipline ([[oracle-exactness-rules]] in spirit): every
released aggregate is BIGINT integer arithmetic on exact ranks; the
one DOUBLE per query is a SINGLE IEEE division of exact integers —
bit-stable cross-engine.  Ordering of Theil-Sen slopes uses the
(slope, num, den) total order, where the double `slope` is itself a
single division of the same integer pair on both engines, so the
median pick is engine-exact.

Integer-headroom bound (the llm37 pattern): Spearman's Σd² is
bounded by n³ — exact under int64 to n ≈ 2.0 M joined orders.  The
release is SIZE-GATED on the driver-known total (the same O(1)
decision shape as PageRank's broadcast/shuffle gate): below
``_INT64_SAFE_N`` the original long arithmetic runs; above it the d²
products and their sum widen to DECIMAL(38,0) and rho's n(n²−1)
denominator is computed as an exact Python int emitted as a decimal
literal — every value stays an exact integer, so rho (one IEEE
division of the same exact integers) is bit-equal on both paths
(pytest-pinned; decimal headroom to n ≈ 2.5·10^12 joined orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.operators.ranks import (
    RankSpec,
    _global_row_number_with_total,
    global_kth_with_total,
    with_global_row_numbers,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register

_US_PER_DAY = 86_400_000_000

# Σd² < n³ stays inside int64 while n ≤ ~2.09 M; gate with margin
_INT64_SAFE_N = 2_000_000


def _spearman_release(both: DataFrame, total: int) -> DataFrame:
    """(n, sum_d2, rho) from the double-ranked rows — size-gated dual
    release: long arithmetic below _INT64_SAFE_N, DECIMAL(38,0) above
    (same exact integers ⇒ rho bit-equal; pytest-pinned)."""
    if total <= _INT64_SAFE_N:
        d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
        agg = both.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(d2).cast("bigint").alias("sum_d2"),
        )
        denom = F.col("n") * (F.col("n") * F.col("n") - 1)
        return agg.select(
            "n",
            "sum_d2",
            (
                (denom - 6 * F.col("sum_d2")).cast("double")
                / denom.cast("double")
            ).alias("rho"),
        )
    # wide path: d² products and their sum in DECIMAL(38,0); the
    # n(n²−1) denominator is exact Python-int arithmetic emitted as a
    # decimal literal (n is driver-known from the rank pass's counts)
    d = (F.col("rx") - F.col("ry")).cast("decimal(19,0)")
    denom_py = total * (total * total - 1)
    agg = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((d * d).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sum_d2"),
    )
    denom_lit = F.lit(str(denom_py)).cast("decimal(38,0)")
    return agg.select(
        "n",
        "sum_d2",
        (
            (denom_lit - F.lit(6).cast("decimal(38,0)") * F.col("sum_d2"))
            .cast("double")
            / denom_lit.cast("double")
        ).alias("rho"),
    )


@register(
    "q_spearman_corr",
    oracle="""
    WITH b AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS basket_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey AS k, b.basket_lines AS x, o.o_totalprice AS y
      FROM orders o JOIN b ON b.l_orderkey = o.o_orderkey
    ),
    r AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY x, k) AS BIGINT) AS rx,
             CAST(ROW_NUMBER() OVER (ORDER BY y, k) AS BIGINT) AS ry
      FROM j
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
           CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1)
                - 6 * SUM((rx - ry) * (rx - ry)) AS DOUBLE)
             / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE)
             AS rho
    FROM r
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between basket size and order value
    at order grain: are bigger baskets monotonically pricier?  Ranks
    are exact ROW_NUMBERs over the (value, orderkey) TOTAL orders —
    the convention the quartile/calibration family already pins — so
    Σd² is exact integer arithmetic and
    rho = (n(n²-1) − 6Σd²) / (n(n²-1)) releases through ONE double
    division of exact integers (bit-stable cross-engine).

    PRODUCTION PLAN: both rank passes run the MULTI-rank boundary-cut
    form (operators/ranks.py with_global_row_numbers) — one shared
    probe action, one shared counts action, tie-class auto-split on
    the order key for the ~7-value basket-size dim, chained balanced
    per-bucket windows in a single final plan; the d² reduction is one
    map-side-combined aggregate.

    100 TB: one shared probe + one shared counts pass over (key, x,
    y) triples + one scalar aggregate; Σd² is SIZE-GATED — int64 to
    ~2.0 M orders, DECIMAL(38,0) above, bit-equal either way
    (_spearman_release; pinned in tests/test_widening.py)."""
    b = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("basket_lines"))
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    j = b.join(o, "l_orderkey").select(
        F.col("l_orderkey").alias("k"),
        F.col("basket_lines").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    # Both ranks are INDEPENDENT orders of the same rows, so they run
    # through the multi-rank form: ONE probe action sketches x and y
    # together, ONE counts action computes both dims' marginals, and
    # the final plan chains the two balanced per-bucket windows — the
    # driver-action budget of a single rank pass (two sequential
    # passes measured 2-3× this).  x = basket size has ~7 distinct
    # values, every one a fat tie class at scale: dim 0 auto-splits on
    # the unique order key, so no window partition carries a constant
    # fraction of the orders.
    #
    # r12 optimization (guide §5 caching note): materialize the joined
    # (k, x, y) triples via localCheckpoint before the rank trio — the
    # probe/counts/final passes then read the checkpointed blocks
    # instead of re-running the lineitem aggregate + orders join up to
    # 3×.  Interleaved A/B at sf0.1: 3.09 → 2.50 s min-of-3 (0.81×);
    # at 100 TB this turns three full lineitem scans into one.
    # (A parquet spill measured SLOWER than recompute here — the
    # write dominates; the checkpoint keeps blocks executor-local.)
    both, total = with_global_row_numbers(
        j.localCheckpoint(eager=True),
        [
            RankSpec(["x", "k"], primary="x", rn="rx", secondary="k"),
            RankSpec(["y", "k"], primary="y", rn="ry", secondary="k"),
        ],
    )
    return _spearman_release(both, total)


@register(
    "q_mann_kendall_s",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // {_US_PER_DAY} AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                         WHEN b.cents < a.cents THEN -1
                         ELSE 0 END) AS BIGINT) AS s
    FROM daily a JOIN daily b ON b.day > a.day
    """,
)
def q_mann_kendall_s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend statistic S = Σ sign(x_j − x_i) over all
    ordered day pairs of daily revenue — the nonparametric
    significance companion to q_theil_sen_trend (same pair domain:
    the test says WHETHER a monotone trend exists, Theil-Sen says how
    steep).  S, the pair count, and the day count are pure integers —
    no division anywhere, bit-exact by construction; the normal
    approximation (needs sqrt) stays client-side by design.

    100 TB: one map-side-combined daily aggregate; the pair pass is
    DAY-domain-bounded exactly as Theil-Sen's."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.expr(f"unix_micros(o_orderdate) div {_US_PER_DAY}").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        # r12 optimization: same daily-table checkpoint as Theil-Sen —
        # the n_days count and the pair aggregate below each consumed
        # a separate full orders pass; now both read the |days|-row
        # checkpointed blocks (one full-data pass total)
        .localCheckpoint(eager=True)
    )
    a = daily.select(
        F.col("day").alias("day_a"), F.col("cents").alias("cents_a")
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("cents").alias("cents_b")
    )
    pairs = b.join(a, F.col("day_b") > F.col("day_a"))
    n_days = daily.count()
    return pairs.agg(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(F.col("cents_b") > F.col("cents_a"), 1)
            .when(F.col("cents_b") < F.col("cents_a"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s"),
    )


@register(
    "q_theil_sen_trend",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // {_US_PER_DAY} AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT b.cents - a.cents AS num, b.day - a.day AS den
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    q AS (
      SELECT num, den,
             CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope
      FROM pairs
    ),
    r AS (
      SELECT slope,
             ROW_NUMBER() OVER (ORDER BY slope, num, den) AS rn,
             COUNT(*) OVER () AS cnt
      FROM q
    )
    SELECT CAST(cnt AS BIGINT) AS n_pairs,
           slope AS median_slope_cents_per_day
    FROM r WHERE rn = (cnt + 1) // 2
    """,
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-revenue trend: the median over all
    pairwise day-to-day slopes — the estimator a single promo-day
    spike can't drag (OLS twin: q_groupwise_regression).  Slopes are
    integer-cents / integer-days rationals; each double is ONE IEEE
    division of the same integer pair on both engines, and the median
    is picked under the (slope, num, den) TOTAL order (lower middle
    for even counts), so the released value is engine-exact.

    PRODUCTION PLAN: the pair table is DAY-domain-bounded (|days|²/2
    rows — ~3 M at a 7-year span — regardless of order volume), and
    the median-rank pass is the boundary-cut exact global row number
    (operators/ranks.py), not a single-partition sort.

    100 TB: the only full-data pass is the daily cents aggregate
    (map-side combined) — checkpointed below so it runs ONCE;
    everything after runs on the bounded day domain."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.expr(f"unix_micros(o_orderdate) div {_US_PER_DAY}").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        # r12 optimization: checkpoint the |days|-row daily table, NOT
        # the |days|²/2 pair table.  The selection trio (probe/counts/
        # final) then re-derives the bounded day-pair join from the
        # checkpointed daily blocks per action — cheap at any corpus
        # size — while the one full-data pass (the orders aggregate)
        # executes exactly once.  Interleaved A/B at sf0.1, min-of-3:
        # pair-table parquet spill 6.40 s / no materialization 6.02 s
        # / daily checkpoint 5.56 s — and the former spill's 2.9 M-row
        # parquet write+3 reads are gone.  The spill's original
        # motivation (the rank-form's 63-cut bucket chain exploding the
        # join condition via the inferred isnotnull constraint) does
        # not apply to the selection form's 2-comparison range filter —
        # re-measured: no pathology at sf0.01 or sf0.1.
        .localCheckpoint(eager=True)
    )
    # structurally distinct column names on the two sides: self-join
    # alias resolution can collapse a.day/b.day to one attribute,
    # which would make den = 0 (observed as an ANSI DIVIDE_BY_ZERO)
    a = daily.select(
        F.col("day").alias("day_a"), F.col("cents").alias("cents_a")
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("cents").alias("cents_b")
    )
    pairs = b.join(a, F.col("day_b") > F.col("day_a")).select(
        (F.col("cents_b") - F.col("cents_a")).alias("num"),
        (F.col("day_b") - F.col("day_a")).alias("den"),
    )
    # try_divide, not /: the rn == mid filter downstream makes
    # Catalyst infer isnotnull(bucket(slope)) and push it INTO the
    # join condition, where ANSI division would evaluate on the
    # den = 0 pairs the day_b > day_a comparison exists to reject
    # (observed DIVIDE_BY_ZERO inside BroadcastNestedLoopJoin).
    # den >= 1 for every surviving pair, so values are identical.
    q = pairs.withColumn(
        "slope",
        F.try_divide(F.col("num").cast("double"), F.col("den").cast("double")),
    )
    # the median is ONE order statistic — distributed SELECTION, not a
    # full rank: probe + counts locate the single bucket containing
    # global rank (n+1)//2, and only that ~1/64 slice is sorted; every
    # other pair is filtered before any exchange.  Value-identical to
    # ranking everything and filtering rn == mid (pytest-pinned twin).
    # r13 NEGATIVE RESULT (VERDICT r12 item 7): a lazy localCheckpoint
    # of the pair table (so the selection trio's 5 passes stop
    # re-deriving the BNLJ expansion) won inside a shared A/B session
    # but LOST in fresh-session/bench conditions — qtime min-of-3,
    # alternating fresh sessions: no-ckpt 4.46/5.00/5.32 s vs lazy
    # ckpt 5.44/5.78/5.85 s, and the full bench regressed 3.92→4.86.
    # Regenerating 2.9 M pairs from the CHECKPOINTED 2 400-row daily
    # table is codegen-speed compute; storing and re-reading ~100 MB
    # of pair blocks costs more than 4 regenerations.  Reverted to the
    # r12 shape; the 100 TB follow-on (bucket slopes at generation so
    # the slice's range filter prunes inside the expansion) is in
    # OPTIMIZATION_r13.md "Not yet optimized".
    row, total = global_kth_with_total(
        q, ["slope", "num", "den"], primary="slope",
        k=lambda n: (n + 1) // 2, secondary="num",
    )
    return row.select(
        F.lit(total).cast("bigint").alias("n_pairs"),
        F.col("slope").alias("median_slope_cents_per_day"),
    )


def q_theil_sen_trend_rank_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-rank oracle-exactness twin (former production plan):
    boundary-cut global row number over ALL pairs, filter to the
    median rank — pytest-pinned equal to the selection form."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.expr(f"unix_micros(o_orderdate) div {_US_PER_DAY}").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    a = daily.select(
        F.col("day").alias("day_a"), F.col("cents").alias("cents_a")
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("cents").alias("cents_b")
    )
    pairs = b.join(a, F.col("day_b") > F.col("day_a")).select(
        (F.col("cents_b") - F.col("cents_a")).alias("num"),
        (F.col("day_b") - F.col("day_a")).alias("den"),
    )
    q = pairs.withColumn(
        "slope",
        F.try_divide(F.col("num").cast("double"), F.col("den").cast("double")),
    )
    q = q.localCheckpoint(eager=True)
    ranked, total = _global_row_number_with_total(
        q, ["slope", "num", "den"], primary="slope", descending=False,
        rn="rn", n_buckets=64, secondary="num",
    )
    mid = (total + 1) // 2
    return ranked.filter(F.col("rn") == mid).select(
        F.lit(total).cast("bigint").alias("n_pairs"),
        F.col("slope").alias("median_slope_cents_per_day"),
    )
