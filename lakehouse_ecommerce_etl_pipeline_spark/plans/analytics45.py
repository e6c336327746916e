"""Analytics tier XLV: HITS, autocorrelation, distribution drift,
linear-interpolation gap fill.

New shapes over I-XLIV: the HITS hub/authority fixpoint on the
order→part bipartite graph (the fourth graph fixpoint after
components, pagerank, and BFS — and the first on a DIRECTED edge
set), a lag-k autocorrelation of the revenue timeline (the
Box-Jenkins diagnostic behind every forecast choice), week-over-week
total-variation drift of the event mix (the monitor a feature store
fires alerts from), and linear interpolation across missing hours
(the ramp complement of q_gapfill_locf's step fill).

Cross-engine exactness: HITS scores stay UNNORMALIZED so every
iteration is integer arithmetic under a unique fixpoint; autocorr
moments are integer sums over quantized (floor-to-thousand) daily
revenue with the Pearson ratio assembled once from identical
operands; TVD is |c_i*m - d_i*n| summed in integers with ONE final
division; interpolation is a fixed-shape scalar float expression on
integer inputs — identical IEEE ops in identical order on both
engines."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register

_ACF_LAG = 7


@register(
    "q_hits_scores",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_orderkey AS hub, l_partkey AS auth FROM lineitem
    ),
    a1 AS (
      SELECT auth, CAST(COUNT(*) AS BIGINT) AS auth1
      FROM e GROUP BY auth
    ),
    h1 AS (
      SELECT e.hub, CAST(SUM(a1.auth1) AS BIGINT) AS hub1
      FROM e JOIN a1 ON a1.auth = e.auth GROUP BY e.hub
    ),
    a2 AS (
      SELECT e.auth, CAST(SUM(h1.hub1) AS BIGINT) AS auth2
      FROM e JOIN h1 ON h1.hub = e.hub GROUP BY e.auth
    )
    SELECT a2.auth AS p_partkey, a1.auth1, a2.auth2
    FROM a2 JOIN a1 ON a1.auth = a2.auth
    """,
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the order→part bipartite graph: orders are hubs, parts
    are authorities; two mutual-reinforcement rounds (auth ← Σ hub,
    hub ← Σ auth) from the all-ones start.  Scores are deliberately
    UNNORMALIZED — each round is then pure integer arithmetic with a
    unique fixpoint ray, so the ranking (which is all HITS is for) is
    engine-exact without the float normalization that breaks
    cross-engine hashes.  auth1 is in-degree; auth2 weights each
    purchase by how broad its basket was.

    100 TB: each half-round is one shuffle join of the edge list
    against the previous score table (scores are |nodes|-sized —
    broadcastable long before edges are) followed by a
    partial-aggregated group-by; identical profile to one pagerank
    iteration, and the same frontier/broadcast levers apply."""
    e = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("hub"),
            F.col("l_partkey").alias("auth"),
        )
        .distinct()
    )
    a1 = e.groupBy("auth").agg(F.count(F.lit(1)).cast("bigint").alias("auth1"))
    h1 = (
        e.join(F.broadcast(a1), "auth")
        .groupBy("hub")
        .agg(F.sum("auth1").cast("bigint").alias("hub1"))
    )
    a2 = (
        e.join(F.broadcast(h1), "hub")
        .groupBy("auth")
        .agg(F.sum("hub1").cast("bigint").alias("auth2"))
    )
    return a2.join(a1, "auth").select(
        F.col("auth").alias("p_partkey"), "auth1", "auth2"
    )


@register(
    "q_autocorr_lag",
    oracle=f"""
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(FLOOR(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                             AS DOUBLE) / 100000.0)
                  AS BIGINT) AS rev_k
      FROM orders GROUP BY o_orderdate
    ),
    p AS (
      SELECT a.rev_k AS x, b.rev_k AS y
      FROM d a JOIN d b ON b.day = a.day - INTERVAL {_ACF_LAG} DAY
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM p
    )
    SELECT {_ACF_LAG} AS lag_days, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) AS autocorr
    FROM m
    """,
)
def q_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-{_ACF_LAG} autocorrelation of the daily revenue series —
    the weekly-seasonality diagnostic read before choosing a seasonal
    model (the ACF spike at 7 is what justifies
    q_backtest_seasonal_naive's lag).  Daily revenue is quantized to
    thousands via the BIGINT cents lattice (DESIGN §21 rule 3:
    cents sum exact int64; /100000.0 is one correctly-rounded IEEE
    division — a non-divisible quotient sits ≥1e-5 from any integer,
    ≫ double error, so FLOOR is exact and identical on both engines)
    so every Pearson moment is an int64 sum; the correlation is assembled ONCE
    from identical integers — IEEE multiply/divide/sqrt are
    correctly rounded, so the double matches bit-for-bit.

    100 TB: facts collapse to the day grain in one partial-aggregated
    group-by; the lag pairing is a self-join of that TINY series, and
    the moments are a single-row reduce.  Computing ACF this way
    (moments, not centered residuals) needs one pass and no mean
    broadcast.  The second moments x², x·y and the n·Σ − Σ·Σ
    assembly run on DECIMAL(38,0) (the q_ks_drift discipline): at
    extreme daily revenue (rev_k past ~3e9, i.e. >$3e12/day) the
    int64 products would throw under ANSI; the decimals are the
    identical integers below the bound and cast to the same nearest
    double, all on day-grain rows, so the widening is free."""
    dec = "decimal(38,0)"
    d = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.floor(
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).cast("double")
                / F.lit(100000.0)
            )
            .cast("bigint")
            .alias("rev_k")
        )
    )
    a = d.select(F.col("day").alias("day_a"), F.col("rev_k").alias("x"))
    b = d.select(F.col("day").alias("day_b"), F.col("rev_k").alias("y"))
    p = a.join(
        b, F.col("day_b") == F.date_sub(F.col("day_a"), _ACF_LAG)
    )
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).cast(dec).alias("sx"),
        F.sum(yd).cast(dec).alias("sy"),
        F.sum(xd * yd).cast(dec).alias("sxy"),
        F.sum(xd * xd).cast(dec).alias("sxx"),
        F.sum(yd * yd).cast(dec).alias("syy"),
    )
    n_dec = F.col("n").cast(dec)
    num = (n_dec * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (n_dec * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (n_dec * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        F.lit(_ACF_LAG).alias("lag_days"),
        "n",
        (num / den).alias("autocorr"),
    )


@register(
    "q_tvd_drift_weekly",
    oracle="""
    WITH c AS (
      SELECT date_trunc('week', ts) AS wk, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT w.wk, t.event_type, COALESCE(c.cnt, 0) AS cnt
      FROM (SELECT DISTINCT wk FROM c) w
      CROSS JOIN (SELECT DISTINCT event_type FROM c) t
      LEFT JOIN c ON c.wk = w.wk AND c.event_type = t.event_type
    ),
    tot AS (
      SELECT wk, CAST(SUM(cnt) AS BIGINT) AS n FROM grid GROUP BY wk
    ),
    pairs AS (
      SELECT a.wk, a.event_type,
             a.cnt AS c_cur, ta.n AS n_cur,
             b.cnt AS c_prev, tb.n AS n_prev
      FROM grid a
      JOIN grid b ON b.wk = a.wk - INTERVAL 7 DAY
                 AND b.event_type = a.event_type
      JOIN tot ta ON ta.wk = a.wk
      JOIN tot tb ON tb.wk = b.wk
    )
    SELECT CAST(wk AS DATE) AS week_start,
           CAST(SUM(ABS(c_cur * n_prev - c_prev * n_cur)) AS BIGINT)
             AS tvd_num,
           CAST(2 * MAX(n_cur) * MAX(n_prev) AS BIGINT) AS tvd_den,
           CAST(SUM(ABS(c_cur * n_prev - c_prev * n_cur)) AS DOUBLE)
             / CAST(2 * MAX(n_cur) * MAX(n_prev) AS DOUBLE) AS tvd
    FROM pairs GROUP BY wk
    """,
)
def q_tvd_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week total-variation distance of the event-type mix —
    the drift monitor a serving pipeline alerts on.  TVD = ½ Σ|p−q|
    is computed in its cross-multiplied integer form
    Σ|c_i·m − d_i·n| / (2nm): exact counts all the way down, one
    final division.  Unlike PSI/KL it needs no logarithm — which is
    exactly why it's the drift metric you can hash-verify across
    engines.  A dense week×type grid (zero-filled) keeps categories
    that vanish in one week in the sum.

    100 TB: counts collapse at the (week, type) grain map-side; the
    grid, totals, and adjacent-week self-join all run on that tiny
    aggregate, which is MATERIALIZED once (localCheckpoint) — the
    four plan branches that reference it would otherwise each re-scan
    the raw stream (Spark does no cross-branch CSE on DataFrame
    reuse).  Drift never touches the raw stream twice."""
    ev = load(spark, sf_dir, "events")
    c = (
        ev.groupBy(F.date_trunc("week", "ts").alias("wk"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    weeks = c.select("wk").distinct()
    types = c.select("event_type").distinct()
    grid = (
        weeks.crossJoin(types)
        .join(c, ["wk", "event_type"], "left")
        .select("wk", "event_type", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    tot = grid.groupBy("wk").agg(F.sum("cnt").cast("bigint").alias("n"))
    a = grid.alias("a")
    b = grid.select(
        (F.col("wk") + F.expr("INTERVAL 7 DAY")).alias("wk"),
        F.col("event_type"),
        F.col("cnt").alias("c_prev"),
    ).alias("b")
    ta = tot.select(F.col("wk"), F.col("n").alias("n_cur"))
    tb = tot.select(
        (F.col("wk") + F.expr("INTERVAL 7 DAY")).alias("wk"),
        F.col("n").alias("n_prev"),
    )
    pairs = (
        a.join(b, ["wk", "event_type"])
        .join(F.broadcast(ta), "wk")
        .join(F.broadcast(tb), "wk")
    )
    # cross products c·n run on DECIMAL(38,0) (the q_ks_drift
    # discipline): int64 throws under ANSI at ~3e9 events/week; the
    # grid rows are weeks×types — tiny — so widening is free.  The
    # BIGINT release is the output contract (holds while the TVD
    # numerator itself fits int64).
    dec = "decimal(38,0)"
    num = F.sum(
        F.abs(
            F.col("cnt").cast(dec) * F.col("n_prev").cast(dec)
            - F.col("c_prev").cast(dec) * F.col("n_cur").cast(dec)
        )
    ).cast("bigint")
    den = (
        F.lit(2).cast(dec)
        * F.max("n_cur").cast(dec)
        * F.max("n_prev").cast(dec)
    ).cast("bigint")
    return pairs.groupBy("wk").agg(
        num.alias("tvd_num"),
        den.alias("tvd_den"),
        (num.cast("double") / den.cast("double")).alias("tvd"),
    ).select(
        F.col("wk").cast("date").alias("week_start"),
        "tvd_num",
        "tvd_den",
        "tvd",
    )


@register(
    "q_gapfill_interpolate",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM h),
    spine AS (
      SELECT t.event_type, g.hr
      FROM (SELECT DISTINCT event_type FROM h) t
      CROSS JOIN (
        SELECT UNNEST(generate_series((SELECT h0 FROM bounds),
                                      (SELECT h1 FROM bounds),
                                      INTERVAL 1 HOUR)) AS hr
      ) g
    ),
    j AS (
      SELECT s.event_type, s.hr, h.n,
             CAST(epoch(s.hr) // 3600 AS BIGINT) AS hi
      FROM spine s LEFT JOIN h
        ON h.event_type = s.event_type AND h.hr = s.hr
    ),
    k AS (
      SELECT event_type, hr, n, hi,
             LAST_VALUE(n IGNORE NULLS) OVER wp AS n_prev,
             LAST_VALUE(CASE WHEN n IS NOT NULL THEN hi END IGNORE NULLS)
               OVER wp AS h_prev,
             FIRST_VALUE(n IGNORE NULLS) OVER wn AS n_next,
             FIRST_VALUE(CASE WHEN n IS NOT NULL THEN hi END IGNORE NULLS)
               OVER wn AS h_next
      FROM j
      WINDOW wp AS (PARTITION BY event_type ORDER BY hi
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY event_type ORDER BY hi
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hr,
           CASE
             WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
             WHEN n_prev IS NOT NULL AND n_next IS NOT NULL THEN
               CAST(n_prev AS DOUBLE)
               + CAST(n_next - n_prev AS DOUBLE)
                 * (CAST(hi - h_prev AS DOUBLE)
                    / CAST(h_next - h_prev AS DOUBLE))
             ELSE NULL
           END AS n_filled,
           (n IS NULL) AS interpolated
    FROM k
    """,
)
def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across missing hours of the per-type
    hourly event count — the ramp fill a metrics store applies to
    sensor-style series (LOCF's step fill, q_gapfill_locf, assumes
    the value HELD; interpolation assumes it MOVED).  Each gap row
    finds its bracketing observations with IGNORE NULLS window
    endpoints and evaluates prev + (next−prev)·(t−tp)/(tn−tp) — a
    fixed-shape scalar expression over integer counts and epoch-hour
    indices, bit-identical across engines.  Series edges (no bracket)
    stay NULL.

    100 TB: the series is aggregated to the (type, hour) grain before
    any window runs; both windows are running extrema over the spine
    (O(days×24) rows per type), partitioned by series key — the raw
    events shuffle once into the grain aggregation and never again."""
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr")
        )
        .crossJoin(h.select("event_type").distinct())
    )
    j = spine.join(h, ["event_type", "hr"], "left").withColumn(
        "hi", (F.unix_timestamp("hr") / 3600).cast("bigint")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hi")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    hi_obs = F.when(F.col("n").isNotNull(), F.col("hi"))
    k = j.select(
        "event_type",
        "hr",
        "n",
        "hi",
        F.last("n", ignorenulls=True).over(wp).alias("n_prev"),
        F.last(hi_obs, ignorenulls=True).over(wp).alias("h_prev"),
        F.first("n", ignorenulls=True).over(wn).alias("n_next"),
        F.first(hi_obs, ignorenulls=True).over(wn).alias("h_next"),
    )
    interp = F.col("n_prev").cast("double") + (
        F.col("n_next") - F.col("n_prev")
    ).cast("double") * (
        (F.col("hi") - F.col("h_prev")).cast("double")
        / (F.col("h_next") - F.col("h_prev")).cast("double")
    )
    return k.select(
        "event_type",
        "hr",
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(
            F.col("n_prev").isNotNull() & F.col("n_next").isNotNull(), interp
        )
        .alias("n_filled"),
        F.col("n").isNull().alias("interpolated"),
    )


@register(
    "q_ks_drift",
    oracle="""
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                  THEN 1 ELSE 0 END AS is1
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) IN (1997, 1998)
    ),
    n AS (
      SELECT SUM(is1) AS n1, SUM(1 - is1) AS n2 FROM s
    ),
    pts AS (
      SELECT cents,
             SUM(is1) AS c1,
             SUM(1 - is1) AS c2
      FROM s GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             SUM(c1) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
             SUM(c2) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      FROM pts
    )
    SELECT CAST(n.n1 AS BIGINT) AS n1,
           CAST(n.n2 AS BIGINT) AS n2,
           CAST(MAX(ABS(f1 * n.n2 - f2 * n.n1)) AS BIGINT) AS d_num,
           CAST(MAX(ABS(f1 * n.n2 - f2 * n.n1)) AS DOUBLE)
             / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) AS d_stat
    FROM cum CROSS JOIN n
    GROUP BY n.n1, n.n2
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic between
    the 1997 and 1998 order-value distributions: D = sup over the
    pooled support of |ECDF1 - ECDF2|. The supremum is computed on
    the INTEGER lattice — max |F1*n2 - F2*n1| over cumulative counts
    — so the maximization never compares floats; the single closing
    division is the only float op (identical operands ⇒ identical
    IEEE result both engines). Completes the drift monitor family:
    TVD (categorical mix), chi-squared (independence), and now KS
    (continuous distribution shift) — the alert a feature store
    fires when a numeric feature's distribution moves.

    100 TB: per-value counts are a partial-aggregable groupBy on the
    quantized value (support-sized, not row-count-sized); both ECDF
    cumulatives then run as ONE boundary-cut parallel prefix-sum pass
    over the distinct support (operators/ranks.py — shared percentile
    cuts, balanced per-bucket windows, literal long offsets), so no
    single-partition window remains even when the support itself is
    large; twin pytest-pinned, oracle unchanged.  The supremum lattice
    |f1·n2 − f2·n1| is evaluated on DECIMAL(38,0) (ADVICE r7): once
    n1·n2 reaches 2^63 (~3e9 rows per slice) the int64 cross products
    would throw under ANSI; the decimal products are the identical
    integers below that bound (bit-equal release) and stay exact far
    beyond it — support-grain rows, so the widening costs nothing
    measurable.  d_num's BIGINT release is the output contract and
    holds while the supremum itself fits int64."""
    from lakehouse_ecommerce_etl_pipeline_spark.operators.ranks import (
        with_global_running_sums,
    )

    s = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1997, 1998))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.when(F.year("o_orderdate") == 1997, 1).otherwise(0).alias("is1"),
        )
    )
    pts = s.groupBy("cents").agg(
        F.sum("is1").alias("c1"),
        F.sum(1 - F.col("is1")).alias("c2"),
    )
    cum = with_global_running_sums(
        pts, ["cents"], primary="cents",
        value_cols=["c1", "c2"], aliases=["f1", "f2"],
    ).select("f1", "f2")
    n = s.agg(
        F.sum("is1").cast("bigint").alias("n1"),
        F.sum(1 - F.col("is1")).cast("bigint").alias("n2"),
    )
    dec = "decimal(38,0)"
    gap = F.abs(
        F.col("f1").cast(dec) * F.col("n2").cast(dec)
        - F.col("f2").cast(dec) * F.col("n1").cast(dec)
    )
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(F.max(gap).cast("bigint").alias("d_num"))
        .select(
            "n1",
            "n2",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("d_stat"),
        )
    )


def q_ks_drift_window_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-window oracle-exactness twin (former production
    plan), pytest-pinned equal to the boundary-cut prefix sums."""
    s = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1997, 1998))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.when(F.year("o_orderdate") == 1997, 1).otherwise(0).alias("is1"),
        )
    )
    pts = s.groupBy("cents").agg(
        F.sum("is1").alias("c1"),
        F.sum(1 - F.col("is1")).alias("c2"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pts.select(
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    n = s.agg(
        F.sum("is1").cast("bigint").alias("n1"),
        F.sum(1 - F.col("is1")).cast("bigint").alias("n2"),
    )
    gap = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(F.max(gap).cast("bigint").alias("d_num"))
        .select(
            "n1",
            "n2",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("d_stat"),
        )
    )
