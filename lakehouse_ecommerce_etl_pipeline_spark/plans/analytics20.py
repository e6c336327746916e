"""Analytics tier XX: statistical tests, sketch-quality measurement,
funnel timing.

- chi-square test of independence over a contingency table, with the
  term sums routed through DECIMAL so the statistic is associative
  and fully value-oracled (each term is an IEEE expression of exact
  integers — identical on both engines — and the quantized terms add
  in any order);
- MinHash estimate-quality: the estimated Jaccard (matching signature
  fraction) side-by-side with the exact token-set Jaccard on the LSH
  candidate pairs — the measurement loop that tells you whether 8
  permutations are enough before you scale the dedup;
- time-to-convert funnel latency: exact interpolated median/p90 of
  first-view→first-purchase seconds.

Reference parity: all extension-tier (SURVEY.md §2.13) — the
analytical zone's "ordering behavior" analyses, done with
engine-exact arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.llm import (
    _BANDS_UNION,
    _NUM_HASHES,
    _ROWS_PER_BAND,
    _SIG_SELECT,
    _tok_cte,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register


# ------------------------------------------------- chi-square test


@register(
    "q_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT s, p, o,
             CAST(SUM(o) OVER (PARTITION BY s) AS BIGINT) AS r,
             CAST(SUM(o) OVER (PARTITION BY p) AS BIGINT) AS c,
             CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM cells
    ),
    terms AS (
      SELECT n,
             CAST(FLOOR(
               (CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE))
               / CAST(n * r * c AS DOUBLE) * 1000000000000
             ) AS BIGINT) AS term
      FROM m
    )
    SELECT CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE) / 1000000000000.0
             AS chi2_stat,
           CAST((SELECT COUNT(DISTINCT o_orderstatus) FROM orders) - 1 AS INTEGER)
           * CAST((SELECT COUNT(DISTINCT o_orderpriority) FROM orders) - 1
                  AS INTEGER) AS dof,
           MAX(n) AS n
    FROM terms
    """,
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order status and
    priority: contingency cells + marginals via windows over the
    (tiny) cell table, per-cell terms (o·n − r·c)²/(n·r·c) computed
    as IEEE expressions of exact integers (identical on both
    engines), then FLOOR-quantized onto a 1e-12 integer lattice so
    the final sum is order-independent — a float Σ would tie the
    statistic to partitioning, and FLOOR (unlike a decimal cast's
    rounding) has no tie for engine builds to break (DESIGN §21).

    100 TB: one shuffle to build the cells; everything after runs on
    |status|×|priority| rows. The integer products o·n, r·c and n·r·c
    run on DECIMAL(38,0) (the q_ks_drift discipline — ADVICE r7):
    int64 products would throw under ANSI once n reaches ~3·10^9
    rows; the decimal products are the identical integers below that
    bound, and decimal→double conversion rounds to the same nearest
    double as bigint→double at every magnitude, so the released
    statistic is bit-equal on both paths and exact integer arithmetic
    survives any corpus size (the 15-cell table makes the widening
    free)."""
    cells = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    dec = "decimal(38,0)"
    m = cells.select(
        "s",
        "p",
        F.col("o").cast(dec).alias("o"),
        F.sum("o").over(Window.partitionBy("s")).cast(dec).alias("r"),
        F.sum("o").over(Window.partitionBy("p")).cast(dec).alias("c"),
        F.sum("o").over(Window.partitionBy()).cast(dec).alias("n"),
    )
    diff = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    term = F.floor(
        (diff * diff)
        / (F.col("n") * F.col("r") * F.col("c")).cast("double")
        * F.lit(1000000000000)
    ).cast("bigint")
    terms = m.select("n", term.alias("term"))
    o = load(spark, sf_dir, "orders")
    dof = (
        (o.select("o_orderstatus").distinct().count() - 1)
        * (o.select("o_orderpriority").distinct().count() - 1)
    )
    return terms.agg(
        (
            F.sum("term").cast("bigint").cast("double")
            / F.lit(1000000000000.0)
        ).alias("chi2_stat"),
        F.lit(dof).cast("int").alias("dof"),
        # released BIGINT (the output contract); exact — n is a count
        F.max("n").cast("bigint").alias("n"),
    )


# ------------------------------------------------- sketch quality

_EST_MATCH = " + ".join(
    f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END"
    for i in range(_NUM_HASHES)
)


@register(
    "q_minhash_estimate_quality",
    oracle=f"""
    WITH {_tok_cte("WHERE doc_id < 100")},
    sig AS (SELECT doc_id, {_SIG_SELECT} FROM tok GROUP BY doc_id),
    bands AS (
      {_BANDS_UNION}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.id_a, c.id_b, ({_EST_MATCH}) AS n_match
      FROM cand c
      JOIN sig a ON a.doc_id = c.id_a
      JOIN sig b ON b.doc_id = c.id_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN tok a ON a.doc_id = c.id_a
      JOIN tok b ON b.doc_id = c.id_b AND b.tok = a.tok
      GROUP BY c.id_a, c.id_b
    )
    SELECT e.id_a, e.id_b,
           CAST(e.n_match AS DOUBLE) / {_NUM_HASHES} AS est_jaccard,
           ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / CAST(sa.sz + sb.sz - COALESCE(i.i, 0) AS DOUBLE), 6)
             AS true_jaccard
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes sa ON sa.doc_id = e.id_a
    JOIN sizes sb ON sb.doc_id = e.id_b
    """,
)
def q_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality measurement: for every LSH candidate pair, the
    MinHash-estimated Jaccard (fraction of the 8 signature slots that
    agree — an unbiased estimator of J) next to the exact token-set
    Jaccard. Run it before scaling a dedup: the est-vs-true spread
    tells you whether 8 permutations and a 0.5 threshold hold, or you
    need 16/32. All comparisons are BIGINT signature equalities and
    integer ratios — exact on both engines.

    100 TB: estimates are free (signatures already exist for LSH);
    exact Jaccard runs only on the candidate pairs, which is the
    whole point of banding. Bounded here to a doc subset (the
    measurement needs a sample, not the corpus) — same discipline as
    q_jaccard_pairs."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_universal,
        tokens,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sigs = minhash_signatures_universal(docs, "doc_id", "text", _NUM_HASHES)
    cand = lsh_candidate_pairs(sigs, "doc_id", _NUM_HASHES, _ROWS_PER_BAND)

    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(_NUM_HASHES)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(_NUM_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_NUM_HASHES)
    )
    est = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", n_match.alias("n_match"))
    )

    tok = tokens(docs, "doc_id", "text")
    ta = tok.select(F.col("doc_id").alias("id_a"), F.col("tok").alias("t"))
    tb = tok.select(F.col("doc_id").alias("id_b"), F.col("tok").alias("t"))
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "t"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb"))

    i0 = F.coalesce(F.col("i"), F.lit(0))
    return (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_match").cast("double") / _NUM_HASHES).alias(
                "est_jaccard"
            ),
            F.round(
                i0.cast("double") / (F.col("sa") + F.col("sb") - i0).cast("double"),
                6,
            ).alias("true_jaccard"),
        )
    )


# ------------------------------------------------- funnel timing


@register(
    "q_time_to_convert",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT date_diff('second', t_view, t_buy) AS conv_s
      FROM u WHERE t_view IS NOT NULL AND t_buy IS NOT NULL
        AND t_buy > t_view
    )
    SELECT COUNT(*) AS n_converted,
           quantile_cont(conv_s, 0.5) AS median_s,
           quantile_cont(conv_s, 0.9) AS p90_s
    FROM conv
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: seconds from a user's first view to their
    first purchase (ordered conversions only), summarized as exact
    interpolated median and p90 — the duration companion of
    q_funnel_ordered's stage counts. Durations are integer epoch-
    second differences, so the percentile interpolation runs on
    identical inputs cross-engine.

    100 TB: one conditional-min aggregate per user (map-side
    combinable), then percentiles over one value per converted user —
    swap exact percentile for approx_percentile at cluster scale."""
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
                "t_view"
            ),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("t_buy"),
        )
    )
    conv = u.filter(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") > F.col("t_view"))
    ).select(
        (
            F.expr("unix_micros(t_buy) div 1000000")
            - F.expr("unix_micros(t_view) div 1000000")
        ).alias("conv_s")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile("conv_s", 0.5).alias("median_s"),
        F.percentile("conv_s", 0.9).alias("p90_s"),
    )


# ------------------------------------------------- moving median


@register(
    "q_moving_median",
    oracle="""
    SELECT event_id, user_id, value,
           quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_median
    FROM events
    """,
)
def q_moving_median(spark, sf_dir):
    """Rolling median of the event value over a trailing 5-row frame
    per user — the robust (outlier-immune) counterpart of the moving
    averages in q_window_frame, and an ordered-set aggregate running
    as a window function. The frame is a row count under a total
    (ts, event_id) order, and interpolation sees identical doubles on
    both engines, so every output is bit-stable.

    100 TB: one shuffle on user_id, then a per-partition sort and a
    5-element sliding buffer — no whole-history state. Percentile
    frames resist incremental computation (no inverse op), so Spark
    recomputes per frame: fine at width 5, use a t-digest-style
    sketch column for wide frames."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.percentile("value", 0.5).over(w).alias("moving_median"),
    )


# ------------------------------------------------- boundary buckets

_DECILES = "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]"


@register(
    "q_quantile_bucket_assign",
    oracle=f"""
    WITH b AS (
      SELECT quantile_cont(c_acctbal, {_DECILES}) AS bl FROM customer
    )
    SELECT c.c_custkey,
           CAST(len(list_filter(b.bl, x -> x < c.c_acctbal)) + 1 AS INTEGER)
             AS decile
    FROM customer c CROSS JOIN b
    """,
)
def q_quantile_bucket_assign(spark, sf_dir):
    """Equi-depth bucket ASSIGNMENT via precomputed boundaries: one
    pass computes the 9 decile cut points, then every row's bucket is
    1 + (boundaries strictly below its value) — a broadcast of 9
    doubles and a codegen'd array scan per row. This is the scale
    path the ntile-based q_histogram_equidepth's docstring promises:
    same bucketing contract, NO global sort, no single reducer.
    Boundary values and < comparisons are identical doubles on both
    engines, so assignments match exactly.

    100 TB: swap the exact percentile for approx_percentile (one-pass
    mergeable sketch) and the plan is a scan + broadcast + scan —
    fully parallel at any scale; rows equal to a cut point land in
    the lower bucket by the strict < (deterministic tie rule)."""
    cust = load(spark, sf_dir, "customer")
    b = cust.agg(
        F.percentile(
            "c_acctbal", [i / 10 for i in range(1, 10)]
        ).alias("bl")
    )
    return cust.crossJoin(F.broadcast(b)).select(
        "c_custkey",
        (
            F.size(F.filter("bl", lambda x: x < F.col("c_acctbal"))) + 1
        )
        .cast("int")
        .alias("decile"),
    )


# ------------------------------------------------- feature moments


@register(
    "q_feature_moments",
    oracle="""
    WITH q AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    z AS (
      SELECT pos, v,
             CAST(FLOOR(v * 100000) AS DECIMAL(20,0)) AS qi
      FROM q
    ),
    m AS (
      SELECT pos,
             CAST(COUNT(*) AS DECIMAL(20,0)) AS n,
             SUM(qi) AS s1,
             SUM(qi * qi) AS s2,
             MIN(v) AS lo, MAX(v) AS hi
      FROM z GROUP BY pos
    )
    SELECT CAST(pos AS INTEGER) AS pos,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100000.0 AS mean,
           sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)) / 100000.0
             AS stddev,
           lo, hi
    FROM m
    """,
)
def q_feature_moments(spark, sf_dir):
    """Per-dimension feature statistics of the embedding matrix
    (mean, population stddev, min, max) — the profiling pass feature
    standardization / whitening reads its scale factors from.
    Components are quantized to FLOOR(v·1e5) integers so BOTH moments
    and the variance numerator n·Σx² − (Σx)² are exact decimal
    arithmetic; floats appear only in the final divisions and sqrt of
    identical inputs. (The textbook E[x²]−E[x]² in doubles loses the
    oracle to FMA: DuckDB contracts a−b·c where the JVM cannot, a
    1-ulp divergence this formulation removes.)

    The grid is 1e5, not finer, so the variance numerator stays below
    2^53 at oracle scale (n=500, |v|<0.6 ⇒ n·Σq² < 1e15): a decimal
    whose unscaled value exceeds 2^53 casts to double through DuckDB's
    hugeint path (upper·2^64 + lower, multiple roundings) while Spark
    rounds once via BigDecimal — a last-ulp divergence that data
    magnitudes, not formulas, control.

    100 TB: one narrow posexplode + one map-side-combinable aggregate
    over 64 groups; the same shape as q_label_centroids with a second
    moment added — production fuses both passes into one agg."""
    z = (
        load(spark, sf_dir, "embeddings")
        .select(F.posexplode("embedding").alias("pos", "vf"))
        .select(
            F.col("pos").cast("int").alias("pos"),
            F.col("vf").cast("double").alias("v"),
        )
        .withColumn(
            "qi", F.floor(F.col("v") * 100000).cast("decimal(20,0)")
        )
    )
    m = z.groupBy("pos").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum("qi").alias("s1"),
        F.sum(F.col("qi") * F.col("qi")).alias("s2"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    n_d = F.col("n").cast("double")
    return m.select(
        "pos",
        (F.col("s1").cast("double") / n_d / 100000.0).alias("mean"),
        (
            F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
                    "double"
                )
                / n_d
                / n_d
            )
            / 100000.0
        ).alias("stddev"),
        "lo",
        "hi",
    )


# ------------------------------------------------- SQL-defined UDF


@register(
    "q_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS net_revenue,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sql_udf(spark, sf_dir):
    """SQL-defined scalar function (Spark 4 `CREATE FUNCTION ...
    RETURN expr`): the net-price formula is declared ONCE as catalog
    DDL and reused by name — the engine's answer to the reference's
    copy-pasted per-job expressions (the same formula appears inline
    in all three Glue jobs). Declared to return the exact
    1e-4-dollar int64 lattice (DESIGN §21 rule 3) so aggregation over
    it stays exact and engine-build-portable; the oracle inlines the body,
    proving SQL UDFs are pure macro expansion (Catalyst inlines them
    — zero runtime cost, unlike Python UDFs).

    100 TB: a SQL UDF is substituted into the plan before
    optimization, so pushdown/codegen/pruning see through it — the
    ONLY udf flavor with no scale tax; it is also the unit of
    business-logic governance (one definition, grants, versioned in
    the catalog)."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
        ensure_session_defaults,
    )

    ensure_session_defaults(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT "
        "RETURN CAST(ROUND(p * 100) AS BIGINT) "
        "* (100 - CAST(ROUND(d * 100) AS BIGINT))"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(net_price(l_extendedprice, l_discount)) AS DOUBLE)
                 / 10000.0 AS net_revenue,
               COUNT(*) AS n_lines
        FROM {lineitem} GROUP BY l_returnflag
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


# ------------------------------------------------- CDC apply-changes

_ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "o_orderdate, o_orderpriority"
)
_UPD = "md5('upd:' || CAST(o_orderkey AS VARCHAR)) < '2'"
_DEL = f"md5('del:' || CAST(o_orderkey AS VARCHAR)) < '2' AND NOT ({_UPD})"


@register(
    "q_merge_apply_changes",
    oracle=f"""
    WITH changed AS (
      SELECT o_orderkey FROM orders WHERE ({_UPD}) OR ({_DEL})
    ),
    kept AS (
      SELECT {_ORDER_COLS} FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changed)
    ),
    upserts AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + 1000 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE {_UPD}
    )
    SELECT * FROM kept UNION ALL SELECT * FROM upserts
    """,
)
def q_merge_apply_changes(spark, sf_dir):
    """MERGE with a delete branch (CDC apply): a deterministic change
    feed — ~1/8 of keys updated (+1000 price), a disjoint ~1/8
    retracted — applied to the orders table via
    sinks/merge.py::apply_changes_frames. The relational core
    (anti-join ∪ filtered upserts) is what the Delta
    whenMatchedDelete/UpdateAll/InsertAll branches compute, so the
    snapshot oracles exactly; the storage path is exercised by
    tests/test_merge_and_tables.py.

    100 TB: one shuffle on the merge key; with Delta, file skipping
    bounds the rewrite to files containing changed keys and deletes
    are tombstones until VACUUM. The md5-threshold change feed is the
    cookbook's deterministic-sampling trick — reproducible fixtures
    without RNG."""
    from lakehouse_ecommerce_etl_pipeline_spark.sinks.merge import (
        apply_changes_frames,
    )

    orders = load(spark, sf_dir, "orders")
    upd = F.expr(_UPD.replace("VARCHAR", "STRING"))
    dele = F.expr(_DEL.replace("VARCHAR", "STRING"))
    changes = orders.filter(upd | dele).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(upd, F.col("o_totalprice") + 1000)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        F.when(dele, "delete").otherwise("upsert").alias("op"),
    )
    return apply_changes_frames(orders, changes, ["o_orderkey"], op_col="op")


# ------------------------------------------------- activity heatmap


@register(
    "q_dow_hour_heatmap",
    oracle="""
    WITH e AS (
      SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS INTEGER) AS h FROM events
    )
    SELECT dow,
           CAST(COALESCE(SUM(CASE WHEN h = 0 THEN 1 END), 0) AS BIGINT) AS h00,
           CAST(COALESCE(SUM(CASE WHEN h = 1 THEN 1 END), 0) AS BIGINT) AS h01,
           CAST(COALESCE(SUM(CASE WHEN h = 2 THEN 1 END), 0) AS BIGINT) AS h02,
           CAST(COALESCE(SUM(CASE WHEN h = 3 THEN 1 END), 0) AS BIGINT) AS h03,
           CAST(COALESCE(SUM(CASE WHEN h = 4 THEN 1 END), 0) AS BIGINT) AS h04,
           CAST(COALESCE(SUM(CASE WHEN h = 5 THEN 1 END), 0) AS BIGINT) AS h05,
           CAST(COALESCE(SUM(CASE WHEN h = 6 THEN 1 END), 0) AS BIGINT) AS h06,
           CAST(COALESCE(SUM(CASE WHEN h = 7 THEN 1 END), 0) AS BIGINT) AS h07,
           CAST(COALESCE(SUM(CASE WHEN h = 8 THEN 1 END), 0) AS BIGINT) AS h08,
           CAST(COALESCE(SUM(CASE WHEN h = 9 THEN 1 END), 0) AS BIGINT) AS h09,
           CAST(COALESCE(SUM(CASE WHEN h = 10 THEN 1 END), 0) AS BIGINT) AS h10,
           CAST(COALESCE(SUM(CASE WHEN h = 11 THEN 1 END), 0) AS BIGINT) AS h11,
           CAST(COALESCE(SUM(CASE WHEN h = 12 THEN 1 END), 0) AS BIGINT) AS h12,
           CAST(COALESCE(SUM(CASE WHEN h = 13 THEN 1 END), 0) AS BIGINT) AS h13,
           CAST(COALESCE(SUM(CASE WHEN h = 14 THEN 1 END), 0) AS BIGINT) AS h14,
           CAST(COALESCE(SUM(CASE WHEN h = 15 THEN 1 END), 0) AS BIGINT) AS h15,
           CAST(COALESCE(SUM(CASE WHEN h = 16 THEN 1 END), 0) AS BIGINT) AS h16,
           CAST(COALESCE(SUM(CASE WHEN h = 17 THEN 1 END), 0) AS BIGINT) AS h17,
           CAST(COALESCE(SUM(CASE WHEN h = 18 THEN 1 END), 0) AS BIGINT) AS h18,
           CAST(COALESCE(SUM(CASE WHEN h = 19 THEN 1 END), 0) AS BIGINT) AS h19,
           CAST(COALESCE(SUM(CASE WHEN h = 20 THEN 1 END), 0) AS BIGINT) AS h20,
           CAST(COALESCE(SUM(CASE WHEN h = 21 THEN 1 END), 0) AS BIGINT) AS h21,
           CAST(COALESCE(SUM(CASE WHEN h = 22 THEN 1 END), 0) AS BIGINT) AS h22,
           CAST(COALESCE(SUM(CASE WHEN h = 23 THEN 1 END), 0) AS BIGINT) AS h23
    FROM e GROUP BY dow
""",
)
def q_dow_hour_heatmap(spark, sf_dir):
    """Day-of-week x hour-of-day activity heatmap: the canonical
    operations dashboard matrix, computed as a pivot over derived
    time parts. Day numbering is normalized to DuckDB's 0=Sunday
    convention (Spark dayofweek is 1=Sunday — the classic
    cross-engine off-by-one); missing cells are zero-filled so the
    matrix is dense.

    100 TB: one shuffle on (dow) with map-side combine over at most
    7x24 cells — the pivot is metadata-width, the scan is the cost.
    Derived-column pivots like this are why partition pruning on a
    date column matters: a dashboard refresh scans only new days."""
    e = load(spark, sf_dir, "events").select(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").cast("int").alias("h"),
    )
    pivoted = (
        e.groupBy("dow")
        .pivot("h", list(range(24)))
        .agg(F.count(F.lit(1)))
    )
    zero = F.lit(0).cast("bigint")
    return pivoted.select(
        "dow",
        *[
            F.coalesce(F.col(str(h)).cast("bigint"), zero).alias(f"h{h:02d}".format(h=h))
            for h in range(24)
        ],
    )


# ------------------------------------------------- sequence patterns


@register(
    "q_sequence_pattern",
    oracle="""
    WITH j AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
      FROM events GROUP BY user_id
    )
    SELECT user_id, journey,
           CAST(len(regexp_extract_all(journey, 'v[ce]*p')) AS BIGINT)
             AS n_conversions,
           journey LIKE '%vp%' AS has_direct_conversion
    FROM j
    """,
)
def q_sequence_pattern(spark, sf_dir):
    """Event-sequence pattern matching (the MATCH_RECOGNIZE shape):
    collapse each user's ordered event stream into a journey string
    of type initials, then count regex occurrences of
    view→(click|error)*→purchase — pattern mining over sequences as
    plain string algebra. Ordering is imposed INSIDE the aggregation
    (collect_list of (ts,event_id,initial) structs, array_sort, then
    join), since collect_list alone has no order guarantee; the
    oracle's string_agg carries the same ORDER BY. Regex uses
    explicit ASCII classes only (Java/RE2-portable).

    100 TB: one shuffle on user_id; journeys are bounded by per-user
    activity (cap with slice() for power users). The technique turns
    sequential-pattern queries into scan+regex — no self-joins, no
    state machine UDF, codegen end to end."""
    j = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "  struct(ts, event_id, substring(event_type, 1, 1) AS c)"
                ")), s -> s.c), '')"
            ).alias("journey")
        )
    )
    return j.select(
        "user_id",
        "journey",
        F.expr("CAST(size(regexp_extract_all(journey, 'v[ce]*p', 0)) AS BIGINT)")
        .alias("n_conversions"),
        F.col("journey").like("%vp%").alias("has_direct_conversion"),
    )


# ------------------------------------------------- weighted mean


@register(
    "q_weighted_avg",
    oracle="""
    SELECT p.p_brand,
           (CAST(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                          * CAST(ROUND(l.l_discount * 100) AS BIGINT))
                      AS BIGINT) AS DOUBLE) / 10000.0)
             / (CAST(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                          AS BIGINT) AS DOUBLE) / 100.0)
             AS wavg_discount,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def q_weighted_avg(spark, sf_dir):
    """Value-weighted average discount per brand: Σ(w·x)/Σ(w) with
    both sums on the exact integer lattice (cents × basis-points
    int64 products, DESIGN §21 rule 3; per-group sums ≪ 2^63 at
    100 TB), descaled by two exact power-of-ten divisions and one
    final IEEE division — the weighted-mean
    aggregate a plain AVG silently gets wrong (it answers "average
    discount per LINE", not "per DOLLAR"). Dimension joins broadcast.

    100 TB: identical cost to an unweighted aggregate — two partial
    sums instead of one, still map-side combinable, one shuffle on
    the group key."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    w = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    x = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            (
                (F.sum(w * x).cast("bigint").cast("double") / F.lit(10000.0))
                / (F.sum(w).cast("bigint").cast("double") / F.lit(100.0))
            ).alias("wavg_discount"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ------------------------------------------------- decile transitions


@register(
    "q_quintile_transition",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 2 END
               AS period,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS monetary
      FROM orders GROUP BY 1, 2
    ),
    q AS (
      SELECT o_custkey, period,
             CAST(ntile(5) OVER (PARTITION BY period
                                 ORDER BY monetary DESC, o_custkey)
                  AS INTEGER) AS quintile
      FROM m
    )
    SELECT a.quintile AS q_before, b.quintile AS q_after,
           COUNT(*) AS n_customers
    FROM q a JOIN q b ON a.o_custkey = b.o_custkey
     AND a.period = 1 AND b.period = 2
    GROUP BY 1, 2
    """,
)
def q_quintile_transition(spark, sf_dir):
    """Customer-value migration matrix: spend quintile in the early
    period (orders before 1998) vs the late period, counted per
    (before, after) cell — the period-over-period dynamics view that
    static RFM (q_rfm_segments) can't show (who climbed, who
    churned-down). Quintiles rank inside each period under a total
    order; only customers active in both periods transition.

    100 TB: two aggregates on (custkey, period) + per-period ntile
    (single reducer over one row per customer-period — replace with
    approx_percentile boundaries at scale, q_quantile_bucket_assign)
    + a self-join on custkey that co-partitions with the aggregate.
    The output is a 5×5 matrix."""
    from pyspark.sql import Window

    m = (
        load(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey",
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
            )
            .otherwise(2)
            .alias("period"),
        )
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).cast("double")
                / F.lit(100.0)
            ).alias("monetary")
        )
    )
    w = Window.partitionBy("period").orderBy(F.desc("monetary"), "o_custkey")
    q = m.select(
        "o_custkey", "period", F.ntile(5).over(w).cast("int").alias("quintile")
    )
    a = q.filter(F.col("period") == 1).select(
        "o_custkey", F.col("quintile").alias("q_before")
    )
    b = q.filter(F.col("period") == 2).select(
        "o_custkey", F.col("quintile").alias("q_after")
    )
    return (
        a.join(b, "o_custkey")
        .groupBy("q_before", "q_after")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
