"""LLM tier VII: contrastive-pair mining + outer streaming joins.

q_negative_sampling draws k deterministic pseudo-random negatives per
document (md5-ranked candidates — the hash is the randomness, so both
engines draw the same sample); q_hard_negatives mines the
highest-cosine candidates with a DIFFERENT label (the pairs that
matter for contrastive/metric training), under the same integer-
quantized exact-cosine discipline as q_knn_classify.
q_stream_interval_join_outer completes the stream-stream join matrix
with the left-outer variant, whose no-match proofs are
watermark-gated — the batch oracle carries the same cutoff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    events_parquet_path,
    load,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

_NEG_K = 3
_NEG_PREFILTER = 200  # expected survivors per doc under the threshold
_HARD_K = 3
_QUANT = "v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)"


@register(
    "q_negative_sampling",
    oracle=f"""
    WITH ids AS (SELECT doc_id FROM documents),
    pairs AS (
      SELECT doc_id, neg_id,
             (x2 * x2 + x2 * 69069 + 362437) % 2147483647 AS h
      FROM (
        SELECT doc_id, neg_id,
               (x1 * x1 + x1 * 1103515245 + 1013904223) % 2147483647 AS x2
        FROM (
          SELECT a.doc_id, b.doc_id AS neg_id,
                 ((a.doc_id % 2147483647) * 48271
                  + (b.doc_id % 2147483647) * 16807 + 12345)
                 % 2147483647 AS x1
          FROM ids a JOIN ids b ON a.doc_id <> b.doc_id
        )
      )
    ),
    r AS (
      SELECT doc_id, neg_id,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY h, neg_id) AS BIGINT) AS rk
      FROM pairs
    )
    SELECT doc_id, neg_id, rk FROM r WHERE rk <= {_NEG_K}
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: k
    pseudo-random negative documents per document, drawn by ranking
    candidates on int48(md5(doc:cand)) — the hash IS the randomness,
    so the sample is reproducible across engines, retries, and
    partitionings (the same dyadic idea as q_source_mixture_sample,
    applied to pairs).  The hash is a two-round QUADRATIC
    congruential mixer mod p = 2^31−1 (affine seed, then two
    x → x² + a·x + c rounds): a plain affine pair hash resonates
    with lattice-structured ids (measured: 30k of 50k docs with ZERO
    survivors under a threshold that should keep ~200 each), while
    the quadratic rounds break the lattice (measured min 146 / max
    264 survivors across all 50k docs, Poisson-consistent) at ~5 ns
    per pair — md5 gives the same uniformity at ~25× the cost, which
    is the whole budget when the hash runs N² times.  All arithmetic
    stays under 2^63 (x ≤ 2^31 ⇒ x² ≤ 2^62), so DuckDB's
    non-wrapping BIGINT evaluates it identically.

    100 TB: the all-pairs candidate space is quadratic — this shape
    survives by sampling WITHIN hash buckets: assign each doc to
    md5-derived buckets and draw negatives bucket-locally (one
    shuffle, bounded candidates per doc).

    The exact twin here survives scale by a THRESHOLD PREFILTER: the
    top-k smallest of N uniform hashes lie below t = P·C/N with
    overwhelming probability (C = {_NEG_PREFILTER} expected
    survivors), so the quadratic pair stream is filtered MAP-SIDE
    (generation+filter of 2.5 B pairs: 5 s at sf1) and only ~N·C
    survivors reach the sort/window — the r3 form sorted all N²
    rows inside WindowGroupLimit (407 s at sf1). Exactness is
    unconditional: docs with fewer than k survivors below t (never
    observed; probability ~e^-77 at C=200) fall back to a full
    window restricted to just those docs."""
    ids = spread_to_cores(load(spark, sf_dir, "documents")).select("doc_id")
    cand = ids.select(F.col("doc_id").alias("neg_id"))
    p_mod = 2147483647
    x1 = (
        (F.col("doc_id") % p_mod) * 48271
        + (F.col("neg_id") % p_mod) * 16807
        + 12345
    ) % p_mod
    x2 = (x1 * x1 + x1 * 1103515245 + 1013904223) % p_mod
    h = (x2 * x2 + x2 * 69069 + 362437) % p_mod

    n_cand = ids.count()  # O(1) driver scalar, sizes the threshold
    frac = min(1.0, float(_NEG_PREFILTER) / max(n_cand - 1, 1))
    t = max(1, int(p_mod * frac))

    pairs = ids.crossJoin(F.broadcast(cand)).filter(
        F.col("doc_id") != F.col("neg_id")
    )
    # checkpoint the survivor set (~C rows per doc) so the quadratic
    # pair stream generates exactly ONCE — the top/good/deficit
    # branches all re-read the bounded blocks instead of re-running
    # the generation per consumer
    surv = (
        pairs.select("doc_id", "neg_id", h.alias("h"))
        .filter(F.col("h") < t)
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("doc_id").orderBy("h", "neg_id")
    ranked = surv.withColumn("rk", F.row_number().over(w).cast("bigint"))
    # a doc has >= k survivors iff a rank-k row exists — deriving
    # "good" from ranked (not a separate aggregate over surv) lets
    # both branches reuse ONE window exchange, so the quadratic pair
    # stream generates once
    good = ranked.filter(F.col("rk") == _NEG_K).select("doc_id")
    top = ranked.filter(F.col("rk") <= _NEG_K).join(good, "doc_id", "leftsemi")

    deficit = ids.join(good, "doc_id", "left_anti")
    fb_pairs = deficit.crossJoin(F.broadcast(cand)).filter(
        F.col("doc_id") != F.col("neg_id")
    )
    fb = (
        fb_pairs.select("doc_id", "neg_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _NEG_K)
    )
    return top.unionByName(fb).select("doc_id", "neg_id", "rk")


@register(
    "q_hard_negatives",
    oracle=f"""
    WITH qz AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]), {_QUANT}) AS z
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id, b.vec_id AS neg_id, b.label AS neg_label,
             CAST(list_inner_product(a.z, b.z) AS DOUBLE)
               / sqrt(CAST(list_inner_product(a.z, a.z) AS DOUBLE)
                      * CAST(list_inner_product(b.z, b.z) AS DOUBLE)) AS cos
      FROM qz a JOIN qz b
        ON a.label <> b.label AND a.vec_id < 50
    ),
    r AS (
      SELECT vec_id, neg_id, neg_label, cos,
             CAST(row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, neg_id) AS BIGINT)
               AS rk
      FROM pairs
    )
    SELECT vec_id, neg_id, neg_label, cos, rk FROM r WHERE rk <= {_HARD_K}
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for metric learning: for each of the
    first 50 vectors, the top-3 most similar vectors carrying a
    DIFFERENT label — the boundary pairs contrastive losses need.
    Exact cosine over integer-quantized embeddings (FLOOR(v·1000)):
    integer dot products are summation-order-exact, so the "hard"
    ranking is engine-stable where raw float cosines tie-break
    unpredictably.

    100 TB: brute-force is per-query linear — route through the ANN
    tier (IVF cells / LSH buckets / PQ codes) and only exact-score
    the candidate shard; the label-mismatch filter pushes into the
    candidate scan either way."""
    z = F.expr(f"transform(embedding, {_QUANT})").alias("z")
    qz = load(spark, sf_dir, "embeddings").select("vec_id", "label", z)
    q = qz.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("q_label"),
        F.col("z").alias("qv"),
    )
    c = qz.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("z").alias("cv"),
    )
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (s, x) -> s + x)"
    pairs = (
        q.crossJoin(F.broadcast(c))
        .filter(F.col("q_label") != F.col("neg_label"))
        .select(
            F.col("vid").alias("vec_id"),
            "neg_id",
            "neg_label",
            (
                F.expr(dot.format(a="qv", b="cv")).cast("double")
                / F.sqrt(
                    F.expr(dot.format(a="qv", b="qv")).cast("double")
                    * F.expr(dot.format(a="cv", b="cv")).cast("double")
                )
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "neg_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _HARD_K)
        .select("vec_id", "neg_id", "neg_label", "cos", "rk")
    )


@register(
    "q_stream_interval_join_outer",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    horizon AS (
      SELECT max(ts) - INTERVAL 1 HOUR AS final_wm FROM events
    )
    SELECT v.user_id,
           v.event_id AS left_id,
           p.event_id AS right_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_micros
    FROM v
    LEFT JOIN p
      ON p.user_id = v.user_id
     AND epoch_us(p.ts) >= epoch_us(v.ts)
     AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000
    WHERE p.event_id IS NOT NULL
       OR v.ts + INTERVAL 1 HOUR <= (SELECT final_wm FROM horizon)
    """,
)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join (view → purchase within
    1 h, else null-padded). Matches emit eagerly; null rows emit only
    once the watermark proves the interval closed — so views whose
    horizon is still open at end-of-stream stay unemitted, and the
    batch oracle applies the identical final-watermark cutoff
    (max(ts) − 1 h ≥ view ts + horizon). Stream/batch parity INCLUDING
    the cutoff is the point."""
    from lakehouse_ecommerce_etl_pipeline_spark.streaming.joins import (
        stream_interval_join_outer,
    )

    return stream_interval_join_outer(
        spark, events_parquet_path(spark, sf_dir)
    )


@register(
    "q_attribution_first_last",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT p.event_id, e.event_type AS channel, e.ts AS t_ts,
             e.event_id AS t_id
      FROM p JOIN events e
        ON e.user_id = p.user_id
       AND e.ts < p.ts
       AND e.ts >= p.ts - INTERVAL 24 HOUR
       AND e.event_type <> 'purchase'
    ),
    ranked AS (
      SELECT event_id, channel,
             ROW_NUMBER() OVER (PARTITION BY event_id
                                ORDER BY t_ts, t_id) AS rk_first,
             ROW_NUMBER() OVER (PARTITION BY event_id
                                ORDER BY t_ts DESC, t_id DESC) AS rk_last
      FROM touch
    ),
    f AS (
      SELECT channel, COUNT(*) AS n FROM ranked
      WHERE rk_first = 1 GROUP BY channel
    ),
    l AS (
      SELECT channel, COUNT(*) AS n FROM ranked
      WHERE rk_last = 1 GROUP BY channel
    ),
    ch AS (
      SELECT channel FROM f UNION SELECT channel FROM l
    )
    SELECT ch.channel,
           CAST(COALESCE(f.n, 0) AS BIGINT) AS first_touch_credits,
           CAST(COALESCE(l.n, 0) AS BIGINT) AS last_touch_credits
    FROM ch
    LEFT JOIN f ON f.channel = ch.channel
    LEFT JOIN l ON l.channel = ch.channel
    """,
)
def q_attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution side by side: each
    attributed purchase credits one unit to the channel of its
    EARLIEST touch (first-touch) and one to its LATEST (last-touch)
    within the 24 h lookback — the two positional models bracketing
    q_attribution_linear's equal split; comparing the columns shows
    which channels open journeys vs close them. Positions are picked
    by row_number under the (ts, event_id) total order, so credits
    are integer counts with no float anywhere.

    100 TB: same bounded interval join as the linear model; the
    positional picks are two window ranks over per-purchase touch
    lists (small partitions by construction — the lookback caps
    them)."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    e = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    touch = p.join(
        e,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    ).select("event_id", "channel", "t_ts", "t_id")
    wf = Window.partitionBy("event_id").orderBy("t_ts", "t_id")
    wl = Window.partitionBy("event_id").orderBy(
        F.desc("t_ts"), F.desc("t_id")
    )
    ranked = touch.select(
        "event_id",
        "channel",
        F.row_number().over(wf).alias("rk_first"),
        F.row_number().over(wl).alias("rk_last"),
    )
    # ONE conditional aggregation over the ranked touch list — the
    # r9 subplan audit caught the earlier two-branch form (separate
    # rk_first/rk_last filter+count groupings full-outer-joined back
    # together) executing the interval join + windows TWICE: the
    # branches prune different rank columns, so AQE exchange reuse
    # cannot fold them.  The filter reproduces the old full-join
    # domain (channels holding at least one first- or last-touch
    # credit); credits are conditional sums of the same row set.
    return (
        ranked.groupBy("channel")
        .agg(
            F.sum(F.when(F.col("rk_first") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("first_touch_credits"),
            F.sum(F.when(F.col("rk_last") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("last_touch_credits"),
        )
        .filter(
            (F.col("first_touch_credits") > 0)
            | (F.col("last_touch_credits") > 0)
        )
    )
