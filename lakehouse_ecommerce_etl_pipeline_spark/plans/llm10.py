"""LLM tier X: corpus geometry and per-source quality rollups.

q_pairwise_distance_histogram profiles the distance distribution of
the embedding space over a deterministic md5-sampled pair set — the
diagnostic that calibrates every ANN threshold (LSH bands, IVF probe
counts, dedup cosine cutoffs) before an index is built.
q_dup_rate_by_source rolls the verified near-dup pair graph up to the
per-source duplicate rate — the corpus-quality scorecard that decides
which ingestion sources need dedup pressure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures_universal,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.llm import (
    _BANDS_UNION,
    _NUM_HASHES,
    _ROWS_PER_BAND,
    _SIG_SELECT,
    _tok_cte,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

_QUANT = "v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)"
_SAMPLE_MOD = 16  # keep ~1/16 of all pairs, hash-selected


@register(
    "q_pairwise_distance_histogram",
    oracle=f"""
    WITH qz AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), {_QUANT}) AS z
      FROM embeddings
    ),
    gated AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               (x2 * x2 + x2 * 69069 + 362437) % 2147483647 AS h
        FROM (
          SELECT id_a, id_b,
                 (x1 * x1 + x1 * 1103515245 + 1013904223)
                 % 2147483647 AS x2
          FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ((a.vec_id % 2147483647) * 48271
                    + (b.vec_id % 2147483647) * 16807 + 12345)
                   % 2147483647 AS x1
            FROM qz a JOIN qz b ON a.vec_id < b.vec_id
          )
        )
      ) WHERE h % {_SAMPLE_MOD} = 0
    ),
    d AS (
      SELECT CAST(list_sum(list_transform(list_zip(a.z, b.z),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist_sq
      FROM gated g JOIN qz a ON a.vec_id = g.id_a
                   JOIN qz b ON b.vec_id = g.id_b
    )
    SELECT CAST(floor(log2(dist_sq + 1)) AS BIGINT) AS log2_bucket,
           COUNT(*) AS n_pairs
    FROM d GROUP BY 1
    """,
)
def q_pairwise_distance_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distance-distribution profile of the embedding space: squared
    euclidean distances between a deterministic 1/{_SAMPLE_MOD}
    md5-sample of all pairs, bucketed by floor(log2) — the geometry
    check run BEFORE building any ANN index (a bimodal histogram
    means near-dup structure exists and LSH thresholds have a valley
    to cut at; a unimodal one means cosine cutoffs must be chosen by
    recall targets instead). Distances are integer (quantized
    embeddings), so the histogram is engine-exact; the pair sample is
    hash-selected (the same two-round quadratic congruential pair
    mixer as q_negative_sampling — ~25× cheaper than md5 per pair,
    and the gate runs N² times), so it is reproducible anywhere.

    100 TB shape (r4): the pair ENUMERATION carries only (id, rep)
    ints and the gate — a codegen-only stream; gated pairs collapse
    map-side into counts per DISTINCT-VECTOR pair, the distance
    kernel runs once per rep pair, and the histogram is the
    count-weighted rollup (duplicates never reach the vector math).
    sf1: 420 s → tens of seconds; at real scale the gate is applied
    to bucket-local candidates instead of all pairs."""
    emb = load(spark, sf_dir, "embeddings")
    mz = emb.select(
        "vec_id", F.expr(f"transform(embedding, {_QUANT})").alias("z")
    )
    reps = mz.groupBy("z").agg(F.min("vec_id").alias("rep_id"))
    mm = mz.join(reps, "z").select("vec_id", "rep_id")
    rz = (
        mz.join(mm, "vec_id")
        .filter(F.col("vec_id") == F.col("rep_id"))
        .select(F.col("rep_id").alias("r"), "z")
    )
    # the N-row probe side fans out to N² gate evaluations — respread
    # it so the enumeration occupies every core, not the upstream
    # join's partition count
    a = mm.select(
        F.col("vec_id").alias("id_a"), F.col("rep_id").alias("ra")
    ).repartition(spark.sparkContext.defaultParallelism * 2)
    b = mm.select(F.col("vec_id").alias("id_b"), F.col("rep_id").alias("rb"))
    p_mod = 2147483647
    x1 = (
        (F.col("id_a") % p_mod) * 48271
        + (F.col("id_b") % p_mod) * 16807
        + 12345
    ) % p_mod
    x2 = (x1 * x1 + x1 * 1103515245 + 1013904223) % p_mod
    h = (x2 * x2 + x2 * 69069 + 362437) % p_mod
    counts = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(h % _SAMPLE_MOD == 0)
        .groupBy(
            F.least("ra", "rb").alias("r1"),
            F.greatest("ra", "rb").alias("r2"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dist = (
        counts.join(rz.select(F.col("r").alias("r1"), F.col("z").alias("za")), "r1")
        .join(rz.select(F.col("r").alias("r2"), F.col("z").alias("zb")), "r2")
        .select(
            "n",
            F.expr(
                "aggregate(zip_with(za, zb, (x, y) -> (x - y) * (x - y)), "
                "0L, (s, x) -> s + x)"
            ).alias("dist_sq"),
        )
    )
    return (
        dist.groupBy(
            F.floor(F.log2(F.col("dist_sq") + 1))
            .cast("bigint")
            .alias("log2_bucket")
        )
        .agg(F.sum("n").cast("bigint").alias("n_pairs"))
    )


_THRESH = 0.5


@register(
    "q_dup_rate_by_source",
    oracle=f"""
    WITH {_tok_cte()},
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
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE)
            >= {_THRESH}
    ),
    dup_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM dup
        UNION ALL
        SELECT id_b AS doc_id FROM dup
      )
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE dd.doc_id IS NOT NULL) AS n_dup_docs,
           CAST(COUNT(*) FILTER (WHERE dd.doc_id IS NOT NULL) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM documents d LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-involvement rate: the share of each
    ingestion source's documents that sit in at least one verified
    near-dup pair (MinHash → LSH → exact-Jaccard ≥ {_THRESH}) — the
    corpus-quality scorecard that tells you WHICH feed needs dedup
    pressure, not just that duplicates exist. The rate is one IEEE
    division of exact counts.

    100 TB: r4 rep-collapse — a document sits in ≥1 verified pair iff
    its distinct-token-set GROUP has ≥2 members (an identical twin is
    a Jaccard-1 pair) OR its representative has a verified pair at
    rep level, so the quadratic pair list never materializes; the
    chain runs on one rep per distinct set (token_set_reps) and the
    verdict joins back through rep_id. The per-source rollup rides
    the corpus scan that ingestion accounting already pays."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.components import (
        token_set_reps,
    )
    docs = spread_to_cores(load(spark, sf_dir, "documents"))
    m = token_set_reps(docs, "doc_id", "text")
    gs = m.groupBy("rep_id").agg(F.count(F.lit(1)).alias("gsz"))
    rep_docs = (
        docs.join(m, "doc_id")
        .filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text")
    )
    sigs = minhash_signatures_universal(rep_docs, "doc_id", "text", _NUM_HASHES)
    cand = lsh_candidate_pairs(sigs, "doc_id", _NUM_HASHES, _ROWS_PER_BAND)
    dup = jaccard_pairs(rep_docs, "doc_id", "text", pairs=cand).filter(
        F.col("jaccard") >= _THRESH
    )
    rep_dup = (
        dup.select(F.col("id_a").alias("rep_id"))
        .unionByName(dup.select(F.col("id_b").alias("rep_id")))
        .distinct()
        .withColumn("rep_hit", F.lit(True))
    )
    # gs/rep_dup are rep-grain (corpus-scale at 100 TB): shuffle joins
    # on rep_id, with AQE free to demote to broadcast at small SF
    flags = (
        m.join(gs, "rep_id")
        .join(rep_dup, "rep_id", "left")
        .select(
            "doc_id",
            ((F.col("gsz") >= 2) | F.col("rep_hit").isNotNull()).alias(
                "is_dup"
            ),
        )
    )
    return (
        docs.select("doc_id", "source")
        .join(flags, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("is_dup")).alias("n_dup_docs"),
            (
                F.count_if(F.col("is_dup")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_rate"),
        )
    )
