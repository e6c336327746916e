"""LLM data-pipeline tier IV: contamination detection and
repetition scoring.

Two quality gates every large-scale training-data pipeline runs that
the earlier llm tiers don't cover:

- **benchmark contamination**: training documents sharing a 4-token
  shingle with a held-out benchmark set must be flagged/excluded
  (n-gram-overlap decontamination; production uses 8-13-gram windows
  — this synthetic corpus shares token sets, not long sequences, so
  the window is shortened to keep the query non-trivial);
- **repetition scoring**: the duplicated-trigram fraction inside a
  document — the boilerplate/degenerate-text signal quality filters
  cut on.

Cross-engine exactness: shingles are md5 hex strings of
space-joined token slices (identical tokenization both engines —
plans/llm.py's _NORM convention); scores are ratios of integers.

Reference parity: extension tier (BASELINE.json north star "text
analysis"); no analogue in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = f"list_filter(string_split({_NORM}, ' '), t -> t <> '')"
# Spark twin of the same token array
_TOKS_SPARK = (
    "filter(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '),"
    " t -> t != '')"
)

_SHINGLE = 4


@register(
    "q_contamination_ngrams",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS tk FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(tk, i, i + {_SHINGLE - 1}), ' '))
               AS shingle
      FROM toks,
           unnest(range(1, greatest(len(tk) - {_SHINGLE - 1}, 0) + 1)) AS u(i)
    ),
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    )
    SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared_shingles
    FROM sh s JOIN bench b ON b.shingle = s.shingle
    WHERE s.doc_id % 50 <> 0
    GROUP BY s.doc_id
    """,
)
def q_contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document (98%
    of the corpus) that shares a 4-token shingle with the benchmark
    subset (doc_id % 50 = 0 stands in for the eval set), with the
    count of shared shingles as evidence strength. This is the
    n-gram-overlap method for train/test leakage (8-13-gram windows
    in production; shortened here because the synthetic corpus
    shuffles templates, sharing sets but few long runs).

    100 TB: shingling is a narrow per-row array transform (no
    shuffle); the join is train-shingles ⋈ benchmark-shingles, where
    the benchmark side is tiny and broadcast-able, so the training
    corpus never shuffles — decontamination costs one scan. Shingle
    md5s (16 bytes) stand in for the raw 8-grams, keeping the
    exploded stream narrow."""
    toks = spread_to_cores(load(spark, sf_dir, "documents")).select(
        "doc_id", F.expr(_TOKS_SPARK).alias("tk")
    )
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(if(size(tk) < {_SHINGLE}, CAST(array() AS ARRAY<INT>),"
                    f" sequence(1, size(tk) - {_SHINGLE - 1})),"
                    f" i -> md5(array_join(slice(tk, i, {_SHINGLE}), ' ')))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    bench = (
        sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared_shingles"))
    )


@register(
    "q_repetition_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS tk FROM documents
    ),
    tri AS (
      SELECT doc_id,
             CAST(greatest(len(tk) - 2, 0) AS BIGINT) AS n_trigrams,
             CAST(len(list_distinct(list_transform(
               range(1, greatest(len(tk) - 2, 0) + 1),
               i -> md5(array_to_string(list_slice(tk, i, i + 2), ' '))
             ))) AS BIGINT) AS n_unique
      FROM toks
    )
    SELECT doc_id, n_trigrams, n_unique,
           CAST(n_trigrams - n_unique AS DOUBLE) / CAST(n_trigrams AS DOUBLE)
             AS rep_ratio
    FROM tri WHERE n_trigrams > 0
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: the fraction of trigram slots
    occupied by a repeat of an earlier trigram — the
    degenerate-text/boilerplate signal quality pipelines threshold on
    (high ratio ⇒ template spam, keyboard mashing, lyrics loops).
    Trigram multiset vs set sizes are computed INSIDE the array
    column (transform + array_distinct), so the whole score is one
    codegen'd projection.

    100 TB: zero shuffles — scan, per-row array algebra, emit 4
    narrow columns; composes with q_quality_score/q_lang_id into the
    single-pass quality gate. Ratios are integer-over-integer IEEE
    divisions, bit-stable."""
    toks = spread_to_cores(load(spark, sf_dir, "documents")).select(
        "doc_id", F.expr(_TOKS_SPARK).alias("tk")
    )
    tri = toks.select(
        "doc_id",
        F.expr("CAST(greatest(size(tk) - 2, 0) AS BIGINT)").alias(
            "n_trigrams"
        ),
        F.expr(
            "CAST(size(array_distinct(transform("
            "if(size(tk) < 3, CAST(array() AS ARRAY<INT>), sequence(1, size(tk) - 2)),"
            " i -> md5(array_join(slice(tk, i, 3), ' '))))) AS BIGINT)"
        ).alias("n_unique"),
    )
    return tri.filter(F.col("n_trigrams") > 0).select(
        "doc_id",
        "n_trigrams",
        "n_unique",
        (
            (F.col("n_trigrams") - F.col("n_unique")).cast("double")
            / F.col("n_trigrams").cast("double")
        ).alias("rep_ratio"),
    )
