"""LLM-data tier III: document chunking with overlap.

Cross-engine exactness: chunk boundaries are integer token indices
(sequence/generate_series with the same stride) and chunk text is a
joined slice of the same whitespace split — strings match exactly.

Reference parity: no analogue — chunking is the training-data
operation that turns documents into model-context-sized windows; it
complements packing (llm/sampling.py pack_sequences: many small docs
→ one sequence) by going the other way (one long doc → many windows).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

_CHUNK = 32
_STRIDE = 16


@register(
    "q_chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    )
    SELECT doc_id,
           CAST((i - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
           array_to_string(l[i : i + {_CHUNK} - 1], ' ') AS chunk,
           CAST(len(l[i : i + {_CHUNK} - 1]) AS INTEGER) AS n_tokens
    FROM toks, unnest(generate_series(1, len(l), {_STRIDE})) AS u(i)
    """,
)
def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking: split each document into 32-token
    windows at stride 16 (50 % overlap) — the standard context-window
    preparation for embedding/training, inverse of sequence packing.
    1-based token starts; the tail window is short, never dropped.

    100 TB: sequence+explode+slice is narrow (no shuffle) and fully
    codegen'd — chunking streams through the scan at IO speed. Chunk
    count per doc is ceil(n_tokens/stride), so output size is bounded
    by (1/stride + 1/chunk) x token volume; downstream shuffles key
    on (doc_id, chunk_idx), which is unskewed by construction."""
    toks = F.split(F.col("text"), " ")
    start = F.explode(
        F.sequence(F.lit(1), F.size(F.col("l")), F.lit(_STRIDE))
    ).alias("i")
    d = spread_to_cores(load(spark, sf_dir, "documents"))
    d = d.select("doc_id", toks.alias("l"))
    piece = F.slice(F.col("l"), F.col("i"), _CHUNK)
    return d.select("doc_id", "l", start).select(
        "doc_id",
        ((F.col("i") - 1) / _STRIDE).cast("bigint").alias("chunk_idx"),
        F.array_join(piece, " ").alias("chunk"),
        F.size(piece).cast("int").alias("n_tokens"),
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey)
               AS rn
      FROM orders
    ) t
    WHERE rn <= 2
    """,
)
def q_topk_per_group(spark, sf_dir):
    """Latest 2 orders per customer via the rank-filter pattern
    (operators/windows.py top_k_per_group). Total order (date DESC,
    orderkey) makes the cut deterministic.

    100 TB: the rn <= k filter compiles to WindowGroupLimit, which
    pushes the per-group limit below the shuffle — each map task
    forwards at most k rows per group instead of the full group, so
    the exchange carries O(groups x k), not O(rows). Verified in
    tests/test_plan_quality.py."""
    from lakehouse_ecommerce_etl_pipeline_spark.operators.windows import (
        top_k_per_group,
    )

    return top_k_per_group(
        load(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"
        ),
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey")],
        2,
    ).drop("rn")


@register(
    "q_array_setops",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           array_to_string(list_sort(list_intersect(a.toks, b.toks)), ',')
             AS common_tokens,
           CAST(len(list_intersect(a.toks, b.toks)) AS INTEGER)
             AS n_common,
           CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS INTEGER)
             AS n_union,
           CAST(len(list_filter(list_distinct(a.toks),
                                x -> NOT list_contains(b.toks, x)))
                AS INTEGER) AS n_only_a
    FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
    """,
)
def q_array_setops(spark, sf_dir):
    """Array set algebra (intersect/union/except, deduped) between
    each document's token set and its successor's — the set-overlap
    primitives under n-gram Jaccard, serialized sorted so both
    engines hash identically.

    100 TB: array set ops are per-row JVM expressions; the only wide
    op is the (doc_id = doc_id+1) self-join, an equi-join on the
    shifted key. For real pairwise workloads the pair list comes from
    blocking (LSH/prefix/grid) — this query covers the set-op
    expressions themselves."""
    t = spread_to_cores(load(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    inter = F.array_intersect("ta", "tb")
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.array_join(F.array_sort(inter), ",").alias("common_tokens"),
            F.size(inter).cast("int").alias("n_common"),
            F.size(F.array_union("ta", "tb")).cast("int").alias("n_union"),
            F.size(F.array_except("ta", "tb")).cast("int").alias("n_only_a"),
        )
    )
