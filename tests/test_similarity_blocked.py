"""Exactness of the blocked near-dup plan: the IVF-cell +
triangle-inequality-pruned variant must return the IDENTICAL pair set
as the all-pairs crossJoin baseline, at thresholds where the result
is non-empty and pairs straddle cells."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

from lakehouse_ecommerce_etl_pipeline_spark.llm.similarity import (
    cosine_near_dup_pairs,
    cosine_near_dup_pairs_blocked,
)

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return sorted(
        (r["id_a"], r["id_b"], r["cosine_sim"]) for r in df.collect()
    )


@pytest.mark.parametrize("threshold", [0.8, 0.3, 0.15])
def test_blocked_equals_bruteforce(spark, threshold):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    brute = _pairs(cosine_near_dup_pairs(emb, threshold))
    blocked = _pairs(cosine_near_dup_pairs_blocked(emb, threshold))
    assert blocked == brute


def test_blocked_nontrivial_pruning_structure(spark):
    # low threshold on random-ish vectors → pairs exist, span cells
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = cosine_near_dup_pairs_blocked(emb, 0.15, n_cells=8)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_blocked_no_cartesian_in_plan(spark):
    """The blocked default's physical plan must not contain a
    CartesianProduct node (the quadratic all-pairs shape)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = cosine_near_dup_pairs_blocked(emb, 0.8)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_distinct_vector_reps_keeps_zero_norm_singletons(spark):
    """Zero-norm vectors must NOT collapse into one group (ADVICE r4):
    cosine is undefined on them, so each keeps itself as rep; identical
    non-zero vectors still collapse to the min id."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.similarity import (
        distinct_vector_reps,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (2, [1.0, 0.0]),      # dup non-zero group
            (3, [0.0, 0.0]), (4, [0.0, 0.0]),      # dup ZERO vectors
            (5, [0.0, 2.0]),
        ],
        "vec_id int, embedding array<float>",
    )
    mm, rep = distinct_vector_reps(emb)
    rep_of = {r.vec_id: r.rep_id for r in mm.collect()}
    assert rep_of == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5}
    assert sorted(r.vec_id for r in rep.collect()) == [1, 3, 4, 5]


def test_embedding_near_dup_zero_vectors_never_pair(spark, tmp_path):
    """Duplicate all-zero embeddings produce NO near-dup pairs and stay
    singleton clusters — matching the uncollapsed kernel, where an
    undefined cosine never crosses the threshold (ADVICE r4)."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans.llm import (
        q_embedding_near_dup,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.plans.llm14 import (
        q_embedding_clusters,
    )

    src = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(src.first()["embedding"])
    zeros = spark.createDataFrame(
        [(100001, [0.0] * dim, 0), (100002, [0.0] * dim, 0)],
        "vec_id bigint, embedding array<float>, label int",
    )
    sf = tmp_path / "sfz"
    sf.mkdir()
    src.limit(20).unionByName(zeros).write.parquet(
        str(sf / "embeddings.parquet")
    )

    pairs = q_embedding_near_dup(spark, str(sf)).collect()
    assert all({r.id_a, r.id_b}.isdisjoint({100001, 100002}) for r in pairs)
    clus = {r.vec_id: r.cluster for r in
            q_embedding_clusters(spark, str(sf)).collect()}
    assert clus[100001] == 100001 and clus[100002] == 100002


# The rep maps behind the shared vector/document rep artifacts carry
# the payload column through the rep join itself: one output row per
# input row, duplicate ids or not.


def test_vector_reps_keep_vec_no_fanout_on_duplicate_ids(spark):
    from lakehouse_ecommerce_etl_pipeline_spark.llm.similarity import (
        distinct_vector_reps,
    )

    rows = [
        (1, [1.0, 0.0]),
        (1, [1.0, 0.0]),  # duplicate id — an id re-join would fan out
        (2, [1.0, 0.0]),
        (3, [0.0, 0.0]),  # zero-norm keeps itself as rep
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    mm, rep_vectors = distinct_vector_reps(df, keep_vec=True)
    out = mm.select("vec_id", "rep_id", "embedding").collect()
    assert len(out) == len(rows), "one output row per input row"
    by = {(r.vec_id, tuple(r.embedding)): r.rep_id for r in out}
    assert by[(1, (1.0, 0.0))] == 1
    assert by[(2, (1.0, 0.0))] == 1
    assert by[(3, (0.0, 0.0))] == 3
    # rep_vectors derives from the member map — no id join either
    reps = {r.vec_id for r in rep_vectors.collect()}
    assert reps == {1, 3}

    # parity with the default path on a unique-id source
    uniq = spark.createDataFrame(rows[1:], ["vec_id", "embedding"])
    mm_default, _ = distinct_vector_reps(uniq)
    mm_kept, _ = distinct_vector_reps(uniq, keep_vec=True)
    assert sorted(
        (r.vec_id, r.rep_id) for r in mm_default.collect()
    ) == sorted((r.vec_id, r.rep_id) for r in mm_kept.collect())


def test_token_set_reps_keep_text_no_fanout_on_duplicate_ids(spark):
    from lakehouse_ecommerce_etl_pipeline_spark.llm.components import (
        token_set_reps,
    )

    rows = [
        (1, "the quick fox"),
        (1, "the quick fox"),  # duplicate id
        (2, "fox quick the"),  # same token set → rep 1
        (3, ""),  # empty token set keeps itself
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = token_set_reps(df, "doc_id", "text", keep_text=True).collect()
    assert len(out) == len(rows), "one output row per input row"
    assert {r.doc_id for r in out} == {1, 2, 3}
    by = {r.doc_id: r.rep_id for r in out}
    assert by[2] == 1 and by[3] == 3
    assert all(hasattr(r, "text") for r in out)

    # parity with the default path on a unique-id source
    uniq = spark.createDataFrame(rows[1:], ["doc_id", "text"])
    a = sorted(
        (r.doc_id, r.rep_id)
        for r in token_set_reps(uniq, "doc_id", "text").collect()
    )
    b = sorted(
        (r.doc_id, r.rep_id)
        for r in token_set_reps(
            uniq, "doc_id", "text", keep_text=True
        ).collect()
    )
    assert a == b
