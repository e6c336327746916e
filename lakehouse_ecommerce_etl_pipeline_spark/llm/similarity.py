"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, embarrassingly parallel,
O(n·d) per query; the JVM-side fold (functions/vectors.py) keeps the
hot loop in codegen. The scale path is IVF coarse quantization:
assign every vector to its nearest of k centroids (broadcast join —
centroid set is tiny), store bucketed; a query probes only the
``n_probe`` nearest buckets, pruning ~(1 - n_probe/k) of the data.

100 TB: bucket by centroid id at write time (partitionBy) so a probe
reads only its partitions (partition pruning on the vector table).
Centroids come from a sampled k-means; here a deterministic seed
sample stands in (training loops are out of scope for an engine).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.functions.vectors import cosine, dot, norm
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores


def brute_force_topk(
    vectors: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k by cosine against a 1-row query DataFrame (column
    ``qvec``). The query side broadcasts; no driver collect. Rounded
    similarity + id tie-break gives deterministic, engine-portable
    ordering."""
    joined = vectors.crossJoin(F.broadcast(query_vec))
    scored = joined.select(
        F.col(id_col),
        F.round(cosine(vec_col, "qvec"), round_to).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine >= threshold — embedding
    near-dup dedup. Quadratic baseline; at scale run it per-LSH/IVF
    bucket instead of globally (same inner computation)."""
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", F.round(cosine("va", "vb"), round_to).alias("cosine_sim")
    )
    return scored.filter(F.col("cosine_sim") >= threshold)


def distinct_vector_reps(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Member→representative map over identical-vector groups, for the
    rep-collapse plans (q_embedding_near_dup, q_embedding_clusters):
    cosine is a pure function of the vectors, so pair mining and
    fixpoints need only one representative (min id) per DISTINCT
    vector, and results expand back through this map.

    ZERO-NORM vectors are NOT collapsed — each keeps itself as rep.
    Cosine is undefined on them, so the uncollapsed kernel never pairs
    two zero vectors; collapsing them would make the expansion invent
    within-group pairs at cosine 1 (and clusters would merge) that the
    pre-collapse plan never emits.  Mirrors the empty-token-set guard
    in the text chain's token_set_reps.

    Returns ``(member_map, rep_vectors)``: member_map has
    ``(id_col, rep_id)`` for EVERY input row (plus ``vec_col`` when
    ``keep_vec`` — the artifact-build path, which must NOT re-join on
    the id to re-attach the vector: an id equi-join assumes id
    uniqueness and would silently fan out duplicate-id sources, r9
    ADVICE); rep_vectors is the deduplicated ``(id_col, vec_col)``
    set the kernel should run on.
    """
    m = vectors.select(id_col, vec_col)
    reps = (
        m.filter(dot(vec_col, vec_col) > 0)
        .groupBy(vec_col)
        .agg(F.min(id_col).alias("rep_id"))
    )
    member_cols = [
        F.col(id_col),
        F.coalesce("rep_id", F.col(id_col)).alias("rep_id"),
    ]
    if keep_vec:
        member_cols.append(F.col(vec_col))
    member_map = m.join(reps, vec_col, "left").select(*member_cols)
    if keep_vec:
        rep_vectors = member_map.filter(
            F.col(id_col) == F.col("rep_id")
        ).select(id_col, vec_col)
    else:
        rep_vectors = (
            m.join(member_map, id_col)
            .filter(F.col(id_col) == F.col("rep_id"))
            .select(id_col, vec_col)
        )
    return member_map, rep_vectors


def _nearest_cell(
    cent_rows: list[tuple[int, list[float]]], vec_col: str
) -> Column:
    """Row-wise argmax-cosine centroid pick as ONE expression: a fold
    over the literal (neg_cid, cvec) centroid array whose lambda
    keeps the better of (accumulated, candidate) — identical ordering
    (csim desc, centroid_id asc tie-break; NULL cosine — the
    zero-norm case — never beats a non-NULL and an all-NULL row falls
    back to the smallest centroid id) to the former crossJoin +
    max-struct aggregate + join-back, but with ZERO exchanges: the
    old shape shuffled the n×k scored rows into a groupBy(id) and
    then shuffled the vector table again to re-attach the winner (r12
    optimization, guide §2.4).  One lambda body holds ONE cosine fold
    — an inlined per-centroid expression (k copies) measured ~2×
    slower, an expression-size effect.  ``cent_rows`` must be sorted
    ascending by centroid id; centroid sets are k ≤ a few dozen
    literal arrays — driver/codegen-sized by construction.  Cosine
    here is try_divide arithmetic over finite inputs: NULL happens
    (zero vectors), NaN cannot."""
    cents_lit = F.array(
        *[
            F.struct(
                F.lit(-int(cid)).cast("int").alias("neg_cid"),
                F.array(*[F.lit(float(x)) for x in cvec]).alias("cvec"),
            )
            for cid, cvec in cent_rows
        ]
    )
    zero = F.struct(
        F.lit(None).cast("double").alias("csim"),
        F.lit(-int(cent_rows[0][0])).cast("int").alias("neg_cid"),
    )

    def step(acc: Column, c: Column) -> Column:
        s = cosine(F.col(vec_col), c["cvec"])
        take = s.isNotNull() & (acc["csim"].isNull() | (s > acc["csim"]))
        return F.when(
            take, F.struct(s.alias("csim"), c["neg_cid"].alias("neg_cid"))
        ).otherwise(acc)

    return F.aggregate(cents_lit, zero, step)


def cosine_near_dup_pairs_blocked(
    vectors: DataFrame,
    threshold: float,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """EXACT near-dup pairs without the all-pairs crossJoin: IVF cell
    decomposition + angular triangle-inequality cell-pair pruning.

    Every vector is assigned to its nearest of ``n_cells`` centroids
    (broadcast argmin — linear); each cell keeps its angular radius
    r_i = max θ(member, centroid).  Geodesic angle on the unit sphere
    is a metric, so a pair (a ∈ cell i, b ∈ cell j) can satisfy
    θ(a,b) ≤ θ_t only if θ(c_i,c_j) ≤ r_i + r_j + θ_t — any cell pair
    violating that bound is pruned BEFORE the join.  Admissible pairs
    are verified with the same exact JVM cosine fold as the
    brute-force baseline, so the result is identical to all-pairs
    (the bound is conservative: ε-slack absorbs float error in the
    radii/angles, and rounding slack widens θ_t to cover
    round(c, round_to) ≥ threshold).

    100 TB: candidates flow through equi-joins on cell ids (no
    CartesianProduct); on clustered corpora — the actual near-dup
    regime — far cell pairs prune the quadratic frontier away, and
    cells partition the shuffle.  On adversarially uniform data the
    admissible set degrades toward all cell pairs (exactness has no
    free lunch there); the probabilistic LSH/MinHash path
    (q_near_dup_clusters, q_hyperplane_lsh) is the recall-tunable
    alternative.  At cluster scale, write vectors bucketed by cell id
    so the per-cell joins co-locate, and train centroids with
    llm/kmeans.py instead of the seed stand-in."""
    import math

    spark = vectors.sparkSession
    # centroids are k tiny rows and were ALREADY collected below for
    # the admissible-cell-pair computation — collect them first and
    # assign cells with the row-wise literal argmin (_nearest_cell):
    # the former crossJoin + groupBy(id) + join-back cost two
    # exchanges of the vector table per consumer.  The assignment is
    # then materialized ONCE (localCheckpoint): its three consumers
    # (radii collect, a-side, b-side) each re-ran the whole
    # assignment chain before (r12 optimization, guide §2.4/§5).
    cent_rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in seed_centroids(vectors, n_cells, id_col, vec_col).collect()
    )
    if not cent_rows:
        return vectors.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine_sim"),
        ).limit(0)
    assigned = (
        spread_to_cores(vectors.select(id_col, vec_col))
        .select(
            F.col(id_col),
            F.col(vec_col),
            _nearest_cell(cent_rows, vec_col).alias("b"),
        )
        .localCheckpoint(eager=True)
        .select(
            F.col(id_col),
            F.col(vec_col),
            (-F.col("b.neg_cid")).alias("cell"),
            F.col("b.csim").alias("ccos"),
        )
    )

    clamped = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.col("ccos")))
    radii = {
        r["cell"]: r["r"]
        for r in assigned.groupBy("cell")
        .agg(F.max(F.acos(clamped)).alias("r"))
        .collect()  # O(n_cells) driver decision
    }
    cvecs = dict(cent_rows)

    def angle(u, v):
        d = sum(x * y for x, y in zip(u, v))
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return math.acos(max(-1.0, min(1.0, d / (nu * nv))))

    eps = 1e-6
    theta_t = math.acos(
        max(-1.0, min(1.0, threshold - 10.0 ** (-round_to)))
    )
    cells = sorted(radii)
    admissible = [
        (i, j)
        for a_i, i in enumerate(cells)
        for j in cells[a_i:]
        if angle(cvecs[i], cvecs[j]) <= radii[i] + radii[j] + theta_t + eps
    ]
    pair_df = spark.createDataFrame(admissible, "cell_a int, cell_b int")

    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("cell").alias("cell_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("cell").alias("cell_b"),
    )
    cand = (
        a.join(F.broadcast(pair_df), "cell_a")
        .join(b, "cell_b")
        .filter(
            (F.col("cell_a") < F.col("cell_b"))
            | (
                (F.col("cell_a") == F.col("cell_b"))
                & (F.col("id_a") < F.col("id_b"))
            )
        )
    )
    verified = cand.select(
        F.least("id_a", "id_b").alias("lo"),
        F.greatest("id_a", "id_b").alias("hi"),
        F.round(cosine("va", "vb"), round_to).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= threshold)
    return verified.select(
        F.col("lo").alias("id_a"), F.col("hi").alias("id_b"), "cosine_sim"
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid. centroids:
    (centroid_id, cvec). Adds ``centroid_id``.

    The centroid table is collected (k tiny rows — model-sized, the
    same synchronization point as k-means) and the argmin runs as a
    row-wise literal expression: the former crossJoin + max-struct
    groupBy(id) + join-back shape cost two exchanges of the vector
    table for a decision that is a pure per-row function (r12
    optimization, guide §2.4); tie-break and NULL-cosine ordering are
    identical (_nearest_cell)."""
    cent_rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in centroids.collect()
    )
    if not cent_rows:
        return vectors.select(
            F.col(id_col), F.col(vec_col), F.lit(0).alias("centroid_id")
        ).limit(0)
    return spread_to_cores(vectors.select(id_col, vec_col)).select(
        F.col(id_col),
        F.col(vec_col),
        (-_nearest_cell(cent_rows, vec_col)["neg_cid"]).alias("centroid_id"),
    )


def seed_centroids(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic stand-in for k-means: the k lowest-id vectors
    become centroids (centroid_id, cvec)."""
    w = vectors.orderBy(id_col).limit(k)
    return w.select(
        F.row_number().over(Window.orderBy(id_col)).alias("centroid_id"),
        F.col(vec_col).alias("cvec"),
    )


def ivf_topk(
    vectors: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` centroids nearest
    the query, brute-force only inside those buckets.

    The k-row centroid table is evaluated ONCE (collect) and re-enters
    both consumers as a local relation: the probe's former lazy
    reference re-ran the seed top-k scan of the vector table a second
    time next to ivf_assign's collect (r12 optimization, guide §5)."""
    spark = vectors.sparkSession
    cents0 = seed_centroids(vectors, n_centroids, id_col, vec_col)
    cents = spark.createDataFrame(cents0.collect(), cents0.schema)
    assigned = ivf_assign(vectors, cents, id_col, vec_col)
    probe = (
        cents.crossJoin(F.broadcast(query_vec))
        .select("centroid_id", cosine("cvec", "qvec").alias("csim"))
        .orderBy(F.col("csim").desc(), F.col("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    candidates = assigned.join(F.broadcast(probe), "centroid_id")
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col, round_to)


def topk_multi(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k for MANY queries at once: broadcast the query set
    (qid, qvec), score every (vector, query) pair, keep the per-query
    top-k with a rank window — WindowGroupLimit prunes each partition
    to k rows per query BEFORE the exchange, so the shuffled volume is
    O(partitions x queries x k), not O(n x queries). Self-matches
    (same id) are excluded. Returns (qid, vec_id, cosine_sim, rnk)."""
    scored = (
        vectors.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            F.col(id_col),
            F.round(cosine(vec_col, "qvec"), round_to).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def ivf_topk_multi(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF approximate top-k for MANY queries: assign vectors to
    coarse cells once, pick each query's ``n_probe`` nearest cells,
    and run the exact ranking only inside the probed cells — the scan
    shrinks by ~n_probe/n_centroids while the per-query plan shape
    stays identical to ``topk_multi``. With n_probe == n_centroids
    the probe filter passes everything, so IVF degenerates to the
    exact ranking — the identity tests/test_ann_recall.py pins."""
    # centroids collected once, shared as a local relation by the
    # assignment and the probe (see ivf_topk — r12 optimization)
    spark = vectors.sparkSession
    cents0 = seed_centroids(vectors, n_centroids, id_col, vec_col)
    cents = spark.createDataFrame(cents0.collect(), cents0.schema)
    assigned = ivf_assign(vectors, cents, id_col, vec_col)
    probe = (
        cents.crossJoin(F.broadcast(queries))
        .select(
            "qid",
            "centroid_id",
            cosine("cvec", "qvec").alias("csim"),
        )
        .withColumn(
            "prnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("csim").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("prnk") <= n_probe)
        .select("qid", "centroid_id")
    )
    scored = (
        assigned.join(F.broadcast(probe), "centroid_id")
        .join(F.broadcast(queries), "qid")
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            F.col(id_col),
            F.round(cosine(vec_col, "qvec"), round_to).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )
