"""Distributed Lloyd's k-means over an embedding column — the
iterative-algorithm tier (cluster assignment for corpus curation:
topic balancing, diversity sampling, IVF coarse quantizers).

All per-row math is JVM-side (`zip_with`/`aggregate` folds over the
array column — no Python in the hot path). Each iteration is one
map-side-combinable aggregation; only the k×dim centroid table ever
reaches the driver (that is the standard k-means synchronization
point — k·dim doubles, not data).

100 TB: per iteration the data-side work is a single narrow pass
(broadcast centroids → argmin) plus one shuffle keyed on cluster id
for the centroid update, whose input the explode shrinks to
O(rows × dim) longs but map-side partial aggregation collapses to
O(k × dim) per partition. Iteration count is the only serial factor.
The IVF index (llm/similarity.py) consumes these centroids directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dist_sq(vec_col, centroid: list[float]):
    """Squared euclidean distance to a literal centroid, as one
    codegen'd fold."""
    lit_vec = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec_col, lit_vec, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Argmin over the centroid list — a least()/when() chain, fully
    JVM-side."""
    vec = F.col(vec_col).cast("array<double>")
    dists = [_dist_sq(vec, c) for c in centroids]
    best = F.least(*dists) if len(dists) > 1 else dists[0]
    cluster = None
    for j, d in enumerate(dists):
        cluster = (
            F.when(d == best, F.lit(j))
            if cluster is None
            else cluster.when(d == best, F.lit(j))
        )
    return df.withColumn("cluster", cluster).withColumn("dist_sq", best)


def update_centroids(assigned: DataFrame, dim: int, vec_col: str = "embedding"):
    """New centroids = per-cluster element-wise mean via posexplode —
    the shuffle is keyed on (cluster, position) and map-side combined."""
    rows = (
        assigned.select(
            "cluster",
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .groupBy("cluster", "pos")
        .agg(F.avg("val").alias("mean"))
        .collect()
    )
    by_cluster: dict[int, list[float]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], [0.0] * dim)[r["pos"]] = r["mean"]
    return [by_cluster[j] for j in sorted(by_cluster)]


def kmeans(
    df: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's iterations with deterministic seeding (the k smallest
    ids), returning (id, cluster, dist_sq).

    The (id, vector) projection is materialized once up front
    (localCheckpoint): the loop re-reads the SAME rows 2 + 2·iters
    times (dim probe, seed collect, per-iteration update + the final
    assignment), and without it every pass re-ran the upstream scan/
    derivation (r12 optimization, guide §5). Partitioning — and with
    it the float partial-sum order of the centroid means — is
    unchanged, so the trajectory is bit-identical.

    Checkpoint lifetime (r12 ADVICE item 2): the returned plan reads
    the checkpointed blocks, and they free when ContextCleaner GCs
    the RDD after the caller drops the DataFrame — no release code.
    localCheckpoint is the package's one way to reuse an intermediate
    within a query, so the same holds at every site (loops included:
    a superseded generation frees once it is dropped)."""
    df = df.select(id_col, vec_col).localCheckpoint(eager=True)
    dim = len(df.select(vec_col).first()[0])
    seeds = [
        [float(x) for x in r[0]]
        for r in df.orderBy(id_col).limit(k).select(vec_col).collect()
    ]
    centroids = seeds
    assigned = assign_clusters(df, centroids, vec_col)
    for _ in range(iters):
        centroids = update_centroids(assigned, dim, vec_col)
        assigned = assign_clusters(df, centroids, vec_col)
    return assigned.select(id_col, "cluster", "dist_sq")
