"""Distributed logistic regression — the trained quality-classifier
gate (the fasttext-style filter real corpus pipelines train on a
labeled sample, then run over everything).

Trainer: full-batch gradient descent. Per iteration the data-side
work is ONE narrow pass (margin z = w·x via a fixed-order
multiply-add chain, sigmoid, residual) followed by one
map-side-combinable aggregation of the per-feature gradient sums —
only the (k+1)-vector of gradients ever reaches the driver (the same
synchronization shape as llm/kmeans.py: model-sized, never
data-sized). All math is JVM-side codegen; no UDFs.

Scorer: the deployed gate is INFERENCE with frozen weights — a
linear margin and a sign threshold, which is plain IEEE multiply-add
arithmetic in a fixed association order and therefore CROSS-ENGINE
EXACT (the driver query value-oracles it; the sigmoid is
monotone, so the decision needs no transcendentals at all).

100 TB: training runs on a labeled SAMPLE (that is the production
shape — the gate is cheap because inference is a projection);
scoring rides the corpus scan. Iteration count is the only serial
factor in training.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def margin(feature_cols: list[str], weights: list[float]) -> Column:
    """z = w0 + Σ w_i·x_i as a left-to-right multiply-add chain —
    fixed association order ⇒ bit-identical across engines."""
    z = F.lit(float(weights[0]))
    for c, w in zip(feature_cols, weights[1:]):
        z = z + F.col(c) * F.lit(float(w))
    return z


def train_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 0.5,
    iters: int = 30,
) -> list[float]:
    """Full-batch GD on mean log-loss; returns [w0, w1..wk]. The
    gradient aggregation is one hash aggregate per iteration —
    partial sums combine map-side, the driver sees k+1 doubles.

    The projected feature table is checkpointed before the loop:
    every iteration re-reads the SAME (k+1)-column numeric rows, and
    without it each of the ``iters`` aggregates re-ran the upstream
    scan + feature extraction (regexp/tokenize string work) from
    parquet — iters+1 full passes for one pass of useful data (r12
    optimization, guide §5).  The checkpoint keeps the scan
    partitioning, so per-partition partial-sum order — and with it
    the learned float trajectory — is bit-identical."""
    df = df.select(label_col, *feature_cols).localCheckpoint(eager=True)
    return _gd_loop(df, feature_cols, label_col, lr, iters, df.count())


def _gd_loop(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float,
    iters: int,
    n: int,
) -> list[float]:
    w = [0.0] * (len(feature_cols) + 1)
    for _ in range(iters):
        z = margin(feature_cols, w)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = (p - F.col(label_col).cast("double")).alias("__r")
        agg = df.select(
            resid, *[F.col(c) for c in feature_cols]
        ).agg(
            F.sum("__r").alias("g0"),
            *[
                F.sum(F.col("__r") * F.col(c)).alias(f"g{i + 1}")
                for i, c in enumerate(feature_cols)
            ],
        ).first()
        w = [
            w[j] - lr * float(agg[f"g{j}"]) / n
            for j in range(len(w))
        ]
    return w


def log_loss(
    df: DataFrame, feature_cols: list[str], label_col: str, w: list[float]
) -> float:
    z = margin(feature_cols, w)
    y = F.col(label_col).cast("double")
    # numerically-stable: log(1+exp(-|z|)) + max(z,0) - y*z
    loss = (
        F.log(F.lit(1.0) + F.exp(-F.abs(z)))
        + F.greatest(z, F.lit(0.0))
        - y * z
    )
    return float(df.select(F.avg(loss)).first()[0])


def score_linear(
    df: DataFrame,
    feature_cols: list[str],
    weights: list[float],
) -> DataFrame:
    """Frozen-weight inference: the margin (exact arithmetic) and the
    gate decision z > 0. No sigmoid needed — it is monotone, so the
    threshold lives on the margin."""
    z = margin(feature_cols, weights)
    return df.withColumn("z", z).withColumn("keep", z > 0)


def train_logreg_py(
    rows: list[tuple[list[float], float]],
    lr: float = 0.5,
    iters: int = 30,
) -> list[float]:
    """Independent single-machine reference (same math, python loops)
    for trainer parity tests."""
    k = len(rows[0][0])
    w = [0.0] * (k + 1)
    n = len(rows)
    for _ in range(iters):
        g = [0.0] * (k + 1)
        for x, y in rows:
            z = w[0] + sum(wi * xi for wi, xi in zip(w[1:], x))
            p = 1.0 / (1.0 + math.exp(-z))
            r = p - y
            g[0] += r
            for j in range(k):
                g[j + 1] += r * x[j]
        w = [w[j] - lr * g[j] / n for j in range(k + 1)]
    return w
