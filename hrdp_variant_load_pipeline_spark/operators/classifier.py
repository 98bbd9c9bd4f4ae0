"""Distributed logistic-regression quality classifier.

Production corpus pipelines train a small linear model over cheap
document signals (quality_score components, LM log-prob, compression
ratio, …) against a labeled seed set (e.g. "looks like Wikipedia" vs
"looks like spam" — the fastText-classifier role in CCNet/C4-style
stacks), then score the whole corpus with it. Both halves live here:

* ``train_logreg`` — full-batch gradient descent where EACH iteration
  is ONE Spark aggregate over the (persisted, standardized) feature
  frame: the cluster computes the exact gradient's d+1 sums with
  map-side partial aggregation; only the (d+1)-sized weight vector
  lives driver-side. Deterministic for fixed inputs (float addition
  order varies per shuffle, but the gradient is a sum of ~1e-16-level
  associativity noise — far below the convergence tolerance).
* ``apply_logreg`` — a pure Column expression (codegen, no UDF, no
  shuffle): sigmoid(w·standardized(x) + b).

Scale shape: O(n_iter) scans of a cached columnar projection, nothing
collected but 1-row aggregates — the same contract as ``pagerank``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hrdp_variant_load_pipeline_spark.runtime import release


def _standardization(df: DataFrame, feature_cols: list[str]) -> dict:
    row = df.agg(
        *[F.avg(c).alias(f"mu_{c}") for c in feature_cols],
        *[F.coalesce(F.stddev_pop(c), F.lit(0.0)).alias(f"sd_{c}") for c in feature_cols],
    ).collect()[0]
    return {
        c: (row[f"mu_{c}"] or 0.0, row[f"sd_{c}"] if row[f"sd_{c}"] else 1.0)
        for c in feature_cols
    }


def train_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iter: int = 60,
    lr: float = 0.5,
    l2: float = 0.0,
) -> dict:
    """Train p(label=1 | x) = sigmoid(w·z + b) with z = (x−μ)/σ.

    Returns ``{"weights": {col: w}, "bias": b, "standardize": {col:
    (mu, sd)}}`` — pass to ``apply_logreg``. Null features are treated
    as the column mean (z = 0): the neutral imputation, computed
    row-locally at both train and apply time.
    """
    stats = _standardization(df, feature_cols)
    z_cols = [
        ((F.coalesce(F.col(c), F.lit(stats[c][0])) - stats[c][0]) / stats[c][1]).alias(
            f"__z{j}"
        )
        for j, c in enumerate(feature_cols)
    ]
    data = df.select(
        F.col(label_col).cast("double").alias("__y"), *z_cols
    ).persist()
    try:
        n = data.count()  # also materializes the cache
        d = len(feature_cols)
        w = [0.0] * d
        b = 0.0
        for _ in range(n_iter):
            z = F.lit(b)
            for j in range(d):
                z = z + F.lit(w[j]) * F.col(f"__z{j}")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = p - F.col("__y")
            grad_row = data.agg(
                *[F.sum(err * F.col(f"__z{j}")).alias(f"g{j}") for j in range(d)],
                F.sum(err).alias("gb"),
            ).collect()[0]
            for j in range(d):
                w[j] -= lr * (grad_row[f"g{j}"] / n + l2 * w[j])
            b -= lr * grad_row["gb"] / n
    finally:
        release(data)
    return {
        "weights": dict(zip(feature_cols, w)),
        "bias": b,
        "standardize": stats,
    }


def apply_logreg(model: dict, out_digits: int = 6) -> Column:
    """Scoring Column for a ``train_logreg`` model — compose into any
    select; whole-stage codegen, no UDF."""
    z: Column = F.lit(model["bias"])
    for c, w in model["weights"].items():
        mu, sd = model["standardize"][c]
        z = z + F.lit(w) * ((F.coalesce(F.col(c), F.lit(mu)) - F.lit(mu)) / F.lit(sd))
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), out_digits)

