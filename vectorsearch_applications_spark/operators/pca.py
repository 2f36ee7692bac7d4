"""Distributed PCA over an embedding column — fit by covariance
aggregation, project by codegen fold.

The embedding-pipeline transform the ANN family sits downstream of:
dimensionality reduction before indexing (OPQ/PCA rotation in FAISS
deployments), whitening before cosine thresholds, 4×-16× storage cuts.

Fit (``pca_fit``) is the classic two-moment reduction:
  1. one Arrow-batched ``mapInPandas`` pass computes PER-PARTITION partial
     moments (count, Σx, X^T X as one numpy matmul per batch) — the only
     corpus pass, emitting one flattened row per batch;
  2. the tiny partial-moment rows (executors × d² floats) aggregate
     driver-side; eigendecomposition of the d×d covariance runs in numpy
     on the driver — d is model dimension (64-1024), never data-sized.

Project (``pca_project``) applies the fitted components as LITERAL
arrays inside a Catalyst ``transform``+fold — k·d multiplies per row in
whole-stage codegen, zero shuffle, zero Python on the hot path.

Float moment sums are partition-order dependent, so PCA is rows-only
tier (like the logistic classifier); semantics are pinned by property
tests against numpy's eigendecomposition (subspace equality up to sign).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cast_double_sql, sql_ident


def pca_fit(
    df: DataFrame, vec_col: str = "embedding", k: int = 8
) -> tuple[list[list[float]], list[float], list[float]]:
    """Returns (components [k×d], mean [d], explained_variance [k])."""
    import numpy as np
    import pandas as pd

    def partial_moments(batches):
        for pdf in batches:
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if len(X) == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = df.select(vec_col).mapInPandas(
        partial_moments, "n long, s array<double>, ss array<double>"
    ).collect()
    import numpy as np

    if not parts:
        # empty corpus: no moments to diagonalize — empty fit, shaped so
        # pca_project on an empty frame still composes (k×0 components)
        return [], [], []
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    ss = np.sum([np.asarray(p["ss"]) for p in parts], axis=0)
    d = len(s)
    mean = s / n
    cov = ss.reshape(d, d) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k×d
    # sign convention: largest-|.| coordinate positive, so fits are unique
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1
    return comps.tolist(), mean.tolist(), evals[order].tolist()


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    mean: list[float],
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Append the k-dim projection as literal-weight folds — pure
    codegen projection, no shuffle, no Python."""
    v = F.expr(cast_double_sql(sql_ident(vec_col)))
    mean_arr = F.array(*[F.lit(float(m)) for m in mean])
    centered = F.zip_with(v, mean_arr, lambda a, b: a - b)

    def comp(c: list[float]) -> Column:
        carr = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with(centered, carr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return df.withColumn(out_col, F.array(*[comp(c) for c in components]))
