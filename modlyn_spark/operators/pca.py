"""Distributed PCA over embedding columns (covariance-partials + driver eigh).

The curation primitive that precedes ANN / clustering / semantic dedup at
corpus scale: decorrelate or reduce ``array<float>`` embeddings when dim
is modest (d <= ~2000) and n is astronomically large — exactly the regime
where the (d x d) covariance fits on the driver but the data never could.

Physical shape:

- ``feature_moments`` sums per-batch (n, col-sum, X^T X) — one
  (batch x d)^T @ (batch x d) GEMM per Arrow batch — through
  ``operators/combine.sum_partials``, the engine's one reducer: rows
  NEVER shuffle, d*(d+1) doubles per task come back and fold in
  ascending-pid order (through executor-side tree levels only when the
  scan has more than 64 partitions), so the fitted basis is
  deterministic at ANY parallelism and the driver collects at most 64
  partials, never one per partition (at d=1024 a partial is ~8 MB);
- eigendecomposition of the (d x d) covariance runs on the driver
  (np.linalg.eigh — symmetric, stable), eigenvectors sign-fixed so each
  component's largest-|loading| entry is positive (basis is unique, not
  just unique-up-to-sign);
- ``pca_transform`` projects with one (batch x d) @ (d x k) GEMM per
  Arrow batch.

Reference context: modlyn selects features on dense matrices in memory;
at engine scale the moment-based two-pass (moments, then project) is the
standard distributed PCA (e.g. Spark MLlib's RowMatrix PCA uses the same
Gramian-on-driver layout) re-expressed over DataFrames + Arrow.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from modlyn_spark.operators.combine import sum_partials


@dataclass
class PCAModel:
    mean: np.ndarray                 # (d,)
    components: np.ndarray           # (k, d) rows = principal axes
    explained_variance: np.ndarray   # (k,) eigenvalues, descending
    explained_variance_ratio: np.ndarray  # (k,)
    n_rows: int


def feature_moments(df: DataFrame, vec_col: str) -> tuple[int, np.ndarray, np.ndarray]:
    """One distributed pass over an ``array`` column: returns
    ``(n, column_sums (d,), X^T X (d, d))`` — the sufficient statistics for
    PCA, covariance, correlation, and z-scoring, summed by
    ``combine.sum_partials`` (deterministic under any partitioning). NULL
    vectors are excluded; a null value inside a vector reads as NaN. With
    no rows, ``n`` is 0 (and d is 0)."""

    def moments(X):
        return len(X), X.sum(axis=0), X.T @ X

    got = sum_partials(df.select(vec_col).where(F.col(vec_col).isNotNull()), moments)
    if got is None:
        return 0, np.zeros(0), np.zeros((0, 0))
    return got


def pca_fit(df: DataFrame, vec_col: str, n_components: int) -> PCAModel:
    """Fit PCA on an ``array``-typed column via :func:`feature_moments`.
    One data pass plus a one-row probe of the width; deterministic under
    any partitioning. Requires at least 2 rows."""
    from modlyn_spark.operators.similarity import _vec_dim

    dim = _vec_dim(df.where(F.col(vec_col).isNotNull()), vec_col)
    if not 1 <= n_components <= dim:
        raise ValueError(f"n_components must be in [1, {dim}]")
    n, s, xtx = feature_moments(df, vec_col)
    if n < 2:
        raise ValueError(f"PCA needs at least 2 rows (got {n})")
    mean = s / n
    cov = (xtx - n * np.outer(mean, mean)) / (n - 1)
    cov = (cov + cov.T) / 2.0  # exact symmetry for eigh
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T  # (k, d)
    evals = np.maximum(evals[order], 0.0)
    # sign fix: largest-|loading| entry of each component is positive
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.maximum(np.trace(cov), 1e-300))
    return PCAModel(
        mean=mean,
        components=comps,
        explained_variance=evals,
        explained_variance_ratio=evals / total_var,
        n_rows=n,
    )


def pca_transform(
    df: DataFrame, vec_col: str, model: PCAModel, *, out_col: str = "pca"
) -> DataFrame:
    """Project vectors onto the fitted basis — one (batch x d) @ (d x k)
    GEMM per Arrow batch, appended as ``out_col: array<double>``."""
    mean, W = model.mean, model.components
    schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(DoubleType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vals = pdf[vec_col].to_numpy()
            valid = np.array([v is not None for v in vals])
            out = pdf.copy()
            if valid.all():
                X = np.stack(vals).astype(np.float64)
                out[out_col] = list((X - mean) @ W.T)
            else:
                # NULL vector -> NULL projection (row preserved)
                proj = np.empty(len(vals), dtype=object)
                if valid.any():
                    X = np.stack(vals[valid]).astype(np.float64)
                    proj[valid] = list((X - mean) @ W.T)
                out[out_col] = proj
            yield out

    return df.mapInPandas(run, schema=schema)
