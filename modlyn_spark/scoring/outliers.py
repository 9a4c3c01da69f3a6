"""Distribution-level outlier scoring over embedding columns.

Curation pipelines gate on per-row quality signals (repetition, LM
logprob, blur); what those miss is the row that is individually clean
but far from the corpus DISTRIBUTION — mislabeled images, wrong-domain
documents, embedding-model failures. Squared Mahalanobis distance
d²(x) = (x − μ)ᵀ Σ⁻¹ (x − μ) is the classical score: axis-aligned
z-scores miss correlated-feature outliers, Mahalanobis whitens first.

Physical design — the shared-moments pattern:

- μ and Σ come from ONE ``operators.pca.feature_moments`` pass (the
  same (n, Σx, XᵀX) sufficient statistics PCA / standardize /
  correlation selection already share), summed by
  ``operators.combine.sum_partials``: rows never shuffle, driver state
  is O(d²);
- the (d, d) ridge-regularized precision matrix inverts on the driver
  (d ≤ a few thousand — same driver-holds-the-model contract as the
  logreg weights) and broadcasts into one scoring ``mapInPandas``:
  ((X − μ) P ∘ (X − μ)) row-sums via a single GEMM per Arrow batch;
- total: one scan for moments + one scan for scores, zero shuffles.

With population moments and ridge → 0 the scores average to exactly
``d`` (trace(Σ⁻¹ Σ)); the tests pin that identity, the numpy twin, and
affine invariance.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from modlyn_spark.operators.pca import feature_moments


def mahalanobis_scores(
    df: DataFrame,
    vec_col: str,
    *,
    ridge: float = 1e-9,
    out_col: str = "maha_sq",
) -> DataFrame:
    """Append ``out_col`` = squared Mahalanobis distance of each row's
    vector from the corpus mean under the corpus (population)
    covariance, ridge-regularized: Σ⁻¹ ≈ (Σ + ridge·I)⁻¹. NULL vectors
    score NULL. Raises if fewer than 2 non-null vectors."""
    n, s, xtx = feature_moments(df, vec_col)
    if n < 2:
        raise ValueError(
            f"need >= 2 non-null vectors to estimate covariance, got {n}"
        )
    mu = s / n
    cov = xtx / n - np.outer(mu, mu)
    cov = (cov + cov.T) / 2.0  # exact symmetry for the solver
    d = len(mu)
    P = np.linalg.inv(cov + float(ridge) * np.eye(d))
    P = (P + P.T) / 2.0

    schema = StructType(
        df.schema.fields + [StructField(out_col, DoubleType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            ok = pdf[vec_col].notna().to_numpy()
            vals = np.full(len(pdf), np.nan)
            if ok.any():
                X = (
                    np.stack(pdf[vec_col].to_numpy()[ok]).astype(np.float64)
                    - mu
                )
                vals[ok] = ((X @ P) * X).sum(axis=1)
            # Float64 (nullable) so NaN surfaces as NULL, not NaN
            out[out_col] = pd.array(vals, dtype="Float64")
            yield out

    return df.mapInPandas(run, schema=schema)
