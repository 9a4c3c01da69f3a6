"""One-pass ridge / OLS regression with per-feature t-statistics.

The reference scores features per-class with F-statistics and logreg
weights (modlyn/models/_simple_logreg_model.py; scoring/stats.py here).
For a CONTINUOUS target the classical analogue is the linear-model
coefficient + its t-statistic, and at Spark scale the whole fit is one
pass of sufficient statistics — no iterative training at all:

- ``operators/combine.sum_partials`` (the engine's one reducer) sums the
  Gram block A'A (m x m, A = features with an optional intercept
  column), the moment vector A'y, y'y and n, one GEMM per Arrow batch,
  folded in pid order (the driver sees at most 64 partials at any
  partition count; executor-side tree levels fold the rest);
- the driver solves the m x m system (G + alpha*D) beta = c, D =
  identity with a zero at the intercept (the standard unpenalized
  intercept), and reads coefficient covariance off the closed form
  sigma^2 * (G+aD)^-1 G (G+aD)^-1 (the ridge sandwich; alpha=0 reduces
  it to the OLS sigma^2 G^-1).

Scale notes: the data pass is shuffle-free; per-partition partial size
is m*(m+3) doubles (~34 KB at d=64, ~8 MB at d=1024), independent of
row count; the driver solve is O(m^3) on an m x m matrix. Determinism:
partials sum in ascending pid order (the reducer's contract), so results
are allclose across parallelism levels — the N-vs-4N invariant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modlyn_spark.operators.combine import sum_partials


class RidgeResult:
    """Closed-form fit artifacts: beta, t-stats, residual variance."""

    def __init__(
        self,
        beta: np.ndarray,
        t_stat: np.ndarray,
        sigma2: float,
        n: int,
        intercept: bool,
        alpha: float,
    ):
        self.beta = beta
        self.t_stat = t_stat
        self.sigma2 = sigma2
        self.n = n
        self.intercept = intercept
        self.alpha = alpha

    def coefficients_df(self, spark) -> DataFrame:
        """Long-form (pos, beta, t_stat); the intercept is pos=-1."""
        m = len(self.beta)
        pos = np.arange(m, dtype=np.int64)
        if self.intercept:
            pos = pos - 1  # intercept first -> pos=-1, features 0..d-1
        rows = pd.DataFrame(
            {"pos": pos, "beta": self.beta, "t_stat": self.t_stat}
        )
        return spark.createDataFrame(rows)


def _suffstats(
    df: DataFrame, features_col: str, target_col: str, intercept: bool
) -> tuple[np.ndarray, np.ndarray, float, int]:
    """One shuffle-free pass: (A'A, A'y, y'y, n) by ``sum_partials``."""
    fc, tc = features_col, target_col
    data = df.select(fc, F.col(tc).cast("double").alias(tc)).where(
        F.col(fc).isNotNull() & F.col(tc).isNotNull()
    )

    def moments(X, y):
        if intercept:
            X = np.hstack([np.ones((len(X), 1)), X])
        return X.T @ X, X.T @ y, float(y @ y), len(X)

    got = sum_partials(data, moments)
    if got is None:
        raise ValueError("ridge_fit: no non-null rows")
    return got


def ridge_fit(
    df: DataFrame,
    features_col: str,
    target_col: str,
    *,
    alpha: float = 0.0,
    intercept: bool = True,
) -> RidgeResult:
    """Closed-form ridge (alpha=0: OLS) over an array<numeric> feature
    column and a numeric target, in ONE distributed pass.

    t-statistics use the ridge sandwich covariance
    ``sigma^2 (G+aD)^-1 G (G+aD)^-1`` with ``sigma^2`` the residual
    variance at the ridge solution over ``n - m`` degrees of freedom —
    exactly the OLS t-stat when alpha=0.
    """
    G, c, yy, n = _suffstats(df, features_col, target_col, intercept)
    m = len(c)
    if n <= m:
        raise ValueError(f"ridge_fit: n={n} rows <= m={m} parameters")
    D = np.eye(m)
    if intercept:
        D[0, 0] = 0.0
    A = G + float(alpha) * D
    beta = np.linalg.solve(A, c)
    # residual sum of squares from the sufficient statistics alone:
    # ||y - Xb||^2 = y'y - 2 b'X'y + b'G b
    rss = float(yy - 2.0 * beta @ c + beta @ G @ beta)
    sigma2 = max(rss, 0.0) / (n - m)
    Ainv = np.linalg.inv(A)
    cov = sigma2 * (Ainv @ G @ Ainv)
    se = np.sqrt(np.clip(np.diag(cov), 1e-300, None))
    t = beta / se
    return RidgeResult(beta, t, sigma2, n, intercept, float(alpha))
