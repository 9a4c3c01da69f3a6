"""Unsupervised feature-selection companions to the class-wise scorers.

modlyn ranks features by supervised signal (per-class stats, F-statistic,
logreg weights — reference modlyn/models/_simple_logreg_model.py and this
repo's ``scoring.stats``). A production selector also needs the
UNSUPERVISED half: kill near-constant features and collapse correlated
clusters to one representative before training. This module provides it
over the same ``array``-typed feature column:

- :func:`feature_variances` — global mean / population variance per
  feature position;
- :func:`correlation_matrix` — the full Pearson matrix in long form
  (f1 < f2);
- :func:`redundancy_prune` — greedy drop of any feature whose |corr| to
  an already-kept (higher-scored) feature exceeds a threshold: the
  standard correlation filter that pairs with F-stat/logreg rankings.

Scale design: everything derives from ONE distributed pass — the
``(n, Σx, XᵀX)`` sufficient statistics of ``operators.pca.feature_moments``
(per-Arrow-batch GEMM partials summed by ``operators.combine.sum_partials``,
the engine's one reducer; rows never shuffle, the driver folds ≤64
partials). The mutual-information, PSI and mRMR count tensors
are sums over the same reducer. The d×d solve itself is
driver-side numpy: feature selection operates on d ≲ a few thousand
features, so the matrix is ≤ tens of MB while the row count is unbounded.
A zero-variance feature yields NULL correlations (matching SQL ``corr``)
and is never kept by the pruner.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modlyn_spark.operators.combine import sum_partials
from modlyn_spark.operators.pca import feature_moments


def _stats(df: DataFrame, vec_col: str):
    n, s, xtx = feature_moments(df, vec_col)
    if n < 2:
        raise ValueError(f"need at least 2 rows (got {n})")
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)  # population
    var = np.maximum(np.diag(cov).copy(), 0.0)
    return n, mean, cov, var


def feature_variances(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-position global mean and population variance, long form
    ``(pos, n, mean, var_pop)``."""
    spark = SparkSession.getActiveSession()
    n, mean, _, var = _stats(df, vec_col)
    pdf = pd.DataFrame(
        {
            "pos": np.arange(len(mean), dtype=np.int64),
            "n": np.int64(n),
            "mean": mean,
            "var_pop": var,
        }
    )
    return spark.createDataFrame(pdf)


def correlation_matrix(df: DataFrame, vec_col: str) -> DataFrame:
    """Pearson correlation of every feature pair, long form
    ``(f1, f2, corr)`` with ``f1 < f2``. NULL where either feature is
    constant (SQL ``corr`` semantics). The sample/population distinction
    cancels in the ratio, so this matches both ``numpy.corrcoef`` and
    SQL ``corr`` exactly."""
    spark = SparkSession.getActiveSession()
    _, _, cov, var = _stats(df, vec_col)
    d = len(var)
    sd = np.sqrt(var)
    iu, ju = np.triu_indices(d, k=1)
    denom = sd[iu] * sd[ju]
    with np.errstate(invalid="ignore", divide="ignore"):
        c = np.where(denom > 0, cov[iu, ju] / denom, np.nan)
    pdf = pd.DataFrame(
        {
            "f1": iu.astype(np.int64),
            "f2": ju.astype(np.int64),
            # Float64 so NaN -> NULL at the Arrow boundary (a float64 NaN
            # would survive as NaN and sort above every double)
            "corr": pd.array(c, dtype="Float64"),
        }
    )
    return spark.createDataFrame(pdf)


def fit_standardizer(df: DataFrame, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """Global per-position (mean, std_pop) from one moments pass. A
    constant feature gets std 1.0 (sklearn ``StandardScaler`` convention:
    it centers to exactly 0 instead of dividing by 0)."""
    _, mean, _, var = _stats(df, vec_col)
    std = np.sqrt(var)
    std[std == 0.0] = 1.0
    return mean, std


def apply_standardizer(
    df: DataFrame,
    vec_col: str,
    mean: np.ndarray,
    std: np.ndarray,
    *,
    out_col: str | None = None,
    with_mean: bool = True,
    with_std: bool = True,
) -> DataFrame:
    """Apply ``(x - mean) / std`` elementwise — pure JVM ``zip_with`` over
    the array against literal parameter arrays (whole-stage codegen, no
    Python in the transform path; fitting and serving can reuse the same
    frozen (mean, std) across jobs). Practical for d up to a few thousand
    (the literals live in the plan)."""
    out_col = out_col or vec_col
    expr = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if with_mean:
        ma = F.array(*[F.lit(float(v)) for v in mean])
        expr = F.zip_with(expr, ma, lambda x, m: x - m)
    if with_std:
        sa = F.array(*[F.lit(float(v)) for v in std])
        expr = F.zip_with(expr, sa, lambda x, s: x / s)
    return df.withColumn(out_col, expr)


def standardize(
    df: DataFrame,
    vec_col: str,
    *,
    out_col: str | None = None,
    with_mean: bool = True,
    with_std: bool = True,
) -> DataFrame:
    """Fit + apply z-scoring in one call (the pre-logreg normalization
    step). NULL vectors pass through unchanged by the fit and transform
    to NULL."""
    mean, std = fit_standardizer(df, vec_col)
    return apply_standardizer(
        df, vec_col, mean, std,
        out_col=out_col, with_mean=with_mean, with_std=with_std,
    )


def mutual_information(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """Mutual information I(feature; label) per feature position, with
    equal-width binning — the sklearn ``mutual_info_*``-family ranking
    reduced to two map-side-combinable passes:

    1. per-position min/max as 2d JVM aggregate expressions (pure codegen,
       no explode shuffle — positions stay inside the array);
    2. one ``sum_partials`` pass summing each Arrow batch's
       ``{label: d × bins counts}`` partials by label; the driver stacks
       them in sorted label order and closes the plogp sum in numpy.

    Constant features (or single-label inputs) score 0. Rows with NULL
    vector or label are excluded. Bin edges are plain double arithmetic
    ``floor((x - min) / width)`` clamped to [0, bins-1], reproducible
    verbatim in SQL for the oracle. Natural log.

    At 100 TB: pass 1 ships 2d doubles per mapper, pass 2 ships one
    d·bins·L long tensor per partition — nothing row-shaped ever moves.
    """
    from modlyn_spark.operators.similarity import _vec_dim

    if bins < 2:
        raise ValueError("bins must be >= 2")
    spark = SparkSession.getActiveSession()
    base = df.where(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(vec_col).alias("__v"), F.col(label_col).alias("__l"))
    d = _vec_dim(base, "__v")
    mn, mx = _minmax(base, d)
    w = np.where(mx > mn, (mx - mn) / float(bins), 1.0)
    offs = np.arange(d, dtype=np.int64) * bins

    def counts(X, labels):
        B = np.clip(np.floor((X - mn) / w).astype(np.int64), 0, bins - 1)
        keys, li = np.unique(labels, return_inverse=True)
        return {
            key: (np.bincount((B[li == i] + offs).ravel(), minlength=d * bins),)
            for i, key in enumerate(keys.tolist())
        }

    got = sum_partials(base, counts)
    t = np.stack([got[key][0] for key in sorted(got)]).reshape(len(got), d, bins)
    n = int(t.sum(axis=(0, 2))[0]) if d else 0
    if n < 1:
        raise ValueError("no rows with non-null vector and label")
    cl = t.sum(axis=2)      # (L, d) label margin (same per d)
    cb = t.sum(axis=0)      # (d, bins) bin margin
    with np.errstate(invalid="ignore", divide="ignore"):
        # I = sum c/n * ln(c*n / (cb*cl))
        ratio = (t.astype(np.float64) * n) / (
            cb[None, :, :] * cl[:, :, None]
        )
        terms = np.where(t > 0, t / float(n) * np.log(ratio), 0.0)
    mi = np.maximum(terms.sum(axis=(0, 2)), 0.0)
    pdf = pd.DataFrame(
        {"pos": np.arange(d, dtype=np.int64), "n": np.int64(n), "mi": mi}
    )
    return spark.createDataFrame(pdf)


def _minmax(base: DataFrame, d: int) -> tuple[np.ndarray, np.ndarray]:
    row = base.agg(
        *[F.min(F.col("__v")[i]).alias(f"mn{i}") for i in range(d)],
        *[F.max(F.col("__v")[i]).alias(f"mx{i}") for i in range(d)],
    ).collect()[0]
    mn = np.array([row[f"mn{i}"] for i in range(d)], dtype=np.float64)
    mx = np.array([row[f"mx{i}"] for i in range(d)], dtype=np.float64)
    return mn, mx


def _hist_tensor(
    base: DataFrame, d: int, bins: int, mn: np.ndarray, w: np.ndarray
) -> np.ndarray:
    """(d, bins) histogram counts: one ``sum_partials`` pass of per-batch
    tensors. Values outside [mn, mx] clamp to edge bins; no rows give
    zero counts."""
    offs = np.arange(d, dtype=np.int64) * bins

    def counts(X):
        B = np.clip(np.floor((X - mn) / w).astype(np.int64), 0, bins - 1)
        return (np.bincount((B + offs).ravel(), minlength=d * bins),)

    got = sum_partials(base, counts)
    return (np.zeros(d * bins, dtype=np.int64) if got is None else got[0]).reshape(d, bins)


def psi_scores(
    ref: DataFrame,
    new: DataFrame,
    vec_col: str,
    *,
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per feature position between a reference
    snapshot (training distribution) and a new one (serving / next corpus
    epoch): ``PSI = Σ_b (p_b - q_b) · ln(p_b / q_b)`` over equal-width
    bins FROZEN on the reference min/max (the standard drift monitor;
    PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 action). New-side
    values outside the reference range clamp into the edge bins; empty
    bins are floored at ``eps`` (``max(c/n, eps)``) so the log is finite
    — both rules reproduced verbatim in the SQL oracle.

    Two JVM min/max expressions + one Arrow histogram-tensor pass per
    side through the one reducer: nothing row-shaped ever shuffles.
    """
    from modlyn_spark.operators.similarity import _vec_dim

    if bins < 2:
        raise ValueError("bins must be >= 2")
    spark = SparkSession.getActiveSession()
    r = ref.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("__v")
    )
    q = new.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("__v")
    )
    d = _vec_dim(r, "__v")
    mn, mx = _minmax(r, d)
    w = np.where(mx > mn, (mx - mn) / float(bins), 1.0)
    tp = _hist_tensor(r, d, bins, mn, w)
    tq = _hist_tensor(q, d, bins, mn, w)
    np_, nq = tp.sum(axis=1), tq.sum(axis=1)
    if np_.min() < 1 or nq.min() < 1:
        raise ValueError("both sides need at least one row")
    p = np.maximum(tp / np_[:, None].astype(np.float64), eps)
    qd = np.maximum(tq / nq[:, None].astype(np.float64), eps)
    psi = ((p - qd) * np.log(p / qd)).sum(axis=1)
    pdf = pd.DataFrame(
        {
            "pos": np.arange(d, dtype=np.int64),
            "n_ref": np_.astype(np.int64),
            "n_new": nq.astype(np.int64),
            "psi": psi,
        }
    )
    return spark.createDataFrame(pdf)


def redundancy_prune(
    corr: DataFrame,
    scores: DataFrame,
    *,
    threshold: float = 0.95,
    score_col: str = "score",
    pos_col: str = "pos",
) -> list[int]:
    """Greedy correlation filter: walk features by descending score
    (ties: lower position first), keep a feature unless its |corr| with an
    already-kept feature exceeds ``threshold``. Returns kept positions in
    score order — feed the kept set to the trainer.

    ``corr`` is the long-form output of :func:`correlation_matrix` (d²/2
    rows — driver-sized for selection-scale d); ``scores`` is any
    per-feature ranking, e.g. ``scoring.stats.f_statistic`` output.
    NULL correlations (constant features) never block a keep, but a
    constant feature also carries no signal — give it -inf score upstream
    or drop it with :func:`feature_variances` first.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    cp = corr.toPandas()
    sp = scores.select(pos_col, score_col).toPandas()
    cmap: dict[tuple[int, int], float] = {}
    for f1, f2, c in cp.itertuples(index=False):
        if pd.notna(c):
            cmap[(int(f1), int(f2))] = abs(float(c))
    order = sorted(
        sp.itertuples(index=False),
        key=lambda r: (-float(getattr(r, score_col)), int(getattr(r, pos_col))),
    )
    kept: list[int] = []
    for r in order:
        p = int(getattr(r, pos_col))
        blocked = any(
            cmap.get((min(p, k), max(p, k)), 0.0) > threshold for k in kept
        )
        if not blocked:
            kept.append(p)
    return kept


def pairwise_mutual_information(
    df: DataFrame, vec_col: str, *, bins: int = 10
) -> DataFrame:
    """Mutual information I(f_i; f_j) for every feature PAIR, long form
    ``(f1, f2, mi)`` with ``f1 < f2`` — the redundancy term of
    paper-faithful mRMR (Peng, Long & Ding 2005), in the SAME units
    (nats) as :func:`mutual_information`'s relevance term.

    Same physical plan as the relevance pass: per-position equal-width
    bins from one min/max aggregate, then ONE ``sum_partials`` pass
    summing a (d(d-1)/2, bins, bins) joint-count tensor per Arrow batch;
    the driver closes the plogp sums. Per-partition state
    is d(d-1)/2 * bins^2 longs (~1.6 MB at d=64, bins=10) — independent
    of row count, but quadratic in d: this is a selection-scale-d
    operator (the bound :func:`correlation_matrix` and
    :func:`redundancy_prune` already document).
    """
    from modlyn_spark.operators.similarity import _vec_dim

    if bins < 2:
        raise ValueError("bins must be >= 2")
    spark = SparkSession.getActiveSession()
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("__v")
    )
    d = _vec_dim(base, "__v")
    iu, ju = np.triu_indices(d, k=1)
    npairs = len(iu)

    mn, mx = _minmax(base, d)
    w = np.where(mx > mn, (mx - mn) / float(bins), 1.0)
    b2 = bins * bins
    offs = np.arange(npairs, dtype=np.int64) * b2

    def counts(X):
        B = np.clip(np.floor((X - mn) / w).astype(np.int64), 0, bins - 1)
        t = np.zeros(npairs * b2, dtype=np.int64)
        # joint cell per pair: bin_i * bins + bin_j, offset per pair.
        # Row-chunked: the (rows, npairs) index block is d^2/2 wide,
        # so cap its footprint at ~512 rows (~8 MB at d=64) per slab
        for lo in range(0, len(B), 512):
            Bc = B[lo : lo + 512]
            idx = (Bc[:, iu] * bins + Bc[:, ju]) + offs[None, :]
            t += np.bincount(idx.ravel(), minlength=npairs * b2)
        return (t,)

    (t,) = sum_partials(base, counts)
    t = t.reshape(npairs, bins, bins)
    n = int(t.sum(axis=(1, 2))[0]) if npairs else 0
    if npairs and n < 1:
        raise ValueError("no rows with non-null vector")
    mrow = t.sum(axis=2)  # (npairs, bins) margin of f1
    mcol = t.sum(axis=1)  # (npairs, bins) margin of f2
    with np.errstate(invalid="ignore", divide="ignore"):
        ratio = (t.astype(np.float64) * n) / (
            mrow[:, :, None] * mcol[:, None, :]
        )
        terms = np.where(t > 0, t / float(n) * np.log(ratio), 0.0)
    mi = np.maximum(terms.sum(axis=(1, 2)), 0.0)
    pdf = pd.DataFrame(
        {"f1": iu.astype(np.int64), "f2": ju.astype(np.int64), "mi": mi}
    )
    return spark.createDataFrame(pdf)


def mrmr_select(
    mi: DataFrame,
    redundancy: DataFrame,
    n_select: int,
    *,
    pos_col: str = "pos",
    mi_col: str = "mi",
    red_col: str = "mi",
) -> pd.DataFrame:
    """Greedy max-relevance min-redundancy selection (Peng, Long & Ding
    2005, the MID criterion): pick argmax ``MI(f; y)`` first, then
    repeatedly add

        argmax_f [ MI(f; y) - mean_{s in S} red(f, s) ]

    over the not-yet-selected features. Unlike :func:`redundancy_prune`
    (a static threshold filter), redundancy is RE-SCORED against the
    growing selected set each round — the classic trade-off ranking.

    ``mi`` is :func:`mutual_information` output (pos, mi); ``redundancy``
    is a pair table (f1, f2, value) — paper-faithful with
    :func:`pairwise_mutual_information` (same nats scale as relevance;
    the default ``red_col='mi'``), or :func:`correlation_matrix` with
    ``red_col='corr'`` (|values| are used; note the scale mismatch can
    let low-MI noise outrank correlated signal — the MI form doesn't).
    Both inputs are driver-sized (d and d(d-1)/2 rows, selection-scale
    d); the greedy loop is O(n_select * d) on the driver. NULL
    redundancy entries (constant features under ``corr``) contribute 0.

    Returns a pandas DataFrame (rank, pos, relevance, redundancy, score)
    in selection order; ties break on lower position (deterministic).
    """
    if n_select < 1:
        raise ValueError("n_select must be >= 1")
    mp = mi.select(pos_col, mi_col).toPandas()
    cp = redundancy.select("f1", "f2", red_col).toPandas()
    rel = {int(r[0]): float(r[1]) for r in mp.itertuples(index=False)}
    d = len(rel)
    cmat = np.zeros((d, d))
    for f1, f2, c in cp.itertuples(index=False):
        if pd.notna(c):
            cmat[int(f1), int(f2)] = cmat[int(f2), int(f1)] = abs(float(c))
    selected: list[int] = []
    rows = []
    remaining = sorted(rel)
    for rank in range(min(int(n_select), d)):
        best = None
        for p in remaining:
            red = (
                float(np.mean([cmat[p, s] for s in selected]))
                if selected
                else 0.0
            )
            score = rel[p] - red
            # strictly-greater keeps the lowest position on exact ties
            if best is None or score > best[1]:
                best = (p, score, red)
        p, score, red = best
        rows.append(
            {
                "rank": np.int64(rank),
                "pos": np.int64(p),
                "relevance": rel[p],
                "redundancy": red,
                "score": score,
            }
        )
        selected.append(p)
        remaining.remove(p)
    return pd.DataFrame(rows)
