"""Two-sample distribution-drift tests over long-form columns.

PSI (scoring/selection.py:psi_scores) covers the vector-feature drift
surface with fixed-bin histograms; this module adds the EXACT
Kolmogorov-Smirnov statistic for scalar columns — the standard "did
this feature's distribution move between snapshot A and snapshot B /
train and serve" check (reference context: modlyn ranks features by
class-conditional distribution shift; reference modlyn/models
F-statistic semantics — KS is the distribution-free counterpart).

Physical plan: the KS statistic only changes at observed values, so it
is computable EXACTLY from the distinct-value histogram — one
map-side-combinable groupBy (value, side) + a cumulative window over
the distinct values + a max. The window partitions by the feature name,
so a multi-feature report runs every feature's scan in parallel; within
one feature the window is over DISTINCT VALUES, not rows — the same
bounded-histogram contract as operators/binning.py (a double column
with millions of truly-distinct values makes the histogram row count
equal the data; for hashed/quantized features and scores it is tiny).
Nothing here sorts raw rows globally, and the statistic is exact — no
binning approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ks_2sample(
    df: DataFrame,
    value_cols: list[str] | str,
    group_col: str,
    a,
    b,
    *,
    feature_col: str = "feature",
) -> DataFrame:
    """One row per value column: ``(feature, n_a, n_b, d_stat)`` where
    ``d_stat = sup_x |F_a(x) - F_b(x)|`` over the empirical CDFs of the
    two groups (NULL values ignored; a side with no rows yields NULL
    d_stat). Exact — equality with a brute-force sorted-merge oracle is
    the test contract."""
    vals = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    missing = [c for c in vals + [group_col] if c not in df.columns]
    if missing:
        raise ValueError(f"missing columns: {missing}")

    sides = df.where(F.col(group_col).isin([a, b])).withColumn(
        "__ks_side", F.when(F.col(group_col) == F.lit(a), 0).otherwise(1)
    )
    # melt to (feature, value, side) then ONE distinct-value histogram
    stack = ", ".join(f"'{c}', `{c}`" for c in vals)
    long = sides.selectExpr(
        f"stack({len(vals)}, {stack}) AS ({feature_col}, __ks_v)",
        "__ks_side",
    ).where(F.col("__ks_v").isNotNull())
    hist = long.groupBy(feature_col, "__ks_v").agg(
        F.sum(F.when(F.col("__ks_side") == 0, 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__ks_side") == 1, 1).otherwise(0)).alias("__cb"),
    )
    w = (
        Window.partitionBy(feature_col)
        .orderBy(F.col("__ks_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(feature_col)
    cum = hist.select(
        feature_col,
        F.sum("__ca").over(w).alias("__cuma"),
        F.sum("__cb").over(w).alias("__cumb"),
        F.sum("__ca").over(wall).alias("__na"),
        F.sum("__cb").over(wall).alias("__nb"),
    )
    gap = F.abs(
        F.col("__cuma") / F.col("__na") - F.col("__cumb") / F.col("__nb")
    )
    return (
        cum.groupBy(feature_col)
        .agg(
            F.first("__na").alias("n_a"),
            F.first("__nb").alias("n_b"),
            F.max(
                F.when((F.col("__na") > 0) & (F.col("__nb") > 0), gap)
            ).alias("d_stat"),
        )
        .orderBy(feature_col)
    )


def embedding_drift(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    a,
    b,
) -> DataFrame:
    """Per-dimension drift report between two corpus slices in embedding
    space: ``(pos, n_a, n_b, mean_a, mean_b, std_a, std_b, smd)`` where
    ``smd`` is the standardized mean difference (Cohen's d with pooled
    population variance, NULL when both sides are constant) — the
    standard "did the new crawl move the embedding distribution" check
    run before retraining on a refreshed corpus.

    Physical plan: ONE moments pass per side through
    ``operators/pca.feature_moments`` (per-Arrow-batch GEMM partials
    summed by ``operators/combine.sum_partials`` — rows never shuffle,
    the driver folds <= 64 partials per side, and each side's
    scan gets the group filter pushed down); the d-row report assembles
    driver-side. At 100 TB this is two filtered scans and nothing
    else."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    from modlyn_spark.operators.pca import feature_moments

    spark = SparkSession.getActiveSession()
    sides = []
    for v in (a, b):
        part = df.where(F.col(group_col) == F.lit(v)).select(vec_col)
        n, s, xtx = feature_moments(part, vec_col)
        if n < 1:
            raise ValueError(f"group {v!r} has no rows")
        mean = s / n
        var = np.maximum(np.diag(xtx / n - np.outer(mean, mean)), 0.0)
        sides.append((n, mean, var))
    (na, ma, va), (nb, mb, vb) = sides
    if len(ma) != len(mb):
        raise ValueError(f"dim mismatch: {len(ma)} vs {len(mb)}")
    pooled = (va + vb) / 2.0
    with np.errstate(invalid="ignore", divide="ignore"):
        smd = np.where(pooled > 0, (ma - mb) / np.sqrt(pooled), np.nan)
    pdf = pd.DataFrame(
        {
            "pos": np.arange(len(ma), dtype=np.int64),
            "n_a": np.int64(na),
            "n_b": np.int64(nb),
            "mean_a": ma,
            "mean_b": mb,
            "std_a": np.sqrt(va),
            "std_b": np.sqrt(vb),
            "smd": pd.array(smd, dtype="Float64"),
        }
    )
    return spark.createDataFrame(pdf)
