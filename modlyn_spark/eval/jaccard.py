"""Top-N feature-set Jaccard comparison between scoring methods.

Parity re-implementation of the reference evaluator
(modlyn/eval/_jaccard.py:25-82 CompareScores.compute_jaccard_comparison):
per class, take the top-N features by |score| for each method, compute
pairwise Jaccard |A∩B|/|A∪B|, append the analytic random baseline
(n>=G -> 1 else 2n/(2G-n), _jaccard.py:67-71).

Two implementations:

- ``CompareScores`` — driver-side numpy on wide score matrices, exact parity
  with the reference including pandas nlargest tie and NaN semantics
  (score matrices are k x d — tiny — so the driver is the right physical
  plan even at cluster scale; SURVEY.md §3.3).
- ``topn_jaccard`` — distributed long-form variant for relational consumers:
  window top-k per (method, class), self-join on (class, feature) for the
  intersection, set sizes from a groupBy. Used when score tables are large
  (many methods x many classes) or already live in Spark.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class CompareScores:
    """Reference-parity comparator over wide pandas score matrices
    (index = classes, columns = features, attrs['method_name'] set)."""

    def __init__(self, dataframes, n_top_values=None):
        self.dataframes = dataframes
        self.n_top_values = n_top_values or [25, 50, 100, 200]
        self.results_df = None

    def compute_jaccard_comparison(self):
        """Long results (cell_line, n_top, method_pair, jaccard): per
        n_top, class and method pair, then one random-baseline row per
        n_top. Classes and features are the sorted ones common to every
        matrix."""
        names = [df.attrs["method_name"] for df in self.dataframes]
        genes = sorted(set.intersection(*[set(df.columns) for df in self.dataframes]))
        cells = sorted(set.intersection(*[set(df.index) for df in self.dataframes]))
        # features per class by descending |score|, as pandas
        # nlargest(keep="first"): a stable sort keeps the earlier feature of
        # a tie, and NaN sorts last, in position order
        order = {
            name: np.argsort(
                -np.abs(df.loc[cells, genes].to_numpy(np.float64)),
                axis=1,
                kind="stable",
            )
            for df, name in zip(self.dataframes, names)
        }
        rows = np.arange(len(cells))[:, None]
        results = []
        for n_top in self.n_top_values:
            tops = {}
            for name, o in order.items():
                tops[name] = np.zeros((len(cells), len(genes)), dtype=bool)
                tops[name][rows, o[:, :n_top]] = True
            pairs = [
                (f"{a}<->{b}", (tops[a] & tops[b]).sum(1), (tops[a] | tops[b]).sum(1))
                for a, b in combinations(names, 2)
            ]
            for i, cell in enumerate(cells):
                for pair, inter, union in pairs:
                    results.append(
                        {
                            "cell_line": cell,
                            "n_top": n_top,
                            "method_pair": pair,
                            "jaccard": int(inter[i]) / int(union[i]) if union[i] else 0,
                        }
                    )
        n_genes = len(genes)
        for n_top in self.n_top_values:
            rj = 1.0 if n_top >= n_genes else (2 * n_top) / (2 * n_genes - n_top)
            results.append(
                {"n_top": n_top, "method_pair": "Random baseline", "jaccard": rj}
            )
        self.results_df = pd.DataFrame(results)
        return self.results_df


def topn_jaccard(
    scores: DataFrame,
    n_top_values: list[int],
    *,
    method_col: str = "method",
    class_col: str = "label",
    feature_col: str = "pos",
    score_col: str = "score",
    include_random_baseline: bool = True,
) -> DataFrame:
    """Distributed pairwise top-N Jaccard over a long-form score table.

    Input: DataFrame(method, label, feature, score) — all methods stacked.
    Output: DataFrame(label, n_top, method1, method2, jaccard).

    Ties within |score| break by ascending feature id — deterministic, and
    identical to pandas nlargest (keep='first' in frame order) when features
    are emitted in position order, as all engine scorers do.

    Only classes/features common to every method participate (the reference
    aligns on the intersection first: modlyn/eval/_jaccard.py:30-36).
    """
    n_methods_df = scores.select(method_col).distinct()
    n_methods = n_methods_df.count()

    # align on (class, feature) present for every method
    common = (
        scores.groupBy(class_col, feature_col)
        .agg(F.countDistinct(method_col).alias("nm"))
        .where(F.col("nm") == n_methods)
        .select(class_col, feature_col)
    )
    aligned = scores.join(F.broadcast(common), [class_col, feature_col])

    w = Window.partitionBy(method_col, class_col).orderBy(
        F.abs(F.col(score_col)).desc(), F.col(feature_col).asc()
    )
    ranked = aligned.select(
        method_col, class_col, feature_col, F.row_number().over(w).alias("rk")
    )

    n_tops = ranked.sparkSession.createDataFrame(
        [(n,) for n in n_top_values], ["n_top"]
    )
    tops = ranked.join(F.broadcast(n_tops), ranked.rk <= F.col("n_top")).select(
        method_col, class_col, feature_col, "n_top"
    )

    a = tops.select(
        F.col(method_col).alias("method1"),
        F.col(class_col).alias(class_col),
        F.col(feature_col).alias(feature_col),
        "n_top",
    )
    b = tops.select(
        F.col(method_col).alias("method2"),
        F.col(class_col).alias(class_col),
        F.col(feature_col).alias(feature_col),
        "n_top",
    )
    inter = (
        a.join(b, [class_col, feature_col, "n_top"])
        .where(F.col("method1") < F.col("method2"))
        .groupBy(class_col, "n_top", "method1", "method2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = tops.groupBy(method_col, class_col, "n_top").agg(
        F.count(F.lit(1)).alias("sz")
    )
    s1 = sizes.select(
        F.col(method_col).alias("method1"),
        class_col,
        "n_top",
        F.col("sz").alias("sz1"),
    )
    s2 = sizes.select(
        F.col(method_col).alias("method2"),
        class_col,
        "n_top",
        F.col("sz").alias("sz2"),
    )
    # pairs frame (including zero-intersection pairs)
    pairs = (
        s1.join(s2, [class_col, "n_top"])
        .where(F.col("method1") < F.col("method2"))
        .join(inter, [class_col, "n_top", "method1", "method2"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
    )
    result = pairs.select(
        class_col,
        "n_top",
        "method1",
        "method2",
        (
            F.col("n_inter")
            / (F.col("sz1") + F.col("sz2") - F.col("n_inter"))
        ).alias("jaccard"),
    )
    if include_random_baseline:
        n_genes = common.select(feature_col).distinct().count()
        base = result.sparkSession.createDataFrame(
            [
                (
                    None,
                    n,
                    "Random",
                    "baseline",
                    1.0 if n >= n_genes else (2.0 * n) / (2 * n_genes - n),
                )
                for n in n_top_values
            ],
            result.schema,
        )
        result = result.unionByName(base)
    return result
