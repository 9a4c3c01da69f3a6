"""Jaccard evaluator: reference-parity pandas comparator + distributed variant."""

from __future__ import annotations

import numpy as np
import pandas as pd

from modlyn_spark.eval.jaccard import CompareScores, topn_jaccard
from modlyn_spark.oracle.pandas_oracle import oracle_jaccard


def _score_frames():
    rng = np.random.default_rng(3)
    feats = [f"f{j:04d}" for j in range(40)]
    classes = ["a", "b", "c"]
    df1 = pd.DataFrame(rng.normal(size=(3, 40)), index=classes, columns=feats)
    df1.attrs["method_name"] = "m1"
    # m2 = m1 + noise: partially overlapping rankings
    df2 = df1 + rng.normal(scale=0.5, size=(3, 40))
    df2.attrs["method_name"] = "m2"
    return df1, df2


def test_compare_scores_matches_reference_semantics():
    df1, df2 = _score_frames()
    res = CompareScores([df1, df2], n_top_values=[5, 10, 25]).compute_jaccard_comparison()
    # self-comparison sanity: method vs itself -> jaccard 1.0
    same = CompareScores([df1, df1.rename_axis(None)], n_top_values=[5]).compute_jaccard_comparison()
    # (df1 vs copy of itself with same attrs name appears as single pair)
    assert np.allclose(
        same[same.method_pair != "Random baseline"]["jaccard"], 1.0
    )
    base = res[res.method_pair == "Random baseline"]
    # analytic baseline: n>=G -> 1 else 2n/(2G-n), G=40
    exp = {5: 10 / 75, 10: 20 / 70, 25: 50 / 55}
    for _, r in base.iterrows():
        assert np.isclose(r["jaccard"], exp[r["n_top"]])
    assert set(res.columns) >= {"n_top", "method_pair", "jaccard"}


def test_compare_scores_matches_oracle_on_ties_and_nan():
    """The numpy top-N picks the sets pandas nlargest(keep="first") does:
    ties at the cut keep the earlier feature, NaN scores fill a set in
    position order when too few are finite, n_top >= G takes every
    feature; classes and features are aligned on the common, sorted ones."""
    feats = [f"g{j}" for j in range(7)]
    s1 = pd.DataFrame(
        [
            [1, -3, np.nan, 3, 2, -2, np.nan],  # nlargest(6): g1 g3 g4 g5 g0 g2
            [0.5, 0.5, -0.5, 0.5, 1, 0.5, -1],  # a 4-way tie at the cut of 3
            [np.nan] * 7,
        ],
        index=["b", "a", "c"],
        columns=feats,
    )
    s2 = pd.DataFrame(
        [[2, 2, -2, 0, 0, 1, 1], [1, 0, 0, 0, 0, 0, 1], [0, 0, 0, 0, 0, 0, 0]],
        index=["a", "b", "c"],
        columns=feats,
    )[feats[::-1]]
    s3 = s1.fillna(0.25).assign(extra=9.0)
    s3.loc["d"] = 0.0
    for df, name in [(s1, "m1"), (s2, "m2"), (s3, "m3")]:
        df.attrs["method_name"] = name
    n_top = [1, 2, 3, 5, 6, 7, 9]
    got = CompareScores([s1, s2, s3], n_top_values=n_top).compute_jaccard_comparison()
    pd.testing.assert_frame_equal(got, oracle_jaccard([s1, s2, s3], n_top))


def test_distributed_topn_jaccard_matches_pandas(spark):
    df1, df2 = _score_frames()
    long_rows = []
    for df, m in [(df1, "m1"), (df2, "m2")]:
        for ci, c in enumerate(df.index):
            for pi, f in enumerate(df.columns):
                long_rows.append((m, c, pi, float(df.iloc[ci, pi])))
    sdf = spark.createDataFrame(long_rows, ["method", "label", "pos", "score"])
    got = (
        topn_jaccard(sdf, [5, 10, 25], include_random_baseline=False)
        .toPandas()
        .sort_values(["label", "n_top"])
        .reset_index(drop=True)
    )
    exp = oracle_jaccard([df1, df2], [5, 10, 25])
    exp = exp[exp.method_pair != "Random baseline"].sort_values(
        ["cell_line", "n_top"]
    ).reset_index(drop=True)
    assert len(got) == len(exp)
    assert np.allclose(got["jaccard"].values, exp["jaccard"].values)


def test_distributed_random_baseline(spark):
    df1, df2 = _score_frames()
    long_rows = []
    for df, m in [(df1, "m1"), (df2, "m2")]:
        for c in df.index:
            for pi in range(len(df.columns)):
                long_rows.append((m, c, pi, float(df.loc[c][pi])))
    sdf = spark.createDataFrame(long_rows, ["method", "label", "pos", "score"])
    got = topn_jaccard(sdf, [5, 50]).toPandas()
    base = got[got.method1 == "Random"].set_index("n_top")["jaccard"]
    assert np.isclose(base[5], 10 / 75)
    assert np.isclose(base[50], 1.0)  # n_top >= n_genes
