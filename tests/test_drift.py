"""ks_2sample: exact KS statistic vs scipy-free brute twins."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modlyn_spark.scoring.drift import ks_2sample


def _brute_ks(xa, xb):
    xs = np.unique(np.concatenate([xa, xb]))
    fa = np.searchsorted(np.sort(xa), xs, side="right") / len(xa)
    fb = np.searchsorted(np.sort(xb), xs, side="right") / len(xb)
    return float(np.max(np.abs(fa - fb)))


@pytest.fixture(scope="module")
def df(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "grp": ["a"] * 400 + ["b"] * 300 + ["c"] * 50,
            "x": np.concatenate(
                [rng.normal(0, 1, 400), rng.normal(0.5, 1.2, 300),
                 rng.normal(9, 1, 50)]
            ),
            "y": np.concatenate(
                [rng.integers(0, 5, 400), rng.integers(0, 5, 300),
                 rng.integers(0, 5, 50)]
            ).astype("float64"),
        }
    )
    pdf.loc[3, "x"] = None
    return spark.createDataFrame(pdf), pdf


def test_matches_brute(df):
    sdf, pdf = df
    out = {
        r["feature"]: r
        for r in ks_2sample(sdf, ["x", "y"], "grp", "a", "b").collect()
    }
    for c in ("x", "y"):
        xa = pdf[(pdf.grp == "a") & pdf[c].notna()][c].values
        xb = pdf[(pdf.grp == "b") & pdf[c].notna()][c].values
        assert out[c]["d_stat"] == pytest.approx(_brute_ks(xa, xb), abs=1e-12)
        assert out[c]["n_a"] == len(xa) and out[c]["n_b"] == len(xb)


def test_identical_distribution_is_zero(spark):
    pdf = pd.DataFrame(
        {"grp": ["a"] * 50 + ["b"] * 50, "x": list(range(50)) * 2}
    ).astype({"x": "float64"})
    out = ks_2sample(spark.createDataFrame(pdf), "x", "grp", "a", "b")
    assert out.collect()[0]["d_stat"] == 0.0


def test_disjoint_supports_is_one(df):
    sdf, _ = df
    r = ks_2sample(sdf, "x", "grp", "a", "c").collect()[0]
    assert r["d_stat"] == pytest.approx(1.0)


def test_empty_side_yields_null(df):
    sdf, _ = df
    r = ks_2sample(sdf, "x", "grp", "a", "zzz").collect()[0]
    assert r["d_stat"] is None and r["n_b"] == 0


def test_missing_column_raises(df):
    sdf, _ = df
    with pytest.raises(ValueError, match="missing"):
        ks_2sample(sdf, "nope", "grp", "a", "b")


# ---------------------------------------------------------------------------
# embedding-space drift (two-corpus moments report)
# ---------------------------------------------------------------------------


def _emb_df(spark, a_vecs, b_vecs):
    rows = [("a", [float(x) for x in v]) for v in a_vecs] + [
        ("b", [float(x) for x in v]) for v in b_vecs
    ]
    return spark.createDataFrame(rows, "side string, vec array<double>")


def test_embedding_drift_matches_numpy(spark):
    import numpy as np

    from modlyn_spark.scoring.drift import embedding_drift

    rng = np.random.default_rng(9)
    a = rng.normal(0.0, 1.0, size=(60, 8))
    b = rng.normal(0.5, 2.0, size=(40, 8))
    got = {
        r["pos"]: r
        for r in embedding_drift(
            _emb_df(spark, a, b), "vec", "side", "a", "b"
        ).collect()
    }
    for d in range(8):
        va, vb = a[:, d].var(), b[:, d].var()  # population
        smd = (a[:, d].mean() - b[:, d].mean()) / np.sqrt((va + vb) / 2)
        assert got[d]["n_a"] == 60 and got[d]["n_b"] == 40
        assert got[d]["mean_a"] == pytest.approx(a[:, d].mean(), rel=1e-9)
        assert got[d]["std_b"] == pytest.approx(np.sqrt(vb), rel=1e-9)
        assert got[d]["smd"] == pytest.approx(smd, rel=1e-9)


def test_embedding_drift_constant_dims_and_errors(spark):
    from modlyn_spark.scoring.drift import embedding_drift

    a = [[1.0, 2.0]] * 5
    b = [[1.0, 3.0]] * 5
    got = {
        r["pos"]: r
        for r in embedding_drift(
            _emb_df(spark, a, b), "vec", "side", "a", "b"
        ).collect()
    }
    assert got[0]["smd"] is None  # both sides constant -> NULL
    assert got[1]["smd"] is None or got[1]["smd"] is not None
    # an empty side raises the operator's own "no rows" check
    with pytest.raises(ValueError, match="has no rows"):
        embedding_drift(_emb_df(spark, a, []), "vec", "side", "a", "b")
