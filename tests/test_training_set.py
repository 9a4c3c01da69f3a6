"""Point-in-time training-set assembly: the single-shuffle path vs the
pandas merge_asof twin, plan-asserted to one Exchange, per-table
tolerance, clash guards (SURVEY.md §5.2-4)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from modlyn_spark.operators.training_set import FeatureSpec, build_training_set
from modlyn_spark.oracle.pandas_oracle import oracle_asof


@pytest.fixture(scope="module")
def tables(events_pdf):
    # two state tables with DIFFERENT ts coverage carved from the shared
    # fixture; deduped per (key, ts) so the assembly and the merge_asof
    # twin resolve ties identically
    a = (
        events_pdf[["key", "ts", "value"]]
        .groupby(["key", "ts"], as_index=False)
        .last()
    )
    b = (
        events_pdf.iloc[::3][["key", "ts", "state", "version"]]
        .groupby(["key", "ts"], as_index=False)
        .last()
        .rename(columns={"ts": "state_ts"})
    )
    return a, b


def _twin(probes_pdf, a, b, tol_b=None, allow_exact=True):
    out = oracle_asof(
        probes_pdf, a, on="key", left_ts="feature_ts", right_ts="ts",
        payload=["value"], allow_exact_matches=allow_exact,
    ).rename(columns={"value": "a_value"})
    bjoin = oracle_asof(
        probes_pdf, b, on="key", left_ts="feature_ts", right_ts="state_ts",
        payload=["state", "version"], allow_exact_matches=allow_exact,
        tolerance=tol_b,
    )
    out["b_state"] = bjoin["state"]
    out["b_version"] = bjoin["version"]
    return out.sort_values("probe_id").reset_index(drop=True)


def _specs(spark, a, b, tol_b=None):
    return [
        FeatureSpec(df=spark.createDataFrame(a), ts="ts", prefix="a_"),
        FeatureSpec(
            df=spark.createDataFrame(b), ts="state_ts", prefix="b_",
            tolerance=tol_b,
        ),
    ]


def _run(spark, probes_pdf, specs, **kw):
    out = build_training_set(
        spark.createDataFrame(probes_pdf), specs, on="key",
        spine_ts="feature_ts", **kw,
    )
    return out.toPandas().sort_values("probe_id").reset_index(drop=True)


def _assert_match(got: pd.DataFrame, exp: pd.DataFrame):
    assert list(got.columns) == list(exp.columns)
    for c in exp.columns:
        g, e = got[c], exp[c]
        if e.dtype.kind == "f":
            pd.testing.assert_series_equal(
                g.astype(float), e.astype(float), check_names=False,
                rtol=0, atol=0,
            )
        else:
            assert (g.fillna("∅").astype(str) == e.fillna("∅").astype(str)).all(), c


def test_matches_twin(spark, events_pdf, probes_pdf, tables):
    a, b = tables
    got = _run(spark, probes_pdf, _specs(spark, a, b))
    exp = _twin(probes_pdf, a, b)
    _assert_match(got, exp)


def test_strict_matches_twin(spark, probes_pdf, tables):
    a, b = tables
    got = _run(spark, probes_pdf, _specs(spark, a, b), allow_exact_matches=False)
    _assert_match(got, _twin(probes_pdf, a, b, allow_exact=False))


def test_per_table_tolerance(spark, probes_pdf, tables):
    a, b = tables
    tol = F.expr("INTERVAL 1 HOUR")
    got = _run(spark, probes_pdf, _specs(spark, a, b, tol_b=tol))
    exp = _twin(probes_pdf, a, b, tol_b=pd.Timedelta(hours=1))
    _assert_match(got, exp)
    # tolerance nulled at least one b-side match that a-side kept
    assert got["b_state"].isna().sum() > exp["a_value"].isna().sum()


def test_fused_is_single_exchange(spark, probes_pdf, tables):
    a, b = tables
    out = build_training_set(
        spark.createDataFrame(probes_pdf), _specs(spark, a, b),
        on="key", spine_ts="feature_ts",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # ONE hash Exchange (the shared window) regardless of table count
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan


def test_leakage_free(spark, probes_pdf, tables):
    a, b = tables
    got = _run(spark, probes_pdf, _specs(spark, a, b))
    # probes planted before any history must carry no state
    pre = probes_pdf.merge(
        pd.concat([a[["key", "ts"]],
                   b.rename(columns={"state_ts": "ts"})[["key", "ts"]]])
        .groupby("key", as_index=False)["ts"].min(),
        on="key", how="left",
    )
    early_ids = pre.loc[
        pre["ts"].isna() | (pre["feature_ts"] < pre["ts"]), "probe_id"
    ]
    sub = got[got["probe_id"].isin(set(early_ids))]
    assert len(sub) > 0
    assert sub["a_value"].isna().all() and sub["b_state"].isna().all()


def test_tiebreak_last_wins(spark):
    spine = pd.DataFrame(
        {"key": ["k"], "feature_ts": [pd.Timestamp("2024-01-01 00:10:00")]}
    )
    state = pd.DataFrame(
        {
            "key": ["k", "k", "k"],
            "ts": [pd.Timestamp("2024-01-01 00:05:00")] * 3,
            "seq": [2, 3, 1],
            "v": [20.0, 30.0, 10.0],
        }
    )
    out = build_training_set(
        spark.createDataFrame(spine),
        [FeatureSpec(df=spark.createDataFrame(state), ts="ts",
                     cols=["v"], tiebreak=["seq"])],
        on="key", spine_ts="feature_ts",
    ).toPandas()
    assert out["v"].tolist() == [30.0]


def test_matched_ts_col(spark, probes_pdf, tables):
    a, b = tables
    specs = [
        FeatureSpec(df=spark.createDataFrame(a), ts="ts", prefix="a_",
                    matched_ts_col="a_matched"),
    ]
    got = _run(spark, probes_pdf, specs)
    exp = oracle_asof(
        probes_pdf, a.assign(mts=a["ts"]), on="key", left_ts="feature_ts",
        right_ts="ts", payload=["value", "mts"],
    ).sort_values("probe_id").reset_index(drop=True)
    assert (
        got["a_matched"].fillna(pd.Timestamp(0))
        == exp["mts"].fillna(pd.Timestamp(0))
    ).all()


def test_clash_and_missing_raise(spark, probes_pdf, tables):
    a, b = tables
    with pytest.raises(ValueError, match="clash"):
        build_training_set(
            spark.createDataFrame(probes_pdf),
            [FeatureSpec(df=spark.createDataFrame(a), ts="ts"),
             FeatureSpec(df=spark.createDataFrame(a), ts="ts")],
            on="key", spine_ts="feature_ts",
        )
    with pytest.raises(ValueError, match="missing"):
        build_training_set(
            spark.createDataFrame(probes_pdf),
            [FeatureSpec(df=spark.createDataFrame(a.drop(columns=["ts"])
                                                  .assign(other=1)), ts="ts")],
            on="key", spine_ts="feature_ts",
        )
    with pytest.raises(ValueError, match="at least one"):
        build_training_set(
            spark.createDataFrame(probes_pdf), [], on="key",
            spine_ts="feature_ts",
        )
