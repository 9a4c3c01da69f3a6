"""Windowed features (lag/lead, sessionize, backfill, rolling) vs pandas oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modlyn_spark.operators.windows import (
    backfill,
    rolling_stats,
    session_stats,
    sessionize,
    with_lag_lead,
)
from modlyn_spark.oracle.pandas_oracle import (
    oracle_backfill,
    oracle_hamming,
    oracle_lag_lead,
    oracle_rolling_stats,
    oracle_sessionize,
)


def _sorted(pdf, extra=()):
    return pdf.sort_values(["key", "ts", *extra], kind="mergesort").reset_index(drop=True)


def test_lag_lead_delta(spark, events_pdf):
    df = spark.createDataFrame(events_pdf)
    got = _sorted(
        with_lag_lead(df, "key", "ts", "value", lag_offsets=(1, 2), lead_offsets=(1,)).toPandas()
    )
    exp1 = _sorted(oracle_lag_lead(events_pdf, "key", "ts", "value", 1))
    exp2 = _sorted(oracle_lag_lead(events_pdf, "key", "ts", "value", 2))
    for col, exp in [
        ("value_lag1", exp1["value_lag1"]),
        ("value_delta1", exp1["value_delta1"]),
        ("value_lead1", exp1["value_lead1"]),
        ("value_lag2", exp2["value_lag2"]),
    ]:
        g = got[col]
        assert g.isna().equals(exp.isna()), col
        assert np.allclose(g.dropna(), exp.dropna()), col


def test_hamming_lag(spark, events_pdf):
    df = spark.createDataFrame(events_pdf)
    got = _sorted(
        with_lag_lead(df, "key", "ts", "state", delta=False, hamming=True).toPandas()
    )
    base = _sorted(events_pdf.copy())
    lag = base.groupby("key", sort=False)["state"].shift(1)
    exp = oracle_hamming(base["state"], lag)
    g = got["state_hamming1"]
    assert g.isna().equals(exp.isna())
    assert (g.dropna().astype(int).values == exp.dropna().astype(int).values).all()


def test_sessionize(spark, events_pdf):
    df = spark.createDataFrame(events_pdf)
    got = _sorted(sessionize(df, "key", "ts", gap_seconds=60).toPandas(), ("version",))
    exp = _sorted(oracle_sessionize(events_pdf, "key", "ts", 60), ("version",))
    assert (got["session_id"].values == exp["session_id"].values).all()


def test_session_stats(spark, events_pdf):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(events_pdf)
    got = (
        session_stats(df, "key", "ts", 60, {"v_mean": F.avg("value")})
        .toPandas()
        .sort_values(["key", "session_id"])
        .reset_index(drop=True)
    )
    exp_rows = (
        oracle_sessionize(events_pdf, "key", "ts", 60)
        .groupby(["key", "session_id"])
        .agg(
            n_events=("ts", "size"),
            session_start=("ts", "min"),
            session_end=("ts", "max"),
            v_mean=("value", "mean"),
        )
        .reset_index()
        .sort_values(["key", "session_id"])
        .reset_index(drop=True)
    )
    assert (got["n_events"].values == exp_rows["n_events"].values).all()
    assert (got["session_start"] == exp_rows["session_start"]).all()
    dur = (exp_rows["session_end"] - exp_rows["session_start"]).dt.total_seconds()
    assert np.allclose(got["duration_sec"].values, dur.values)
    assert np.allclose(
        got["v_mean"].fillna(-1).values, exp_rows["v_mean"].fillna(-1).values
    )


def test_backfill(spark, events_pdf):
    df = spark.createDataFrame(events_pdf)
    got = _sorted(backfill(df, "key", "ts", "value").toPandas(), ("version",))
    exp = _sorted(oracle_backfill(events_pdf, "key", "ts", "value"), ("version",))
    g, e = got["value_ffill"], exp["value_ffill"]
    assert g.isna().equals(e.isna())
    assert np.allclose(g.dropna(), e.dropna())


def test_rolling_stats(spark, events_pdf):
    df = spark.createDataFrame(events_pdf)
    got = _sorted(
        rolling_stats(df, "key", "ts", "value", n_rows=4).toPandas(), ("version",)
    )
    exp = _sorted(
        oracle_rolling_stats(events_pdf, "key", "ts", "value", 4), ("version",)
    )
    for c in ["count", "mean", "min", "max", "var"]:
        g, e = got[f"value_roll_{c}"], exp[f"value_roll_{c}"]
        if c == "count":
            assert (g.values == e.values).all()
        else:
            assert g.isna().equals(e.isna()), c
            assert np.allclose(g.dropna(), e.dropna(), atol=1e-9), c


def test_rolling_range_window(spark, events_pdf):
    df = spark.createDataFrame(events_pdf)
    got = _sorted(
        rolling_stats(df, "key", "ts", "value", range_seconds=10).toPandas(),
        ("version",),
    )
    # exact oracle: closed interval [t-10s, t] per key (matches Spark's
    # rangeBetween(-10, 0) on epoch seconds)
    base = _sorted(events_pdf, ("version",))
    exp_mean, exp_cnt = [], []
    for _, g in base.groupby("key", sort=False):
        t = g["ts"].values
        v = g["value"].values.astype(float)
        for i in range(len(g)):
            m = (t >= t[i] - np.timedelta64(10, "s")) & (t <= t[i])
            vals = v[m]
            vals = vals[~np.isnan(vals)]
            exp_cnt.append(len(vals))
            exp_mean.append(vals.mean() if len(vals) else np.nan)
    assert (got["value_roll_count"].values == np.array(exp_cnt)).all()
    assert np.allclose(
        got["value_roll_mean"].fillna(-1).values,
        pd.Series(exp_mean).fillna(-1).values,
    )


# ---------------------------------------------------------------------------
# state-history compaction
# ---------------------------------------------------------------------------


def test_compact_history_keeps_change_rows(spark):
    import pandas as pd

    from modlyn_spark.operators.windows import compact_history

    pdf = pd.DataFrame(
        {
            "key": ["a"] * 6 + ["b"] * 3,
            "ts": pd.date_range("2024-01-01", periods=6, freq="h").tolist()
            + pd.date_range("2024-01-01", periods=3, freq="h").tolist(),
            "state": ["x", "x", "y", "y", "y", "x", None, None, "z"],
            "v": [1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 5.0, 5.0, 5.0],
        }
    )
    out = (
        compact_history(spark.createDataFrame(pdf), "key", "ts")
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )
    # a: x@0 (first), y@2 (state flip), (y,2.0)@3 (v flip), x@5; b: null@0, z@2
    assert len(out) == 6
    assert out[out["key"] == "a"]["state"].tolist() == ["x", "y", "y", "x"]
    assert out[out["key"] == "b"]["state"].tolist()[0] is None
    # null == null is "same state": the second (None, 5.0) row dropped
    assert len(out[out["key"] == "b"]) == 2


def test_compact_history_preserves_asof_semantics(spark, events_pdf, probes_pdf):
    """As-of joining the compacted state table must give the same answer
    as joining the full history (the whole point of compacting)."""
    from modlyn_spark.operators.asof import asof_join
    from modlyn_spark.operators.windows import compact_history

    right = spark.createDataFrame(
        events_pdf.groupby(["key", "ts"], as_index=False).last()
    )
    # quantize values so consecutive-equal states actually occur
    right = right.selectExpr(
        "key", "ts", "cast(round(value, 0) as double) AS value"
    )
    left = spark.createDataFrame(probes_pdf)
    full = asof_join(
        left, right, on="key", left_ts="feature_ts", right_ts="ts",
        right_cols=["value"],
    ).toPandas().sort_values("probe_id").reset_index(drop=True)
    compacted = compact_history(right, "key", "ts")
    assert compacted.count() < right.count()
    cmp = asof_join(
        left, compacted, on="key", left_ts="feature_ts", right_ts="ts",
        right_cols=["value"],
    ).toPandas().sort_values("probe_id").reset_index(drop=True)
    pd.testing.assert_series_equal(full["value"], cmp["value"])


def test_compact_history_validation(spark):
    import pandas as pd

    from modlyn_spark.operators.windows import compact_history

    df = spark.createDataFrame(pd.DataFrame({"key": ["a"], "ts": [1]}))
    with pytest.raises(ValueError, match="payload_cols"):
        compact_history(df, "key", "ts")
