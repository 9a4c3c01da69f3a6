"""As-of join: all three strategies vs the pandas merge_asof oracle, plus
temporal-leakage and boundary adversarial tests (SURVEY.md §5.2-4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modlyn_spark.operators.asof import asof_join
from modlyn_spark.oracle.pandas_oracle import oracle_asof

PAYLOAD = ["value", "state", "version"]


def _run(
    spark, events_pdf, probes_pdf, strategy, matched_ts_col="matched_ts", **kw
):
    left = spark.createDataFrame(probes_pdf)
    right = spark.createDataFrame(events_pdf)
    out = asof_join(
        left, right, on="key", left_ts="feature_ts", right_ts="ts",
        right_cols=PAYLOAD, strategy=strategy, matched_ts_col=matched_ts_col, **kw,
    )
    return out.toPandas().sort_values("probe_id").reset_index(drop=True)


def _oracle(events_pdf, probes_pdf, **kw):
    exp = oracle_asof(
        probes_pdf, events_pdf, on="key", left_ts="feature_ts", right_ts="ts",
        payload=PAYLOAD, **kw,
    )
    exp["matched_ts"] = oracle_asof(
        probes_pdf, events_pdf.assign(mts=events_pdf["ts"]), on="key",
        left_ts="feature_ts", right_ts="ts", payload=["mts"], **kw,
    )["mts"]
    return exp.sort_values("probe_id").reset_index(drop=True)


def _assert_match(got: pd.DataFrame, exp: pd.DataFrame):
    assert len(got) == len(exp)
    for c in PAYLOAD + [c for c in ["matched_ts"] if c in got.columns]:
        g, e = got[c], exp[c]
        assert g.isna().equals(e.isna()), f"null mask mismatch in {c}"
        if c == "matched_ts":
            assert (g.dropna() == e.dropna()).all(), c
        else:
            assert np.allclose(
                g.dropna().astype(float), e.dropna().astype(float)
            ), c


@pytest.mark.parametrize("strategy", ["union", "merge", "broadcast"])
def test_asof_matches_oracle(spark, events_pdf, probes_pdf, strategy):
    got = _run(spark, events_pdf, probes_pdf, strategy)
    exp = _oracle(events_pdf, probes_pdf)
    _assert_match(got, exp)


@pytest.mark.parametrize("strategy", ["union", "merge", "broadcast"])
def test_asof_strict_inequality(spark, events_pdf, probes_pdf, strategy):
    got = _run(spark, events_pdf, probes_pdf, strategy, allow_exact_matches=False)
    exp = _oracle(events_pdf, probes_pdf, allow_exact_matches=False)
    _assert_match(got, exp)


def test_asof_salted_hot_keys(spark, events_pdf, probes_pdf):
    got = _run(
        spark, events_pdf, probes_pdf, "merge", hot_key_threshold=50, salt_factor=4
    )
    exp = _oracle(events_pdf, probes_pdf)
    _assert_match(got, exp)


def test_asof_explicit_hot_keys(spark, events_pdf, probes_pdf):
    got = _run(spark, events_pdf, probes_pdf, "merge", hot_keys=["ent_000"])
    exp = _oracle(events_pdf, probes_pdf)
    _assert_match(got, exp)


@pytest.mark.parametrize("strategy", ["union", "merge", "broadcast"])
def test_no_temporal_leakage(spark, events_pdf, probes_pdf, strategy):
    """Poison every entity's future: add right rows strictly AFTER the
    entity's latest probe with a sentinel value. If the join ever looks
    forward in time, the sentinel shows up."""
    latest = probes_pdf.groupby("key")["feature_ts"].max().rename("max_ts")
    poison = probes_pdf.merge(latest, on="key")
    poison["ts"] = poison["max_ts"] + pd.Timedelta(milliseconds=1)
    poison["value"] = 1e18  # sentinel
    poison["state"] = -1
    poison["version"] = 10**9
    poisoned_right = pd.concat(
        [events_pdf, poison[["key", "ts", "value", "state", "version"]]],
        ignore_index=True,
    )
    got = _run(spark, poisoned_right, probes_pdf, strategy)
    assert not (got["value"].dropna() == 1e18).any()
    assert not (got["state"].dropna() == -1).any()
    # and the non-poisoned answers are unchanged
    exp = _oracle(events_pdf, probes_pdf)
    _assert_match(got, exp)


def test_asof_tolerance(spark, events_pdf, probes_pdf):
    """Every strategy (``auto`` picks broadcast for this small right side),
    with and without the matched ts in the output."""
    tol = F.expr("INTERVAL 10 SECONDS")
    exp = _oracle(
        events_pdf, probes_pdf, tolerance=pd.Timedelta(seconds=10)
    )
    for strategy in ["union", "merge", "broadcast", "auto"]:
        for matched_ts_col in ["matched_ts", None]:
            got = _run(
                spark, events_pdf, probes_pdf, strategy,
                matched_ts_col=matched_ts_col, tolerance=tol,
            )
            assert ("matched_ts" in got.columns) == bool(matched_ts_col)
            _assert_match(got, exp)


@pytest.mark.parametrize("strategy", ["union", "merge", "broadcast"])
def test_asof_tiebreak_independent_of_partitioning(spark, strategy):
    """Two right rows at the same (key, ts): the one last by right_tiebreak
    wins whatever the right side's partitioning, exact and strict."""
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": ["k", "k", "k"],
                "ts": pd.to_datetime(["2024-01-01 00:00:05"] * 2
                                     + ["2024-01-01 00:00:01"]),
                "seq": [5, 1, 0],
                "val": [2.0, 9.0, 7.0],
            }
        )
    )
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": ["k", "k"],
                "feature_ts": pd.to_datetime(["2024-01-01 00:00:05",
                                              "2024-01-01 00:00:06"]),
                "probe_id": [0, 1],
            }
        )
    )
    for parts in [1, 2, 4]:
        r = right.repartition(parts)
        for exact, want in [(True, [2.0, 2.0]), (False, [7.0, 2.0])]:
            got = (
                asof_join(
                    left, r, on="key", left_ts="feature_ts", right_ts="ts",
                    right_cols=["val"], allow_exact_matches=exact,
                    strategy=strategy, right_tiebreak=["seq"],
                )
                .toPandas()
                .sort_values("probe_id")
            )
            assert got["val"].tolist() == want, (parts, exact)


def test_union_is_single_exchange(spark, events_pdf, probes_pdf):
    out = asof_join(
        spark.createDataFrame(probes_pdf), spark.createDataFrame(events_pdf),
        on="key", left_ts="feature_ts", right_ts="ts", right_cols=PAYLOAD,
        strategy="union",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan


def test_asof_column_clash_raises(spark, events_pdf, probes_pdf):
    left = spark.createDataFrame(probes_pdf.assign(value=0.0))
    right = spark.createDataFrame(events_pdf)
    with pytest.raises(ValueError, match="clash"):
        asof_join(left, right, on="key", left_ts="feature_ts", right_ts="ts")


@pytest.mark.parametrize("strategy", ["merge", "broadcast", "union"])
def test_asof_nested_array_payload_with_unmatched(spark, strategy):
    """Array/struct payloads must survive every strategy INCLUDING
    unmatched left rows: pd.merge_asof fills misses with float NaN, which
    Arrow cannot coerce to a list type — the pandas paths normalize it to
    None (regression for the history-features composition)."""
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": ["a", "a"],
                "ts": pd.to_datetime(["2024-01-01 00:00:05",
                                      "2024-01-01 00:00:09"]),
                "hist": [[1.0, 2.0], [3.0]],
            }
        )
    )
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": ["a", "a", "b"],
                "feature_ts": pd.to_datetime(
                    ["2024-01-01 00:00:04",   # BEFORE any state: unmatched
                     "2024-01-01 00:00:07",
                     "2024-01-01 00:00:07"]  # key with no state at all
                ),
            }
        )
    )
    got = {
        (r["key"], str(r["feature_ts"])): r["hist"]
        for r in asof_join(
            left, right, on="key", left_ts="feature_ts", right_ts="ts",
            strategy=strategy,
        ).collect()
    }
    assert got[("a", "2024-01-01 00:00:04")] is None
    assert got[("b", "2024-01-01 00:00:07")] is None
    assert got[("a", "2024-01-01 00:00:07")] == [1.0, 2.0]
