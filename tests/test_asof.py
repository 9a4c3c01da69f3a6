"""As-of join vs the pandas merge_asof oracle, plus temporal-leakage and
boundary adversarial tests (SURVEY.md §5.2-4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modlyn_spark.operators.asof import asof_join
from modlyn_spark.oracle.pandas_oracle import oracle_asof

PAYLOAD = ["value", "state", "version"]


def _run(spark, events_pdf, probes_pdf, matched_ts_col="matched_ts", **kw):
    left = spark.createDataFrame(probes_pdf)
    right = spark.createDataFrame(events_pdf)
    out = asof_join(
        left, right, on="key", left_ts="feature_ts", right_ts="ts",
        right_cols=PAYLOAD, matched_ts_col=matched_ts_col, **kw,
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


def test_asof_matches_oracle(spark, events_pdf, probes_pdf):
    got = _run(spark, events_pdf, probes_pdf)
    exp = _oracle(events_pdf, probes_pdf)
    _assert_match(got, exp)


def test_asof_strict_inequality(spark, events_pdf, probes_pdf):
    got = _run(spark, events_pdf, probes_pdf, allow_exact_matches=False)
    exp = _oracle(events_pdf, probes_pdf, allow_exact_matches=False)
    _assert_match(got, exp)


def test_asof_salted_hot_keys(spark, events_pdf, probes_pdf):
    got = _run(spark, events_pdf, probes_pdf, hot_key_threshold=50, salt_factor=4)
    exp = _oracle(events_pdf, probes_pdf)
    _assert_match(got, exp)


def test_asof_explicit_hot_keys(spark, events_pdf, probes_pdf):
    got = _run(spark, events_pdf, probes_pdf, hot_keys=["ent_000"])
    exp = _oracle(events_pdf, probes_pdf)
    _assert_match(got, exp)


def test_no_temporal_leakage(spark, events_pdf, probes_pdf):
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
    got = _run(spark, poisoned_right, probes_pdf)
    assert not (got["value"].dropna() == 1e18).any()
    assert not (got["state"].dropna() == -1).any()
    # and the non-poisoned answers are unchanged
    exp = _oracle(events_pdf, probes_pdf)
    _assert_match(got, exp)


def test_asof_tolerance(spark, events_pdf, probes_pdf):
    """With and without the matched ts in the output."""
    tol = F.expr("INTERVAL 10 SECONDS")
    exp = _oracle(
        events_pdf, probes_pdf, tolerance=pd.Timedelta(seconds=10)
    )
    for matched_ts_col in ["matched_ts", None]:
        got = _run(
            spark, events_pdf, probes_pdf,
            matched_ts_col=matched_ts_col, tolerance=tol,
        )
        assert ("matched_ts" in got.columns) == bool(matched_ts_col)
        _assert_match(got, exp)


def test_asof_tiebreak_independent_of_partitioning(spark):
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
                    right_tiebreak=["seq"],
                )
                .toPandas()
                .sort_values("probe_id")
            )
            assert got["val"].tolist() == want, (parts, exact)


def test_union_is_single_exchange(spark, events_pdf, probes_pdf):
    out = asof_join(
        spark.createDataFrame(probes_pdf), spark.createDataFrame(events_pdf),
        on="key", left_ts="feature_ts", right_ts="ts", right_cols=PAYLOAD,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan


def test_asof_column_clash_raises(spark, events_pdf, probes_pdf):
    left = spark.createDataFrame(probes_pdf.assign(value=0.0))
    right = spark.createDataFrame(events_pdf)
    with pytest.raises(ValueError, match="clash"):
        asof_join(left, right, on="key", left_ts="feature_ts", right_ts="ts")


def test_asof_nested_array_payload_with_unmatched(spark):
    """Array payloads survive the join INCLUDING unmatched left rows, which
    read NULL (a probe before any state, and a key with no state at all):
    the history-features composition carries a rolling array through the
    as-of join."""
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
        ).collect()
    }
    assert got[("a", "2024-01-01 00:00:04")] is None
    assert got[("b", "2024-01-01 00:00:07")] is None
    assert got[("a", "2024-01-01 00:00:07")] == [1.0, 2.0]


def _small_frames(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": ["a", "a", "b"],
                "feature_ts": pd.to_datetime(
                    ["2024-01-01 00:00:05", "2024-01-01 00:00:20", "2024-01-01 00:00:10"]
                ),
                "probe_id": [0, 1, 2],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": ["a", "a", "b"],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00:01", "2024-01-01 00:00:10", "2024-01-01 00:00:30"]
                ),
                "val": [1.0, 2.0, 3.0],
            }
        )
    )
    return left, right


def test_hot_keys_on_small_right_side(spark):
    left, right = _small_frames(spark)
    out = asof_join(
        left, right, on="key", left_ts="feature_ts", right_ts="ts",
        hot_keys=["a"], salt_factor=2,
    )
    got = out.toPandas().sort_values("probe_id")
    assert np.allclose(got["val"].fillna(-1).values, [1.0, 2.0, -1.0])


def test_building_the_plan_runs_no_job(spark):
    """However small the right side, building the join only plans it: no
    job runs until an action (the right side is never collected to the
    driver), with or without tolerance and hot keys."""
    left, right = _small_frames(spark)
    sc = spark.sparkContext
    group = "asof-plan-build"
    sc.setJobGroup(group, group)
    try:
        for kw in [
            {},
            {"tolerance": F.expr("INTERVAL 1 SECOND"), "matched_ts_col": "m"},
            {"hot_keys": ["a"], "salt_factor": 2},
            {"hot_key_threshold": 1},
        ]:
            out = asof_join(left, right, on="key", left_ts="feature_ts",
                            right_ts="ts", **kw)
            out._jdf.queryExecution().executedPlan()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------------
# skew split: hot keys cut into time ranges inside the union window
# ---------------------------------------------------------------------------

BASE = pd.Timestamp("2024-05-01")


def _split_frames(ts_kind: str):
    """Hot key "h" (two tied rows per second, 40 tied rows at second 30, so
    several boundaries coincide and some ranges are empty), a hot NULL key
    and two cold keys; probes on every half second from before each key's
    first state to past the tolerance, so every boundary is probed exactly."""
    rng = np.random.default_rng(5)
    rows = []
    for s in range(60):
        for seq in range(40 if s == 30 else 2):
            rows.append(("h", s, seq))
    rows += [(None, s, 0) for s in range(0, 60, 3)]
    rows += [(k, s, 0) for k in ["c0", "c1"] for s in (5, 17, 40)]
    ev = pd.DataFrame(rows, columns=["key", "sec", "state"])
    ev["value"] = rng.normal(size=len(ev))
    ev["version"] = np.arange(len(ev))
    pr = pd.DataFrame(
        [(k, s / 2) for k in ["h", None, "c0", "c2"] for s in range(-4, 140)],
        columns=["key", "sec"],
    )
    pr["probe_id"] = np.arange(len(pr))
    if ts_kind == "timestamp":
        to_ts = lambda sec: BASE + pd.to_timedelta(sec, unit="s")  # noqa: E731
    else:  # epoch microseconds as a long
        to_ts = lambda sec: (np.asarray(sec) * 1e6).astype(np.int64)  # noqa: E731
    ev["ts"], pr["feature_ts"] = to_ts(ev["sec"]), to_ts(pr["sec"])
    # the oracle breaks ts ties by row order: order rows by the tiebreak
    ev = ev.sort_values(["ts", "state"], kind="mergesort").drop(columns="sec")
    return ev.reset_index(drop=True), pr.drop(columns="sec")


@pytest.mark.parametrize("ts_kind", ["timestamp", "long"])
@pytest.mark.parametrize("exact", [True, False])
def test_split_matches_oracle(spark, ts_kind, exact):
    """Split vs oracle on the cases a range cut could get wrong: state rows
    and probes tied exactly on a boundary, a tiebreak-ordered tie run at a
    boundary, empty ranges (coinciding boundaries), probes before the hot
    key's first state, a hot null key; with and without tolerance and the
    matched ts."""
    from modlyn_spark.operators.asof import FeatureSpec, _hot_key_bounds

    ev, pr = _split_frames(ts_kind)
    right = spark.createDataFrame(ev.iloc[::-1])  # the tiebreak decides ties
    spec = FeatureSpec(df=right, ts="ts", cols=PAYLOAD)
    # toPandas: timestamps in the session time zone, like createDataFrame's
    bounds = _hot_key_bounds(spec, ["key"], None, 10, 8).toPandas()
    assert set(bounds["__hk_key"]) == {"h", None}
    hb = bounds.loc[bounds["__hk_key"] == "h"].iloc[0, 1:].tolist()
    assert len(hb) == 7 and len(set(hb)) < 7  # coinciding boundaries
    h_ts = set(ev.loc[ev["key"] == "h", "ts"])
    assert set(hb) <= h_ts  # boundaries are state timestamps
    assert set(hb) <= set(pr.loc[pr["key"] == "h", "feature_ts"])
    tol_cases = [(None, None)] + (
        [(F.expr("INTERVAL 3 SECONDS"), pd.Timedelta(seconds=3))]
        if ts_kind == "timestamp"
        else [(F.lit(3_000_000), 3_000_000)]
    )
    for tol, otol in tol_cases:
        exp = _oracle(ev, pr, allow_exact_matches=exact, tolerance=otol)
        for matched_ts_col in ["matched_ts", None]:
            got = (
                asof_join(
                    spark.createDataFrame(pr), right, on="key", left_ts="feature_ts",
                    right_ts="ts", right_cols=PAYLOAD,
                    allow_exact_matches=exact, tolerance=tol,
                    matched_ts_col=matched_ts_col, right_tiebreak=["state"],
                    hot_key_threshold=10, salt_factor=8,
                )
                .toPandas()
                .sort_values("probe_id")
                .reset_index(drop=True)
            )
            assert ("matched_ts" in got.columns) == bool(matched_ts_col)
            _assert_match(got, exp)


def test_split_skips_ts_float64_cannot_hold(spark):
    """percentile_approx ranks in float64. Epoch-nanosecond longs near 1.7e18
    are not float64 values, so a boundary computed from them could be a
    rounded value that no state row has, opening a range with no state.
    Such timestamps give no boundaries, the key is not split, and the
    answer still matches the oracle."""
    from modlyn_spark.operators.asof import FeatureSpec, _hot_key_bounds

    ev, pr = _split_frames("long")
    offset = 1_700_000_000_000_000_001  # odd: above 2**53, not a float64
    ev["ts"] += offset
    pr["feature_ts"] += offset
    right = spark.createDataFrame(ev.iloc[::-1])
    spec = FeatureSpec(df=right, ts="ts", cols=PAYLOAD)
    rows = _hot_key_bounds(spec, ["key"], None, 10, 8).collect()
    assert rows and all(r["__asof_b0"] is None for r in rows)
    for exact in [True, False]:
        got = (
            asof_join(
                spark.createDataFrame(pr), right, on="key", left_ts="feature_ts",
                right_ts="ts", right_cols=PAYLOAD, allow_exact_matches=exact,
                matched_ts_col="matched_ts", right_tiebreak=["state"],
                hot_key_threshold=10, salt_factor=8,
            )
            .toPandas()
            .sort_values("probe_id")
            .reset_index(drop=True)
        )
        _assert_match(got, _oracle(ev, pr, allow_exact_matches=exact))


def test_split_plan_one_exchange_no_python(spark, events_pdf, probes_pdf):
    """With hot keys the probe and state rows still cross one hash Exchange
    (the only other one is the hot-key aggregate's, inside the broadcast,
    one row per key and task), no Python runs, and the hot key's rows land
    in several tasks instead of one."""
    import re

    left = spark.createDataFrame(probes_pdf)
    right = spark.createDataFrame(events_pdf)

    def join(**kw):
        return asof_join(
            left, right, on="key", left_ts="feature_ts", right_ts="ts",
            right_cols=PAYLOAD, **kw,
        )

    out = join(hot_key_threshold=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # FlatMapCoGroupsInPandas, MapInPandas, ArrowEvalPython, ...
    assert not re.search(r"Python|Pandas|MapInArrow", plan), plan
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    outside, inside, bdepth = 0, 0, None
    for line in lines:
        if bdepth is not None and depth(line) <= bdepth:
            bdepth = None
        if "BroadcastExchange" in line:
            bdepth = depth(line)
        if "Exchange hashpartitioning" in line:
            if bdepth is None:
                outside += 1
            else:
                inside += 1
    assert (outside, inside) == (1, 1), plan

    def tasks_of_hot_key(df):
        return (
            df.where(F.col("key") == "ent_000")
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )

    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        assert tasks_of_hot_key(join()) == 1
        assert tasks_of_hot_key(out) > 1
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)


def test_merge_after_union_on_frames_of_one_parquet_scan(spark, tmp_path):
    """Probes and state filtered from ONE parquet scan, a plain join of the
    two run first, then the same join again and one with hot keys split:
    a former cogroup merge plan lost the key column on such frames
    (KeyError inside pd.merge_asof). All three runs agree."""
    rng = np.random.default_rng(3)
    n = 600
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 10**6, n)), unit="s"),
            "user_id": rng.integers(0, 20, n),
            "event_type": rng.choice(["purchase", "view", "error"], n),
            "value": rng.normal(size=n).round(2),
        }
    )
    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(ev).write.parquet(path)
    scan = spark.read.parquet(path)
    probes = scan.where(F.col("event_type") != "purchase").select(
        "event_id", "user_id", F.col("ts").alias("feature_ts")
    )
    state = scan.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pv"), F.col("event_id").alias("eid")
    )
    kw = dict(on="user_id", left_ts="feature_ts", right_ts="ts", matched_ts_col="mts")
    got = [
        asof_join(probes, state, **extra, **kw)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
        for extra in [{}, {}, {"hot_key_threshold": 5}]
    ]
    assert len(got[0]) == (ev["event_type"] != "purchase").sum()
    assert got[0]["pv"].notna().any()
    for g in got[1:]:
        pd.testing.assert_frame_equal(g, got[0])
