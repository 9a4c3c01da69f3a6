"""Auto strategy selection: small right side -> broadcast (zero shuffle on
the probe side); large right side / disabled broadcast -> union; hot-key
hints -> union with the hot keys split into time ranges. Results identical
across all choices."""

from __future__ import annotations

import numpy as np
import pandas as pd

from modlyn_spark.operators.asof import (
    _broadcast_threshold,
    _estimated_bytes,
    asof_join,
)


def _frames(spark):
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


def test_auto_small_right_is_broadcast(spark):
    left, right = _frames(spark)
    assert _estimated_bytes(right) <= _broadcast_threshold(left)
    out = asof_join(
        left, right, on="key", left_ts="feature_ts", right_ts="ts", strategy="auto"
    )
    # broadcast path = mapInPandas plan: no Exchange on the left at all
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = out.toPandas().sort_values("probe_id")
    assert np.allclose(got["val"].fillna(-1).values, [1.0, 2.0, -1.0])


def test_auto_disabled_broadcast_falls_back_to_union(spark):
    left, right = _frames(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = asof_join(
            left, right, on="key", left_ts="feature_ts", right_ts="ts",
            strategy="auto",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan  # union strategy signature
        got = out.toPandas().sort_values("probe_id")
        assert np.allclose(got["val"].fillna(-1).values, [1.0, 2.0, -1.0])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_threshold_is_sparks_parsed_value(spark):
    left, _ = _frames(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1t")
        assert _broadcast_threshold(left) == 1 << 40
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_auto_hot_keys_selects_merge(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on="key", left_ts="feature_ts", right_ts="ts",
        strategy="auto", hot_keys=["a"], salt_factor=2,
    )
    got = out.toPandas().sort_values("probe_id")
    assert np.allclose(got["val"].fillna(-1).values, [1.0, 2.0, -1.0])
