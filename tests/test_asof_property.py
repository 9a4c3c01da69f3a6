"""Property-based as-of join testing: random event streams (random keys,
duplicate timestamps, nulls, empty sides) must always match the pandas
merge_asof oracle, without and with hot keys split into time ranges (a
threshold low enough that most keys are cut)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from modlyn_spark.operators.asof import asof_join
from modlyn_spark.oracle.pandas_oracle import oracle_asof

BASE = pd.Timestamp("2024-06-01")


@st.composite
def streams(draw):
    n_keys = draw(st.integers(1, 5))
    keys = [f"k{i}" for i in range(n_keys)]
    n_right = draw(st.integers(0, 25))
    n_left = draw(st.integers(1, 25))
    r_rows = [
        {
            "key": draw(st.sampled_from(keys)),
            "ts": BASE + pd.Timedelta(seconds=draw(st.integers(0, 50))),
            "val": draw(st.one_of(st.none(), st.floats(-5, 5, allow_nan=False))),
            "seq": i,
        }
        for i in range(n_right)
    ]
    l_rows = [
        {
            "key": draw(st.sampled_from(keys + ["k_missing"])),
            "feature_ts": BASE + pd.Timedelta(seconds=draw(st.integers(0, 55))),
            "probe_id": i,
        }
        for i in range(n_left)
    ]
    right = pd.DataFrame(r_rows, columns=["key", "ts", "val", "seq"])
    # unique (key, ts): real state tables are deduplicated (the engine's
    # contract; ties among right rows are otherwise order-dependent)
    if len(right):
        right = right.drop_duplicates(["key", "ts"]).reset_index(drop=True)
    left = pd.DataFrame(l_rows)
    return left, right


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    data=streams(),
    exact=st.booleans(),
    split=st.tuples(st.integers(0, 4), st.integers(2, 5)),
)
def test_asof_union_matches_oracle_property(spark, data, exact, split):
    left, right = data
    exp = oracle_asof(
        left, right, on="key", left_ts="feature_ts", right_ts="ts",
        payload=["val", "seq"], allow_exact_matches=exact,
    ).sort_values("probe_id")

    rschema = "key string, ts timestamp, val double, seq long"
    sleft = spark.createDataFrame(left)
    sright = (
        spark.createDataFrame(right, schema=rschema)
        if len(right)
        else spark.createDataFrame([], schema=rschema)
    )
    threshold, salt_factor = split
    hot = {"hot_key_threshold": threshold, "salt_factor": salt_factor}
    for kw in [{}, hot]:
        name = f"split{kw}" if kw else "plain"
        got = (
            asof_join(
                sleft, sright, on="key", left_ts="feature_ts", right_ts="ts",
                right_cols=["val", "seq"], allow_exact_matches=exact, **kw,
            )
            .toPandas()
            .sort_values("probe_id")
        )
        assert len(got) == len(exp), name
        for c in ["val", "seq"]:
            g, e = got[c].reset_index(drop=True), exp[c].reset_index(drop=True)
            assert g.isna().equals(e.isna()), f"{name}.{c} null mask"
            assert np.allclose(
                g.dropna().astype(float), e.dropna().astype(float)
            ), f"{name}.{c}"
