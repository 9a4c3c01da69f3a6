"""As-of join with composite keys: (entity, shard) pairs must align
independently per composite key."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modlyn_spark.operators.asof import asof_join
from modlyn_spark.oracle.pandas_oracle import oracle_asof


@pytest.fixture(scope="module")
def multikey(spark):
    rng = np.random.default_rng(11)
    rows = []
    base = pd.Timestamp("2024-03-01")
    for e in range(6):
        for s in range(2):
            t = base
            for v in range(int(rng.integers(2, 8))):
                t = t + pd.Timedelta(seconds=int(rng.integers(1, 100)))
                rows.append(
                    {"ent": f"e{e}", "shard": s, "ts": t,
                     "val": float(rng.normal()), "v": v}
                )
    right = pd.DataFrame(rows)
    probes = []
    for i, (_, r) in enumerate(right.sample(20, random_state=0).iterrows()):
        probes.append(
            {"ent": r["ent"], "shard": r["shard"],
             "feature_ts": r["ts"] + pd.Timedelta(milliseconds=250), "pid": i}
        )
    # cross-shard miss case: shard that has no history for this entity combo
    probes.append({"ent": "e0", "shard": 9, "feature_ts": base, "pid": 99})
    return pd.DataFrame(probes), right


def test_multikey_asof(spark, multikey):
    probes, right = multikey
    exp = oracle_asof(
        probes, right, on=["ent", "shard"], left_ts="feature_ts", right_ts="ts",
        payload=["val", "v"],
    ).sort_values("pid")
    got = (
        asof_join(
            spark.createDataFrame(probes),
            spark.createDataFrame(right),
            on=["ent", "shard"],
            left_ts="feature_ts",
            right_ts="ts",
            right_cols=["val", "v"],
        )
        .toPandas()
        .sort_values("pid")
    )
    assert len(got) == len(exp)
    for c in ["val", "v"]:
        g = got[c].reset_index(drop=True)
        e = exp[c].reset_index(drop=True)
        assert g.isna().equals(e.isna()), c
        assert np.allclose(g.dropna().astype(float), e.dropna().astype(float)), c
    # the no-history composite key yields nulls
    miss = got[got["pid"] == 99]
    assert miss["val"].isna().all()


def test_multikey_salted_merge(spark, multikey):
    probes, right = multikey
    exp = oracle_asof(
        probes, right, on=["ent", "shard"], left_ts="feature_ts", right_ts="ts",
        payload=["val", "v"],
    ).sort_values("pid")
    got = (
        asof_join(
            spark.createDataFrame(probes),
            spark.createDataFrame(right),
            on=["ent", "shard"],
            left_ts="feature_ts",
            right_ts="ts",
            right_cols=["val", "v"],
            hot_keys=[("e0", 0), ("e1", 1)],
            salt_factor=3,
        )
        .toPandas()
        .sort_values("pid")
    )
    for c in ["val", "v"]:
        g = got[c].reset_index(drop=True)
        e = exp[c].reset_index(drop=True)
        assert g.isna().equals(e.isna()), c
        assert np.allclose(g.dropna().astype(float), e.dropna().astype(float)), c


@pytest.mark.parametrize("exact", [True, False])
def test_multikey_split_matches_oracle(spark, multikey, exact):
    """Composite hot keys (found by threshold) cut into time ranges, with
    probes exactly on every state timestamp, so exactly on every boundary."""
    probes, right = multikey
    on_ts = right[["ent", "shard", "ts"]].rename(columns={"ts": "feature_ts"})
    probes = pd.concat([probes, on_ts], ignore_index=True)
    probes["pid"] = np.arange(len(probes))
    exp = oracle_asof(
        probes, right, on=["ent", "shard"], left_ts="feature_ts", right_ts="ts",
        payload=["val", "v"], allow_exact_matches=exact,
    ).sort_values("pid")
    got = (
        asof_join(
            spark.createDataFrame(probes),
            spark.createDataFrame(right),
            on=["ent", "shard"],
            left_ts="feature_ts",
            right_ts="ts",
            right_cols=["val", "v"],
            allow_exact_matches=exact,
            hot_key_threshold=3,
            salt_factor=3,
        )
        .toPandas()
        .sort_values("pid")
    )
    assert len(got) == len(exp)
    for c in ["val", "v"]:
        g = got[c].reset_index(drop=True)
        e = exp[c].reset_index(drop=True)
        assert g.isna().equals(e.isna()), c
        assert np.allclose(g.dropna().astype(float), e.dropna().astype(float)), c
