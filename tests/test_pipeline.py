"""Flagship pipeline end-to-end: leakage-free point-in-time features +
scoring, verified against a fully independent pandas recomputation."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modlyn_spark.plans.pipeline import (
    IMAGE_FEATURE_NAMES,
    image_feature_pipeline,
    score_features,
)
from modlyn_spark.sources.images import (
    generate_images_df,
    generate_images_pandas,
    synth_feature_requests,
)

GAP = 600


def _oracle_features(images: pd.DataFrame, requests: pd.DataFrame) -> pd.DataFrame:
    """Independent pandas recomputation of the pipeline semantics."""
    st = images.sort_values(["image_id", "ts", "version"], kind="mergesort").copy()
    g = st.groupby("image_id", sort=False)
    # nullable Int64 keeps 64-bit exactness through shift (plain int64 would
    # promote to float64 and corrupt high bits)
    lag = st["phash"].astype("Int64").groupby(st["image_id"], sort=False).shift(1)
    st["phash_hamming"] = [
        float(bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")) if pd.notna(b) else 0.0
        for a, b in zip(st["phash"], lag)
    ]
    prev_ts = g["ts"].shift(1)
    gap = (st["ts"] - prev_ts).dt.total_seconds()
    flag = (gap.isna() | (gap > GAP)).astype(int)
    st["session_id"] = flag.groupby(st["image_id"], sort=False).cumsum() - 1.0
    st["n_in_session_so_far"] = st.groupby("image_id", sort=False).cumcount() + 1.0
    st["px_mean_raw"] = np.where(
        st["version"] % 2 == 1, (st["phash"] % 256).astype(float), np.nan
    )
    st["px_mean_ffill"] = st.groupby("image_id", sort=False)["px_mean_raw"].ffill().fillna(0.0)

    out = []
    for _, r in requests.iterrows():
        hist = st[(st.image_id == r.image_id) & (st.ts <= r.feature_ts)]
        if hist.empty:
            out.append([-1.0] * 6)
            continue
        last = hist.iloc[-1]
        age = (r.feature_ts - last.ts).total_seconds()
        out.append(
            [
                last.phash_hamming,
                float(last.version),
                float(last.session_id),
                last.n_in_session_so_far,
                last.px_mean_ffill,
                age,
            ]
        )
    res = requests.copy()
    res["features"] = out
    return res


@pytest.mark.parametrize("strategy", ["union", "merge"])
def test_image_pipeline_allclose(spark, strategy):
    images_pdf = generate_images_pandas(20, hot_every=10, hot_factor=5)
    requests_pdf = synth_feature_requests(images_pdf)
    images = generate_images_df(spark, 20, hot_every=10, hot_factor=5, num_partitions=4)
    requests = spark.createDataFrame(requests_pdf)

    got = (
        image_feature_pipeline(images, requests, asof_strategy=strategy)
        .toPandas()
        .merge(requests_pdf[["image_id", "feature_ts", "request_id"]], on=["image_id", "feature_ts"])
        .sort_values("request_id")
        .reset_index(drop=True)
    )
    exp = _oracle_features(images_pdf, requests_pdf).sort_values("request_id").reset_index(drop=True)
    G = np.stack(got["features"].to_numpy())
    E = np.stack(exp["features"].to_numpy())
    assert G.shape == E.shape == (len(requests_pdf), len(IMAGE_FEATURE_NAMES))
    assert np.allclose(G, E), np.argwhere(~np.isclose(G, E))[:5]


def test_image_pipeline_rejects_unknown_asof_strategy(spark):
    images = generate_images_df(spark, 4, num_partitions=1)
    requests = spark.createDataFrame(synth_feature_requests(generate_images_pandas(4)))
    with pytest.raises(ValueError, match="'union' or 'merge'"):
        image_feature_pipeline(images, requests, asof_strategy="broadcast")


def test_image_pipeline_salted_matches_unsalted(spark):
    images = generate_images_df(spark, 12, hot_every=6, hot_factor=20, num_partitions=4)
    requests = spark.createDataFrame(synth_feature_requests(generate_images_pandas(12, hot_every=6, hot_factor=20)))
    a = (
        image_feature_pipeline(images, requests, asof_strategy="merge", hot_key_threshold=30)
        .toPandas().sort_values(["image_id", "feature_ts"]).reset_index(drop=True)
    )
    b = (
        image_feature_pipeline(images, requests, asof_strategy="union")
        .toPandas().sort_values(["image_id", "feature_ts"]).reset_index(drop=True)
    )
    assert np.allclose(np.stack(a["features"]), np.stack(b["features"]))


def test_pipeline_level_temporal_leakage(spark):
    """Poison every entity's future beyond its last request: the pipeline's
    feature vectors must be bit-identical with and without the poison."""
    import pandas as pd

    images_pdf = generate_images_pandas(15)
    requests_pdf = synth_feature_requests(images_pdf)
    clean = image_feature_pipeline(
        spark.createDataFrame(images_pdf), spark.createDataFrame(requests_pdf)
    ).toPandas().sort_values(["image_id", "feature_ts"]).reset_index(drop=True)

    latest = requests_pdf.groupby("image_id")["feature_ts"].max()
    poison = images_pdf.drop_duplicates("image_id").copy()
    poison["ts"] = poison["image_id"].map(latest).fillna(
        images_pdf["ts"].max()
    ) + pd.Timedelta(milliseconds=1)
    poison["version"] = 10**6  # absurd values that would shift every feature
    poison["phash"] = -1
    poisoned = pd.concat([images_pdf, poison], ignore_index=True)

    dirty = image_feature_pipeline(
        spark.createDataFrame(poisoned), spark.createDataFrame(requests_pdf)
    ).toPandas().sort_values(["image_id", "feature_ts"]).reset_index(drop=True)

    assert np.allclose(
        np.stack(clean["features"].to_numpy()), np.stack(dirty["features"].to_numpy())
    )


def test_score_features_runs(spark):
    images = generate_images_df(spark, 16, num_partitions=4)
    requests = spark.createDataFrame(synth_feature_requests(generate_images_pandas(16)))
    feats = image_feature_pipeline(images, requests)
    ranked = score_features(feats).toPandas()
    assert len(ranked) == len(IMAGE_FEATURE_NAMES)
    assert (ranked["f_stat"].values >= 0).all() | np.isnan(ranked["f_stat"].values).any()


def test_pipeline_decode_px_stats_path(spark):
    """decode_px_stats=True feeds REAL decoded per-pixel means through the
    pipeline: px_mean_ffill (features[4]) must equal the reference
    generator's pixel mean for the matched state (pure function of
    (image_id, version % 2)), row by row."""
    import numpy as np

    from modlyn_spark.plans.pipeline import image_feature_pipeline
    from modlyn_spark.sources.images import (
        generate_images_df,
        generate_images_pandas,
        reference_pixels,
        synth_feature_requests,
    )

    images = generate_images_df(spark, 12)
    requests = spark.createDataFrame(
        synth_feature_requests(generate_images_pandas(12))
    )
    out = image_feature_pipeline(
        images, requests, decode_px_stats=True
    ).toPandas()
    from modlyn_spark.sources.images import entity_fmt

    matched = out[out["features"].map(lambda f: f[1] >= 0)]
    assert len(matched) > 0
    n_exact = 0
    for _, r in matched.iterrows():
        version = int(r["features"][1])
        exp = float(reference_pixels(r["image_id"], version % 2).mean())
        if entity_fmt(r["image_id"]) == "png":
            # lossless: decoded mean is bit-exact
            assert np.isclose(r["features"][4], exp, atol=1e-9), (
                r["image_id"], version, r["features"][4], exp,
            )
            n_exact += 1
        else:
            # qpng is lossy (PSNR >= 40 dB): the mean shifts by at most a
            # few quantization steps
            assert abs(r["features"][4] - exp) < 2.0, (
                r["image_id"], version, r["features"][4], exp,
            )
    assert n_exact > 0
