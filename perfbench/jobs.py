"""The engine jobs each workload runs, through the public layer functions.

Each job takes a ``Tracer``: untraced, the spans only tag the job group and
``force`` does nothing, so the job is exactly what a spark-submit caller
runs; traced, every layer call gets a span and its output is persisted and
materialized before the next layer starts.
"""

from __future__ import annotations

import os

import numpy as np

from inputs import GAP_SECONDS, score_matrices


def pit_job(spark, meta: dict, p: dict, out_dir: str, tr) -> dict:
    """scripts/run_pipeline.py's steps: image_feature_pipeline ->
    write_checkpointed -> score_features(read_checkpointed) -> write_table."""
    from modlyn_spark.plans.pipeline import (
        image_feature_pipeline,
        image_state_features,
        score_features,
    )
    from modlyn_spark.sources.catalog import read_table, write_table
    from modlyn_spark.sources.checkpoint import read_checkpointed, write_checkpointed

    decode = bool(p.get("decode"))
    h = {}
    with tr.span("sources.catalog"):
        images = tr.force(read_table(spark, os.path.join(meta["dir"], "images.parquet")))
        requests = tr.force(
            read_table(spark, os.path.join(meta["dir"], "requests.parquet"))
        )
    if decode:
        from modlyn_spark.functions.image import decode_image_stats

        with tr.span("functions.image"):
            h["px"] = tr.force(decode_image_stats(images))
    # untraced, the two calls below only build plans: the pipeline call
    # recomputes them; traced, it must find them cached (expect_cached)
    with tr.span("operators.windows"):
        state = image_state_features(images, GAP_SECONDS, decode_px_stats=decode)
        if decode:
            tr.expect_cached(state, h["px"], "decoded image stats")
        h["state"] = tr.force(state)
    with tr.span("operators.asof"):
        feats = image_feature_pipeline(
            images,
            requests,
            gap_seconds=GAP_SECONDS,
            asof_strategy=p["asof_strategy"],
            hot_key_threshold=p.get("hot_key_threshold"),
            decode_px_stats=decode,
        )
        tr.expect_cached(feats, h["state"], "image state features")
        feats = tr.force(feats)
    features_path = os.path.join(out_dir, "features")
    with tr.span("sources.checkpoint"):
        res = write_checkpointed(
            feats,
            features_path,
            key_cols=["image_id", "feature_ts"],
            n_buckets=p["buckets"],
            lineage=f"image_feature_pipeline(strategy={p['asof_strategy']})",
        )
        ck = tr.force(read_checkpointed(spark, features_path))
    with tr.span("scoring.fstat"):
        ranked = tr.force(score_features(ck))
    with tr.span("sources.catalog"):
        write_table(ranked, os.path.join(out_dir, "scores"), mode="overwrite")
    h.update(images=images, requests=requests, feats=feats, checkpoint=res)
    return h


def select_job(spark, meta: dict, p: dict, tr) -> dict:
    """The modlyn reference flow: SimpleLogReg.fit, F-statistic, Wilcoxon,
    then CompareScores top-N Jaccard over the three score matrices."""
    from modlyn_spark.eval.jaccard import CompareScores
    from modlyn_spark.models import SimpleLogReg
    from modlyn_spark.scoring.stats import (
        class_feature_stats,
        f_statistic,
        wilcoxon_scores,
    )
    from modlyn_spark.sources.catalog import read_table

    with tr.span("sources.catalog"):
        df = tr.force(read_table(spark, os.path.join(meta["dir"], "counts.parquet")))
    with tr.span("scoring.logreg"):
        model = SimpleLogReg(df, "cell_type").fit(
            df,
            batch_size_rows_hint=p["batch_rows"],
            max_epochs=1,
            max_steps=p["max_steps"],
        )
        W = model.get_weights()
    with tr.span("scoring.fstat"):
        f = (
            f_statistic(class_feature_stats(df, "cell_type"))
            .toPandas()
            .sort_values("pos")["f_stat"]
            .to_numpy()
        )
    with tr.span("scoring.wilcoxon"):
        z = (
            wilcoxon_scores(df, "cell_type")
            .toPandas()
            .pivot(index="label", columns="pos", values="z")
            .loc[list(W.index)]
            .to_numpy()
        )
    with tr.span("eval.jaccard"):
        jac = CompareScores(
            score_matrices(W.to_numpy(), f, z, list(W.index)), p["n_top"]
        ).compute_jaccard_comparison()
    return {
        "W": W.to_numpy(),
        "f": f,
        "z": z,
        "jaccard": jac["jaccard"].to_numpy(dtype=np.float64),
        "steps": len(model.losses),
    }
