"""End-to-end feature pipelines — the engine's flagship queries.

``image_feature_pipeline`` is the north_star dataflow: image-state table ->
per-state windowed features (phash hamming lag-delta, capture-burst
sessionization, backfilled pixel statistics, rolling counts) -> point-in-time
as-of join to (image_id, feature_ts, label) requests with zero temporal
leakage -> dense float feature vectors -> per-class mean/variance +
F-statistic scoring (and optionally the logreg scoring loop downstream).

The plan shape at scale: the state-side features cost ONE shuffle on
image_id (all windows share the same partitioning and collapse into one
exchange+sort); the as-of join is the second and final shuffle; scoring
sums per-class moment partials in one reducer scan, with no shuffle, and
computes F on the driver. No binary payloads cross any shuffle — pixels
are reduced to statistics before the join (SURVEY.md §7 hard-part 4).

``events_feature_pipeline`` is the same dataflow over the driver's
TPC-H-ish ``events`` table (user state instead of image state) — used by
``__spark_entry__.entry``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modlyn_spark.operators.asof import asof_join
from modlyn_spark.operators.windows import (
    backfill,
    sessionize,
    rolling_stats,
    with_lag_lead,
)
from modlyn_spark.scoring.stats import class_feature_stats, f_statistic

IMAGE_FEATURE_NAMES = [
    "phash_hamming",
    "version",
    "session_id",
    "n_in_session_so_far",
    "px_mean_ffill",
    "state_age_sec",
]


def image_state_features(
    images: DataFrame, gap_seconds: int = 600, *, decode_px_stats: bool = False
) -> DataFrame:
    """Per-state-row windowed features over the image table.

    All four window features share partitionBy(image_id) orderBy(ts) — one
    shuffle total. Binary payload is projected out immediately.

    ``decode_px_stats=False`` (default): pixel stats ride as a cheap
    phash-derived proxy, null on even versions to exercise backfill.
    ``decode_px_stats=True``: the D1 decode path — every image is decoded
    once (Arrow-batched mapInPandas over the bytes column, BEFORE any
    shuffle) and its real per-pixel mean joins the state row on
    (image_id, version); only the scalar statistics cross the join
    shuffle, the binary payload never does.
    """
    slim = images.select("image_id", "ts", "version", "phash", "w", "h")
    f1 = with_lag_lead(slim, "image_id", "ts", "phash", delta=False, hamming=True)
    f2 = sessionize(f1, "image_id", "ts", gap_seconds)
    f3 = rolling_stats(f2, "image_id", "ts", "version", n_rows=1000, prefix="sess")
    if decode_px_stats:
        from modlyn_spark.functions.image import decode_image_stats

        px = decode_image_stats(images).select(
            "image_id",
            F.col("ts_version").alias("version"),
            F.col("px_mean").alias("px_mean_raw"),
        )
        f3 = f3.join(px, ["image_id", "version"], "left")
    else:
        # px_mean proxy: deterministic per-state scalar; null on even
        # versions to exercise backfill
        f3 = f3.withColumn(
            "px_mean_raw",
            F.when(F.col("version") % 2 == 1, F.col("phash") % 256).cast("double"),
        )
    f4 = backfill(f3, "image_id", "ts", "px_mean_raw", suffix="_f")
    return f4.select(
        "image_id",
        "ts",
        "version",
        F.coalesce(F.col("phash_hamming1"), F.lit(0)).cast("double").alias(
            "phash_hamming"
        ),
        F.col("session_id").cast("double").alias("session_id"),
        F.col("sess_count").cast("double").alias("n_in_session_so_far"),
        F.coalesce(F.col("px_mean_raw_f"), F.lit(0.0)).alias("px_mean_ffill"),
    )


def image_feature_pipeline(
    images: DataFrame,
    requests: DataFrame,
    *,
    gap_seconds: int = 600,
    asof_strategy: str = "union",
    hot_key_threshold: int | None = None,
    decode_px_stats: bool = False,
) -> DataFrame:
    """requests(image_id, feature_ts, label) -> point-in-time feature vectors.

    Returns DataFrame(image_id, feature_ts, label, features: array<double>)
    with features = IMAGE_FEATURE_NAMES, all as-of the request timestamp.
    ``decode_px_stats=True`` swaps the px_mean proxy for real decoded
    per-pixel means (see image_state_features). ``asof_strategy`` is kept
    for callers that still pass it: ``"union"`` and ``"merge"`` both name
    the one as-of plan, anything else raises ``ValueError``."""
    if asof_strategy not in ("union", "merge"):
        raise ValueError(
            f"asof_strategy must be 'union' or 'merge', got {asof_strategy!r}"
        )
    state = image_state_features(images, gap_seconds, decode_px_stats=decode_px_stats)
    joined = asof_join(
        requests,
        state,
        on="image_id",
        left_ts="feature_ts",
        right_ts="ts",
        right_cols=[
            "phash_hamming",
            "version",
            "session_id",
            "n_in_session_so_far",
            "px_mean_ffill",
        ],
        hot_key_threshold=hot_key_threshold,
        matched_ts_col="state_ts",
    )
    age = (
        F.col("feature_ts").cast("timestamp_ltz").cast("double")
        - F.col("state_ts").cast("timestamp_ltz").cast("double")
    )
    return joined.select(
        "image_id",
        "feature_ts",
        "label",
        F.array(
            F.coalesce(F.col("phash_hamming"), F.lit(-1.0)),
            F.coalesce(F.col("version").cast("double"), F.lit(-1.0)),
            F.coalesce(F.col("session_id"), F.lit(-1.0)),
            F.coalesce(F.col("n_in_session_so_far"), F.lit(-1.0)),
            F.coalesce(F.col("px_mean_ffill"), F.lit(-1.0)),
            F.coalesce(age, F.lit(-1.0)),
        ).alias("features"),
    )


def score_features(features_df: DataFrame) -> DataFrame:
    """Per-class stats + F-statistic ranking over the pipeline output.
    Returns DataFrame(pos, f_stat) ordered by descending F."""
    stats = class_feature_stats(features_df, "label", "features")
    return f_statistic(stats).orderBy(F.desc("f_stat"))


# ---------------------------------------------------------------------------
# driver-table twin (entry() flagship over /root/testdata parquet)
# ---------------------------------------------------------------------------


def events_feature_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query over the driver's tables: for each 'view' event,
    as-of join the user's latest 'purchase' state, windowed features
    (value lag-delta, session id, rolling mean, backfilled purchase value),
    then per-event_type-class per-feature stats + F-statistic ranking."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    state = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    state = with_lag_lead(state, "user_id", "ts", "purchase_value", lag_offsets=(1,))
    state = sessionize(state, "user_id", "ts", 3600)
    state = rolling_stats(state, "user_id", "ts", "purchase_value", n_rows=5)

    probes = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("feature_ts"),
        "event_id",
        F.col("event_type").alias("label"),
    )
    joined = asof_join(
        probes,
        state.select(
            "user_id",
            "ts",
            "purchase_value",
            F.coalesce("purchase_value_delta1", F.lit(0.0)).alias("pv_delta"),
            F.col("session_id").cast("double").alias("sess"),
            F.col("purchase_value_roll_mean").alias("pv_roll_mean"),
        ),
        on="user_id",
        left_ts="feature_ts",
        right_ts="ts",
        matched_ts_col="state_ts",
    )
    feats = joined.select(
        "event_id",
        "label",
        F.array(
            F.coalesce(F.col("purchase_value"), F.lit(-1.0)),
            F.coalesce(F.col("pv_delta"), F.lit(-1.0)),
            F.coalesce(F.col("sess"), F.lit(-1.0)),
            F.coalesce(F.col("pv_roll_mean"), F.lit(-1.0)),
            F.coalesce(
                F.col("feature_ts").cast("timestamp_ltz").cast("double")
                - F.col("state_ts").cast("timestamp_ltz").cast("double"),
                F.lit(-1.0),
            ),
        ).alias("features"),
    )
    stats = class_feature_stats(feats, "label", "features")
    return f_statistic(stats).orderBy(F.desc("f_stat"))
