"""Custom stateful streaming operator: final streamed state equals the batch
latest-state computation on the same events."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from modlyn_spark.streaming.stateful import streaming_last_state


def test_streaming_last_state_matches_batch(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "ts", "value"
    )
    src_dir = str(tmp_path / "src")
    # two files + maxFilesPerTrigger=1 -> state folds across >1 micro-batch
    ev.repartition(2).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = streaming_last_state(stream, "user_id", "ts", "value")
    q = (
        out.writeStream.format("memory")
        .queryName("last_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT key, last_value, n_updates FROM last_state"
    ).toPandas()
    # update mode re-emits a key per micro-batch; the LAST emission per key
    # (max n_updates) is the final state
    got = got.sort_values("n_updates").groupby("key").last().reset_index()

    exp_state = (
        ev.groupBy("user_id")
        .agg(F.max(F.struct("ts", "value")).alias("s"), F.count("*").alias("n"))
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("s.value").alias("last_value"),
            F.col("n").alias("n_updates"),
        )
        .toPandas()
    )
    m = got.merge(exp_state, on="key", suffixes=("", "_exp"))
    assert len(m) == len(exp_state)
    assert (m["n_updates"] == m["n_updates_exp"]).all()
    a = m["last_value"].astype(float)
    b = m["last_value_exp"].astype(float)
    mask = ~(a.isna() & b.isna())
    assert np.allclose(a[mask], b[mask], equal_nan=True)


def _enrich_inputs(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    state = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    requests = (
        ev.where(F.col("event_type").isin("view", "click"))
        .select("event_id", "user_id", F.col("ts").alias("feature_ts"))
    )
    return state, requests


def _batch_expected(spark, state, requests):
    from modlyn_spark.operators.asof import asof_join

    return (
        asof_join(
            requests, state,
            on="user_id", left_ts="feature_ts", right_ts="ts",
            right_cols=["purchase_value"],
            matched_ts_col="state_ts",
        )
        .select("event_id", "purchase_value", "state_ts")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )


def _run_enrich(spark, state_dir, req_dir, out_dir, ckpt_dir, state_schema, req_schema):
    from modlyn_spark.streaming.stateful import streaming_asof_enrich

    ev_stream = spark.readStream.schema(state_schema).parquet(state_dir)
    req_stream = spark.readStream.schema(req_schema).parquet(req_dir)
    enriched = streaming_asof_enrich(
        ev_stream, req_stream,
        key="user_id", event_ts="ts", value="purchase_value",
        request_ts="feature_ts", request_id="event_id",
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_streaming_asof_enrich_matches_batch(spark, tmp_path):
    """Single micro-batch over the full history == the batch as-of join,
    row for row (request ids, matched state ts, matched value)."""
    state, requests = _enrich_inputs(spark)
    sd, rd = str(tmp_path / "state"), str(tmp_path / "req")
    state.coalesce(1).write.parquet(sd)
    requests.coalesce(1).write.parquet(rd)
    od, cd = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_enrich(spark, sd, rd, od, cd, state.schema, requests.schema)

    got = (
        spark.read.parquet(od)
        .select(
            F.col("request_id").alias("event_id"),
            F.col("state_value").alias("purchase_value"),
            F.col("state_ts").cast("timestamp_ntz").alias("state_ts"),
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    exp = _batch_expected(spark, state, requests)
    assert len(got) == len(exp)
    assert got["event_id"].tolist() == exp["event_id"].tolist()
    a, b = got["purchase_value"].to_numpy(), exp["purchase_value"].to_numpy()
    m = ~(np.isnan(a) & np.isnan(b))
    assert np.allclose(a[m], b[m])
    assert got["state_ts"].equals(exp["state_ts"])


def test_streaming_asof_enrich_incremental_with_checkpoint_restart(
    spark, tmp_path
):
    """Time-split incremental run: drain the early half (availableNow),
    STOP, append the late half, resume from the SAME checkpoint — the
    per-key state history survives the restart and the union of outputs
    still equals the batch as-of join over the full history."""
    state, requests = _enrich_inputs(spark)
    cut = state.agg(
        F.expr("percentile(cast(cast(ts as timestamp_ltz) as double), 0.5)")
    ).collect()[0][0]
    sd, rd = str(tmp_path / "state"), str(tmp_path / "req")
    od, cd = str(tmp_path / "out"), str(tmp_path / "ckpt")

    s_early = state.where(F.col("ts").cast("timestamp_ltz").cast("double") <= cut)
    r_early = requests.where(
        F.col("feature_ts").cast("timestamp_ltz").cast("double") <= cut
    )
    s_early.coalesce(1).write.parquet(sd)
    r_early.coalesce(1).write.parquet(rd)
    _run_enrich(spark, sd, rd, od, cd, state.schema, requests.schema)
    n_first = spark.read.parquet(od).count()
    assert n_first == r_early.count()

    state.where(F.col("ts").cast("timestamp_ltz").cast("double") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(sd)
    requests.where(
        F.col("feature_ts").cast("timestamp_ltz").cast("double") > cut
    ).coalesce(1).write.mode(
        "append"
    ).parquet(rd)
    _run_enrich(spark, sd, rd, od, cd, state.schema, requests.schema)

    got = (
        spark.read.parquet(od)
        .select(
            F.col("request_id").alias("event_id"),
            F.col("state_value").alias("purchase_value"),
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    exp = _batch_expected(spark, state, requests)[["event_id", "purchase_value"]]
    assert got["event_id"].tolist() == exp["event_id"].tolist()
    a, b = got["purchase_value"].to_numpy(), exp["purchase_value"].to_numpy()
    m = ~(np.isnan(a) & np.isnan(b))
    assert np.allclose(a[m], b[m])
