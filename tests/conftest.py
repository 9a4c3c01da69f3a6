from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modlyn_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("modlyn-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def events_pdf():
    """Deterministic event-state fixture: entities with bursty timestamps,
    value updates, occasional nulls, one hot entity (skew), boundary ties."""
    rng = np.random.default_rng(42)
    rows = []
    base = pd.Timestamp("2024-01-01 00:00:00")
    for e in range(30):
        key = f"ent_{e:03d}"
        n = 200 if e == 0 else int(rng.integers(3, 20))  # ent_000 is hot
        t = base
        for v in range(n):
            gap = int(rng.choice([1, 2, 3, 5, 3600, 7200], p=[0.3, 0.2, 0.2, 0.1, 0.1, 0.1]))
            t = t + pd.Timedelta(seconds=gap)
            rows.append(
                {
                    "key": key,
                    "ts": t,
                    "value": float(rng.normal(e, 1.0)) if rng.random() > 0.15 else None,
                    "state": int(rng.integers(0, 1 << 20)),
                    "version": v,
                }
            )
    return pd.DataFrame(rows)


@pytest.fixture(scope="session")
def probes_pdf(events_pdf):
    """As-of probe fixture: timestamps strictly between, exactly on, and after
    event timestamps; includes an entity with no history (null-match case)
    and poisoned-future guard probes (leakage test relies on ordering)."""
    rng = np.random.default_rng(7)
    rows = []
    for key, g in events_pdf.groupby("key"):
        ts = g["ts"].sort_values().tolist()
        picks = rng.choice(len(ts), size=min(5, len(ts)), replace=False)
        for i in picks:
            # strictly between events
            rows.append({"key": key, "feature_ts": ts[i] + pd.Timedelta(milliseconds=500)})
            # exactly equal (boundary)
            rows.append({"key": key, "feature_ts": ts[i]})
        # before any event (no match)
        rows.append({"key": key, "feature_ts": ts[0] - pd.Timedelta(hours=1)})
    # entity with no history at all
    rows.append({"key": "ent_missing", "feature_ts": pd.Timestamp("2024-01-01 12:00:00")})
    df = pd.DataFrame(rows).drop_duplicates().reset_index(drop=True)
    df["probe_id"] = np.arange(len(df))
    return df


@pytest.fixture(scope="session")
def partitioned_df(spark):
    """``make(chunks, schema)``: a DataFrame whose partition i holds exactly
    the rows of ``chunks[i]`` (a list of tuples; empty chunks give empty
    partitions), read with no shuffle in between."""

    def make(chunks, schema):
        rdd = spark.sparkContext.parallelize(list(chunks), len(chunks))
        return spark.createDataFrame(rdd.flatMap(lambda c: c), schema)

    return make


@pytest.fixture(scope="session")
def in_job_group(spark):
    """``run(name, fn)``: ``(fn(), jobs, shuffle_bytes)``, the number of
    Spark jobs ``fn`` ran and the shuffle bytes their stages wrote."""
    sc = spark.sparkContext

    def run(name, fn):
        sc.setJobGroup(name, name)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
        stages = jsc.statusStore().stageList(
            sc._jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList(),
        )
        written = sum(
            stages.apply(i).shuffleWriteBytes()
            for i in range(stages.size())
            if stages.apply(i).stageId() in stage_ids
        )
        return out, len(jobs), written

    return run
