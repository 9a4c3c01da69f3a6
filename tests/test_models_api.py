"""Reference API-parity tests, mirroring the reference's own unit test
(tests/test_dataset_type_alias.py: seeded synthetic matrix, string classes,
few steps, alias normalization assertion)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modlyn_spark.models import SimpleLogReg, normalize_dataset_type


@pytest.fixture(scope="module")
def adata_like(spark):
    # mirrors the reference fixture: 64 x 8 float32, 3 string classes, rng(0)
    rng = np.random.default_rng(0)
    X = rng.random((64, 8)).astype(np.float32)
    labels = rng.choice(["alpha", "beta", "gamma"], size=64)
    pdf = pd.DataFrame(
        {
            "obs_id": np.arange(64),
            "features": [x.tolist() for x in X],
            "cell_type": labels,
        }
    )
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize(
    "alias,expected",
    [
        ("dask", "dask-arrayloader"),
        ("arrayloaders-dasd", "dask-arrayloader"),
        ("in_memory", "in-memory"),
        ("memory", "in-memory"),
        ("something-else", "something-else"),
    ],
)
def test_dataset_type_alias_normalization(alias, expected):
    assert normalize_dataset_type(alias) == expected


def test_fit_with_alias_and_weights_shape(spark, adata_like):
    model = SimpleLogReg(adata_like, label_column="cell_type")
    model.fit(
        adata_like, dataset_type="arrayloaders-dasd",
        batch_size_rows_hint=16, max_steps=5, max_epochs=2,
    )
    assert model.dataset_type == "dask-arrayloader"  # reference's assertion
    assert len(model.losses) == 5

    w = model.get_weights()
    assert w.shape == (3, 8)
    assert list(w.index) == ["alpha", "beta", "gamma"]  # LabelEncoder order
    assert w.attrs["method_name"] == "modlyn_logreg"
    assert list(w.columns) == [f"f{j:04d}" for j in range(8)]


def test_evaluate_report(spark, adata_like):
    model = SimpleLogReg(adata_like, label_column="cell_type", learning_rate=0.5)
    model.fit(adata_like, max_steps=30, max_epochs=10)
    rep = model.evaluate(adata_like)
    assert {"accuracy", "macro_f1", "weighted_f1"} <= set(rep)
    assert 0 <= rep["accuracy"] <= 1
    assert all(
        {"precision", "recall", "f1-score", "support"} <= set(rep[c])
        for c in ["alpha", "beta", "gamma"]
    )


def test_per_epoch_validation_metrics(spark, adata_like):
    """val_df triggers per-epoch macro-F1/accuracy (the reference's
    validation_step + on_validation_epoch_end), matching the numpy oracle's
    post-hoc predictions at the final epoch."""
    import numpy as np

    from modlyn_spark.scoring.metrics import classification_report

    model = SimpleLogReg(adata_like, label_column="cell_type")
    model.fit(
        adata_like,
        val_df=adata_like,
        n_batches=4,
        max_steps=8,
        max_epochs=2,
    )
    assert len(model.val_metrics) == 2
    assert [m["epoch"] for m in model.val_metrics] == [0, 1]
    for m in model.val_metrics:
        assert 0.0 <= m["val_macro_f1"] <= 1.0
        assert 0.0 <= m["val_accuracy"] <= 1.0
    # last epoch's metrics == a post-hoc evaluate() of the final model
    rep = model.evaluate(adata_like)
    assert np.isclose(model.val_metrics[-1]["val_macro_f1"], rep["macro_f1"])
    assert np.isclose(model.val_metrics[-1]["val_accuracy"], rep["accuracy"])


def test_label_alignment_on_subset_frames(spark, adata_like):
    """fit/evaluate on a frame holding a SUBSET of the constructor's
    classes must keep indices aligned to the model's class axis (and an
    unseen label must raise) — the silent-misalignment bug class."""
    from pyspark.sql import functions as F

    model = SimpleLogReg(adata_like, label_column="cell_type")
    sub = adata_like.where(F.col("cell_type") != "alpha")
    enc = model._encode_labels(sub)
    got = {
        r["cell_type"]: r["cell_type_idx"]
        for r in enc.select("cell_type", "cell_type_idx").distinct().collect()
    }
    # 'beta' and 'gamma' keep their GLOBAL indices (1, 2), not 0, 1
    assert got == {"beta": 1, "gamma": 2}

    alien = adata_like.withColumn("cell_type", F.lit("delta"))
    with pytest.raises(ValueError, match="absent from the model's classes"):
        model._encode_labels(alien)


def test_constructor_is_one_aggregate(spark, adata_like):
    """The constructor reads width, classes, null labels and the row count
    in ONE aggregate (at most 3 Spark jobs, adaptive execution included),
    which a fit on the same frame does not repeat."""
    sc = spark.sparkContext
    group = "simple-logreg-init"
    sc.setJobGroup(group, group)
    try:
        model = SimpleLogReg(adata_like, label_column="cell_type")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, jobs
    assert model.classes == ["alpha", "beta", "gamma"]
    assert len(model.feature_names) == 8
    # fit on the constructor's frame reuses its row count and checks no
    # labels: the layout's shuffle map stage, then one step-group job (8
    # batches in 4 partitions: the 2 steps read partition 0 only)
    group = "simple-logreg-fit"
    sc.setJobGroup(group, group)
    try:
        model.fit(adata_like, n_batches=8, max_steps=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs
    assert len(model.losses) == 2


def test_null_label_raises_at_construction(spark, adata_like):
    from pyspark.sql import functions as F

    holed = adata_like.withColumn(
        "cell_type",
        F.when(F.col("obs_id") == 5, F.lit(None)).otherwise(F.col("cell_type")),
    )
    with pytest.raises(ValueError, match="'cell_type'"):
        SimpleLogReg(holed, label_column="cell_type")
