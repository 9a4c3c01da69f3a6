"""Fold-parallel CV trainer: each fused leave-one-fold-out model must
equal a standalone trainer run on the fold-filtered data, and the
out-of-fold table must score every row with the model that never saw it."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modlyn_spark.oracle.pandas_oracle import oracle_logreg
from modlyn_spark.scoring import blocks as blocks_mod
from modlyn_spark.scoring.cv import CVLogReg, assign_folds, assign_folds_pandas
from modlyn_spark.scoring.logreg import (
    DistributedLogReg,
    assign_batches,
    assign_batches_pandas,
)
from modlyn_spark.scoring.stats import label_encode

N, D, K, NF = 240, 6, 3, 3


@pytest.fixture(scope="module")
def cv_data(spark):
    rng = np.random.default_rng(23)
    X = rng.random((N, D)).astype(np.float32)
    labels = pd.Series(rng.choice([f"c{i}" for i in range(K)], size=N))
    for i in range(K):
        X[labels.values == f"c{i}", i] += 0.7 * (i + 1)
    pdf = pd.DataFrame(
        {
            "row_id": np.arange(N),
            "features": [x.tolist() for x in X],
            "label": labels,
        }
    )
    df = spark.createDataFrame(pdf)
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["row_id"], 4)
    enc = assign_folds(enc, ["row_id"], NF)
    # the parity contract needs every (batch, fold-complement) non-empty
    cells = enc.groupBy("batch_id", "fold_id").count().toPandas()
    assert len(cells) == 4 * NF
    return pdf, X, labels, classes, enc


def test_fold_assignment_pandas_parity(spark, cv_data):
    pdf, _, _, _, enc = cv_data
    got = (
        enc.select("row_id", "fold_id")
        .toPandas()
        .sort_values("row_id")["fold_id"]
        .to_numpy()
    )
    exp = assign_folds_pandas(pdf.sort_values("row_id"), ["row_id"], NF)
    assert (got == exp).all()
    # salted hash decorrelates folds from batches: all 12 cells populated
    # (checked in the fixture) and folds are not a function of batch
    bids = assign_batches_pandas(pdf.sort_values("row_id"), ["row_id"], 4)
    assert len(set(zip(bids.tolist(), exp.tolist()))) == 12


def test_cv_matches_standalone_per_fold(spark, cv_data):
    """Fused model f == standalone DistributedLogReg on fold != f."""
    _, _, _, classes, enc = cv_data
    cv = CVLogReg(D, classes, NF).fit(enc, max_steps=9, max_epochs=3, n_batches=4)
    for f in range(NF):
        solo = DistributedLogReg(D, classes).fit(
            enc.where(F.col("fold_id") != f),
            max_steps=9,
            max_epochs=3,
            n_batches=4,
        )
        assert np.allclose(cv.W[f], solo.W, rtol=1e-9, atol=1e-12), f
        assert np.allclose(cv.b[f], solo.b, rtol=1e-9, atol=1e-12), f
        assert np.allclose(cv.losses[f], solo.losses, rtol=1e-9), f


def test_cv_matches_numpy_twin(cv_data, spark):
    """Fused model f == the INDEPENDENT single-node twin on fold != f."""
    pdf, X, labels, classes, enc = cv_data
    cv = CVLogReg(D, classes, NF).fit(enc, max_steps=9, max_epochs=3, n_batches=4)
    order = pdf.sort_values("row_id")
    bids = assign_batches_pandas(order, ["row_id"], 4)
    folds = assign_folds_pandas(order, ["row_id"], NF)
    for f in range(NF):
        keep = folds != f
        exp_w, exp_losses = oracle_logreg(
            X[keep], labels[keep], bids[keep], max_steps=9, n_epochs=3
        )
        exp_W = exp_w.pivot(index="label", columns="pos", values="weight").values
        assert np.allclose(cv.W[f], exp_W, rtol=1e-6, atol=1e-9), f
        assert np.allclose(cv.losses[f], exp_losses, rtol=1e-6), f


def test_oof_predictions_leakage_free(spark, cv_data):
    """oof_predict row i == argmax under model fold_i specifically."""
    _, _, _, classes, enc = cv_data
    cv = CVLogReg(D, classes, NF).fit(enc, max_steps=9, max_epochs=3, n_batches=4)
    out = (
        cv.oof_predict(enc)
        .select("row_id", "fold_id", "features", "oof_pred_idx")
        .toPandas()
        .sort_values("row_id")
    )
    X = np.stack(out["features"].to_numpy()).astype(np.float64)
    folds = out["fold_id"].to_numpy()
    exp = np.array(
        [
            int(np.argmax(X[i] @ cv.W[folds[i]].T + cv.b[folds[i]]))
            for i in range(len(X))
        ]
    )
    assert (out["oof_pred_idx"].to_numpy() == exp).all()
    # the shifted features are separable: OOF accuracy is well above chance
    lab = (
        enc.select("row_id", "label_idx").toPandas().sort_values("row_id")
    )["label_idx"].to_numpy()
    acc = float((exp == lab).mean())
    assert acc > 0.6


def test_empty_cell_raises(spark, cv_data):
    """A batch with no rows visible to some model raises by default."""
    _, _, _, classes, enc = cv_data
    # fold everything into fold 0 for batch 3: model 0 sees nothing there
    rigged = enc.withColumn(
        "fold_id",
        F.when(F.col("batch_id") == 3, F.lit(0)).otherwise(F.col("fold_id")),
    )
    with pytest.raises(ValueError, match="no rows visible"):
        CVLogReg(D, classes, NF).fit(
            rigged, max_steps=12, max_epochs=1, n_batches=4
        )
    # opt-out trains, skipping only the starved update
    cv = CVLogReg(D, classes, NF).fit(
        rigged, max_steps=12, max_epochs=1, n_batches=4, allow_empty_cells=True
    )
    assert len(cv.losses[0]) == 3  # fold-0 model skipped batch 3
    assert len(cv.losses[1]) == 4
    # a skipped model does not count the step: over two epochs fold model 0
    # must equal the numpy twin on its visible rows, whose batch 3 is empty
    # (a step count shared by the stack would bias-correct epoch 2 wrongly)
    pdf, X, labels, _, _ = cv_data
    order = pdf.sort_values("row_id")
    bids = assign_batches_pandas(order, ["row_id"], 4)
    folds = np.where(bids == 3, 0, assign_folds_pandas(order, ["row_id"], NF))
    cv2 = CVLogReg(D, classes, NF).fit(
        rigged, max_steps=12, max_epochs=2, n_batches=4, allow_empty_cells=True
    )
    keep = folds != 0
    exp_w, exp_losses = oracle_logreg(
        X[keep], labels[keep], bids[keep], max_steps=12, n_epochs=2
    )
    exp_W = exp_w.pivot(index="label", columns="pos", values="weight").values
    assert len(cv2.losses[0]) == 6
    assert np.allclose(cv2.W[0], exp_W, rtol=1e-6, atol=1e-9)
    assert np.allclose(cv2.losses[0], exp_losses, rtol=1e-6)


def test_fold_id_out_of_range_raises(spark, cv_data):
    """A fold id outside 0..F-1 has no out-of-fold model: fold -1 would
    train every fold model (and be scored by model F-1 through a negative
    index), fold F would fail inside the Arrow map. Both are rejected on
    the driver, naming the fold column."""
    _, _, _, classes, enc = cv_data
    rigged = enc.withColumn(
        "fold_id",
        F.when(F.col("row_id") % 7 == 0, F.lit(-1))
        .when(F.col("row_id") % 7 == 1, F.lit(NF))
        .otherwise(F.col("fold_id")),
    )
    with pytest.raises(ValueError, match="fold_id"):
        CVLogReg(D, classes, NF).fit(rigged, max_steps=2, max_epochs=1, n_batches=4)
    cv = CVLogReg(D, classes, NF).fit(enc, max_steps=2, max_epochs=1, n_batches=4)
    for bad in [-1, NF]:
        one = enc.withColumn(
            "fold_id",
            F.when(F.col("row_id") == 0, F.lit(bad)).otherwise(F.col("fold_id")),
        )
        with pytest.raises(ValueError, match="fold_id"):
            cv.oof_predict(one)


def test_fold_id_out_of_range_inside_a_group_raises_on_the_driver(
    spark, cv_data, monkeypatch
):
    """With the 4 batches in one step group, a bad fold id in batch 1 stops
    the group's task before that update: the driver keeps the first step
    and raises the ValueError itself, not a failed Python task."""
    monkeypatch.setattr(blocks_mod, "_group_size", lambda n, p: n)
    _, _, _, classes, enc = cv_data
    rigged = enc.withColumn(
        "fold_id",
        F.when((F.col("batch_id") == 1) & (F.col("row_id") % 5 == 0), F.lit(NF))
        .otherwise(F.col("fold_id")),
    )
    cv = CVLogReg(D, classes, NF)
    with pytest.raises(ValueError, match="batch 1 holds 'fold_id'") as err:
        cv.fit(rigged, max_steps=4, max_epochs=1, n_batches=4)
    assert type(err.value) is ValueError
    one = CVLogReg(D, classes, NF).fit(enc, max_steps=1, max_epochs=1, n_batches=4)
    assert [len(x) for x in cv.losses] == [1] * NF
    assert np.array_equal(cv.W, one.W)


def test_n_folds_guard():
    with pytest.raises(ValueError):
        CVLogReg(4, ["a", "b"], 1)
