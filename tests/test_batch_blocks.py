"""Per-batch block layout of the mini-batch trainers (scoring/blocks.py):
one Spark job of one task per step, oracle parity (also with batches cut
into several blocks), and bit-identical weights at any parallelism."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modlyn_spark.oracle.pandas_oracle import oracle_logreg
from modlyn_spark.scoring import blocks as blocks_mod
from modlyn_spark.scoring.blocks import BatchBlocks
from modlyn_spark.scoring.logreg import (
    DistributedLogReg,
    assign_batches,
    assign_batches_pandas,
)

N, D, K, NB = 384, 6, 3, 32
CLASSES = [f"c{i}" for i in range(K)]


def _data() -> tuple[pd.DataFrame, np.ndarray, pd.Series]:
    rng = np.random.default_rng(11)
    X = rng.normal(size=(N, D))
    labels = pd.Series(rng.choice(CLASSES, size=N))
    for i in range(K):
        X[labels.values == CLASSES[i], i] += 1.5
    pdf = pd.DataFrame(
        {
            "row_id": np.arange(N),
            "features": [x.tolist() for x in X],
            "label_idx": labels.map({c: i for i, c in enumerate(CLASSES)}),
        }
    )
    return pdf, X, labels


def _fit(spark, max_steps: int, n_input_partitions: int) -> DistributedLogReg:
    pdf, _, _ = _data()
    df = assign_batches(
        spark.createDataFrame(pdf).repartition(n_input_partitions), ["row_id"], NB
    )
    return DistributedLogReg(D, CLASSES).fit(
        df, n_batches=NB, max_steps=max_steps, max_epochs=2
    )


def _group_jobs(sc, group: str) -> list[int]:
    """Completed task count of every job in ``group``, in job order."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jid).stageIds]
        out.append(sum(s.numCompletedTasks for s in stages if s is not None))
    return out


def test_each_step_is_one_job_of_one_task(spark):
    sc = spark.sparkContext
    setups = []
    for steps in (3, 7):
        group = f"batch-blocks-{steps}"
        sc.setJobGroup(group, group)
        try:
            model = _fit(spark, steps, 5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(model.losses) == steps
        jobs = _group_jobs(sc, group)
        # the set-up jobs come first, then exactly one single-task job per step
        assert jobs[-steps:] == [1] * steps, jobs
        # the last set-up job packs the blocks the steps read, one task each
        assert jobs[-steps - 1] == steps, jobs
        setups.append(jobs[: -steps - 1])
    assert setups[0] == setups[1]  # the rest of set-up does not grow


def _assert_oracle_40_steps(model) -> None:
    pdf, X, labels = _data()
    bids = assign_batches_pandas(pdf, ["row_id"], NB)
    exp_w, exp_losses = oracle_logreg(
        X, labels, bids, lr=1e-2, weight_decay=1e-2, max_steps=40, n_epochs=2
    )
    exp_W = exp_w.pivot(index="label", columns="pos", values="weight").values
    assert np.allclose(model.W, exp_W, rtol=1e-6, atol=1e-9)
    assert np.allclose(model.losses, exp_losses, rtol=1e-6)


def test_weights_match_oracle_at_32_batches(spark):
    _assert_oracle_40_steps(_fit(spark, 40, 5))  # one epoch of 32 plus 8


def test_blocks_smaller_than_a_batch(spark, monkeypatch):
    """A batch larger than the block cap spans several blocks; a step sums
    their partials and still matches the oracle."""
    monkeypatch.setattr(blocks_mod, "BLOCK_BYTES", 8 * (D + 2) * 4)  # 4 rows
    _assert_oracle_40_steps(_fit(spark, 40, 5))
    pdf, _, _ = _data()
    df = assign_batches(spark.createDataFrame(pdf), ["row_id"], NB)
    blocks = BatchBlocks(df, n_features=D, n_batches=NB)
    try:
        sizes = np.bincount(assign_batches_pandas(pdf, ["row_id"], NB), minlength=NB)
        for b in range(NB):  # (blocks, rows) of batch b
            got = blocks.run(b, lambda X, y, f: (1, len(y)))
            assert got == (-(-sizes[b] // 4), sizes[b]), b
    finally:
        blocks.unpersist()


_CHILD = """
import sys
import numpy as np
sys.path[:0] = [{root!r}, {tests!r}]
from modlyn_spark import get_spark
from test_batch_blocks import _fit
spark = get_spark("n-vs-4n", master="local[1]", shuffle_partitions=1)
model = _fit(spark, 40, 1)
np.save({out!r}, np.concatenate([model.W.ravel(), model.b, model.losses]))
"""


def test_local1_and_local4_bit_identical(spark, tmp_path):
    """The N-vs-4N invariant: local[1] with one input partition and
    local[4] with seven give the same weights bit for bit. The local[1] run
    starts from another working directory with PYTHONPATH unset, so its
    workers import the package through the session's own settings."""
    tests = os.path.dirname(os.path.abspath(__file__))
    out = str(tmp_path / "local1.npy")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    code = _CHILD.format(root=os.path.dirname(tests), tests=tests, out=out)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    model = _fit(spark, 40, 7)
    mine = np.concatenate([model.W.ravel(), model.b, model.losses])
    assert np.array_equal(np.load(out), mine)


@pytest.mark.parametrize("btype", ["int", "long"])
def test_each_batch_in_its_own_partition(spark, btype):
    """Batch b lands in partition b alone (the pack task raises on any
    other batch id), and rows with a null or out-of-range id are dropped."""
    n = 32
    df = spark.range(n + 2).select(
        F.array(F.lit(0.0)).alias("features"),
        F.lit(0).alias("label_idx"),
        F.when(F.col("id") < n, F.col("id"))
        .when(F.col("id") == n, F.lit(n))
        .cast(btype)
        .alias("batch_id"),
    )
    blocks = BatchBlocks(df, n_features=1, n_batches=n)
    try:
        assert [blocks.run(b, lambda X, y, f: (len(y),)) for b in range(n)] == [
            (1,)
        ] * n
    finally:
        blocks.unpersist()
