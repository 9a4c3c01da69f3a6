"""Block layout of the mini-batch trainers (scoring/blocks.py): one Spark
job of one task per group of K steps, oracle parity (also with batches
cut into several blocks or a budget ending inside a group), and
bit-identical weights at any parallelism and any K."""

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


def test_each_step_group_is_one_job_of_one_task(spark):
    """Under local[4] the 32 batches lie in 4 partitions of K = 8: a step
    group is one single-task job, a full epoch 4 of them. The parallel
    pack job runs only when the steps read several partitions, and the
    rest of set-up does not grow with max_steps."""
    sc = spark.sparkContext
    setups = []
    for steps, groups in ((3, 1), (20, 3), (32, 4)):
        group = f"batch-blocks-{steps}"
        sc.setJobGroup(group, group)
        try:
            model = _fit(spark, steps, 5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(model.losses) == steps
        jobs = _group_jobs(sc, group)
        # the set-up jobs come first, then, when the steps read several
        # partitions, one job packing them (one task each), then exactly
        # one single-task job per group
        tail = ([groups] if groups > 1 else []) + [1] * groups
        assert jobs[-len(tail):] == tail, jobs
        setups.append(jobs[: -len(tail)])
    # the shuffle map stages of the input's repartition (4 local partitions)
    # and of the layout (5 input partitions): no job finds partition keys
    assert setups == [[4, 5]] * 3, setups


def test_hash_int_matches_spark(spark):
    """The numpy port of Spark's int hash, which picks the partition keys
    without a job, matches ``F.hash`` of an int column."""
    ids = np.concatenate([np.arange(-5000, 100000), [2**31 - 1, -(2**31 - 1)]])
    got = (
        spark.createDataFrame(pd.DataFrame({"id": ids}))
        .select(F.hash(F.col("id").cast("int")).alias("h"))
        .toPandas()["h"]
        .to_numpy()
    )
    assert np.array_equal(blocks_mod._hash_int(ids), got)


def _assert_oracle(model, steps: int) -> None:
    pdf, X, labels = _data()
    bids = assign_batches_pandas(pdf, ["row_id"], NB)
    exp_w, exp_losses = oracle_logreg(
        X, labels, bids, lr=1e-2, weight_decay=1e-2, max_steps=steps, n_epochs=2
    )
    exp_W = exp_w.pivot(index="label", columns="pos", values="weight").values
    assert len(model.losses) == steps
    assert np.allclose(model.W, exp_W, rtol=1e-6, atol=1e-9)
    assert np.allclose(model.losses, exp_losses, rtol=1e-6)


def test_weights_match_oracle_at_32_batches(spark):
    _assert_oracle(_fit(spark, 40, 5), 40)  # one epoch of 32 plus 8


def test_fit_stops_mid_group(spark):
    """A budget that ends inside a group (K = 8) takes exactly the steps
    left, in the first epoch and in the second."""
    for steps in (5, 37):
        _assert_oracle(_fit(spark, steps, 5), steps)


def test_one_and_eight_batches_per_task_bit_identical(spark, monkeypatch):
    """K only decides which task runs a step: K = 1 and K = 8 give the same
    weights and losses bit for bit."""
    out = []
    for k in (1, 8):
        monkeypatch.setattr(blocks_mod, "_group_size", lambda n, p, k=k: k)
        model = _fit(spark, 40, 5)
        out.append(np.concatenate([model.W.ravel(), model.b, model.losses]))
    assert np.array_equal(out[0], out[1])


def test_epoch_callback_sees_updated_weights(spark):
    """The state a step group returns is written back before the epoch
    hook runs."""
    pdf, _, _ = _data()
    df = assign_batches(spark.createDataFrame(pdf), ["row_id"], NB)
    model = DistributedLogReg(D, CLASSES)
    seen = []
    model.fit(
        df, n_batches=NB, max_steps=40, max_epochs=2,
        epoch_callback=lambda e: seen.append((len(model.losses), model.W.copy())),
    )
    assert [n for n, _ in seen] == [32, 40]
    one = DistributedLogReg(D, CLASSES).fit(
        df, n_batches=NB, max_steps=32, max_epochs=1
    )
    assert np.array_equal(seen[0][1], one.W)
    assert np.array_equal(seen[1][1], model.W)


def _block_sizes(spark, blocks, g: int) -> list[tuple[int, int]]:
    """(batch id, rows) of every block of partition ``g``, in order."""
    d, has_fold = blocks.d, blocks.has_fold

    def sizes(bufs):
        yield [
            (bid, len(y))
            for bid, (_, y, _) in (blocks_mod._unblock(buf, d, has_fold) for buf in bufs)
        ]

    return spark.sparkContext.runJob(blocks._rdd, sizes, [g])[0]


def test_blocks_smaller_than_a_batch(spark, monkeypatch):
    """A batch larger than the block cap spans several blocks; a step sums
    their partials and still matches the oracle, and batch b's blocks lie
    together, in partition b // K, cut at the cap from the batch's first
    row."""
    monkeypatch.setattr(blocks_mod, "BLOCK_BYTES", 8 * (D + 2) * 4)  # 4 rows
    _assert_oracle(_fit(spark, 40, 5), 40)
    pdf, _, _ = _data()
    df = assign_batches(spark.createDataFrame(pdf), ["row_id"], NB)
    blocks = BatchBlocks(df, n_features=D, n_batches=NB)
    try:
        assert blocks.K == 8
        sizes = np.bincount(assign_batches_pandas(pdf, ["row_id"], NB), minlength=NB)
        for g in range(blocks.n_groups):
            got = _block_sizes(spark, blocks, g)
            want = [
                (b, min(4, int(sizes[b]) - s))
                for b in range(g * 8, g * 8 + 8)
                for s in range(0, int(sizes[b]), 4)
            ]
            assert got == want, g
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
    """The N-vs-4N invariant: local[1] with one input partition (K = 32)
    and local[4] with seven (K = 8) give the same weights bit for bit. The
    local[1] run starts from another working directory with PYTHONPATH
    unset, so its workers import the package through the session's own
    settings."""
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
def test_batch_lands_in_partition_of_its_group(spark, btype):
    """Batch b lands in partition b // K alone (the pack task raises on any
    other batch id), one block per batch here, and rows with a null or
    out-of-range id are dropped."""
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
        K = blocks.K
        assert (K, blocks.n_groups) == (8, 4)

        for g in range(blocks.n_groups):
            got = _block_sizes(spark, blocks, g)
            assert got == [(b, 1) for b in range(g * K, g * K + K)], g
    finally:
        blocks.unpersist()
