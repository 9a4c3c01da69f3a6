"""Scoring layer vs numpy oracle: class stats, F-statistic, logreg, metrics.

Fixture mirrors the reference's own unit fixture: seeded synthetic float32
matrix with string classes (reference: tests/test_dataset_type_alias.py:42-45
— 64x8, rng(0), 3 classes)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from modlyn_spark.oracle.pandas_oracle import (
    oracle_class_feature_stats,
    oracle_f_statistic,
    oracle_logreg,
)
from modlyn_spark.scoring.logreg import (
    DistributedLogReg,
    assign_batches,
    assign_batches_pandas,
)
from modlyn_spark.scoring.metrics import classification_report
from modlyn_spark.scoring.stats import class_feature_stats, f_statistic, label_encode

N, D, K = 256, 8, 3


@pytest.fixture(scope="module")
def matrix_pdf():
    rng = np.random.default_rng(0)
    X = rng.random((N, D)).astype(np.float32)
    labels = pd.Series(rng.choice([f"class_{i}" for i in range(K)], size=N))
    # make features informative: shift some features per class
    for i in range(K):
        X[labels.values == f"class_{i}", i] += 0.5 * (i + 1)
    return pd.DataFrame(
        {
            "row_id": np.arange(N),
            "features": [x.tolist() for x in X],
            "label": labels,
        }
    ), X, labels


def _spark_df(spark, pdf):
    return spark.createDataFrame(pdf)


_LABELLED = "label string, features array<double>"


def _split(rows, n):
    """``rows`` cut into ``n`` contiguous chunks, in order."""
    bounds = np.linspace(0, len(rows), n + 1).astype(int)
    return [rows[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def test_class_feature_stats(spark, matrix_pdf):
    pdf, X, labels = matrix_pdf
    df = _spark_df(spark, pdf)
    got = (
        class_feature_stats(df, "label", "features")
        .toPandas()
        .sort_values(["label", "pos"])
        .reset_index(drop=True)
    )
    exp = oracle_class_feature_stats(X, labels).sort_values(["label", "pos"]).reset_index(drop=True)
    assert (got["label"].values == exp["label"].values).all()
    assert (got["n"].values == exp["n"].values).all()
    assert np.allclose(got["mean"], exp["mean"])
    assert np.allclose(got["var_pop"], exp["var_pop"], atol=1e-9)


def test_class_feature_stats_skips_null_arrays(spark, matrix_pdf, partitioned_df):
    """A row whose feature array is null is skipped, in every partition
    it lands in (the partials used to fail stacking it), and a null label
    is a class of its own, not the string "None"."""
    pdf, X, labels = matrix_pdf
    rows = [(lab, x.tolist()) for lab, x in zip(labels, X.astype(np.float64))]
    for i in (3, 40, 41, 200):
        rows.insert(i, (labels.iloc[i], None))
    rows += [(None, [1.0] * D), (None, [3.0] * D), (None, None)]
    got = (
        class_feature_stats(partitioned_df(_split(rows, 3), _LABELLED), "label", "features")
        .toPandas()
        .sort_values(["label", "pos"])
        .reset_index(drop=True)
    )
    null = got[got["label"].isna()]
    assert null["n"].tolist() == [2] * D
    assert np.allclose(null["mean"], 2.0) and np.allclose(null["var_pop"], 1.0)
    got = got[got["label"].notna()].reset_index(drop=True)
    exp = oracle_class_feature_stats(X, labels).sort_values(["label", "pos"]).reset_index(drop=True)
    assert got["label"].tolist() == exp["label"].tolist()
    assert got["n"].tolist() == exp["n"].tolist()
    assert np.allclose(got["mean"], exp["mean"])
    assert np.allclose(got["var_pop"], exp["var_pop"], atol=1e-9)


def test_f_statistic(spark, matrix_pdf):
    pdf, X, labels = matrix_pdf
    df = _spark_df(spark, pdf)
    stats = class_feature_stats(df, "label", "features")
    got = f_statistic(stats).toPandas().sort_values("pos").reset_index(drop=True)
    exp = oracle_f_statistic(X, labels)
    assert np.allclose(got["f_stat"], exp["f_stat"])
    # shifted features must dominate: top-K by F are exactly 0..K-1
    top = set(got.nlargest(K, "f_stat")["pos"])
    assert top == set(range(K))


def test_class_feature_stats_keeps_nan(spark):
    """A NaN value gives its class a NaN mean and var_pop, not null, so the
    F-statistic of that feature is NaN instead of a finite F over the other
    classes; the other feature is untouched."""
    rows = [
        ("a", [float("nan"), 1.0]),
        ("a", [1.0, 2.0]),
        ("b", [2.0, 2.0]),
        ("b", [3.0, 5.0]),
        ("c", [5.0, 1.0]),
        ("c", [6.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "label string, features array<double>")
    stats = class_feature_stats(df, "label", "features")
    got = {(r["label"], r["pos"]): r for r in stats.collect()}
    a0 = got[("a", 0)]
    assert a0["mean"] is not None and np.isnan(a0["mean"])
    assert a0["var_pop"] is not None and np.isnan(a0["var_pop"])
    assert got[("b", 0)]["mean"] == 2.5
    f = {r["pos"]: r["f_stat"] for r in f_statistic(stats).collect()}
    assert np.isnan(f[0])
    assert f[1] == pytest.approx(28 / 11, rel=1e-12)


def test_f_statistic_counts_the_null_label_class(spark):
    """The null label is one of the k classes: a one-way ANOVA over the
    three classes a, b and null gives F = 21.5 (leaving null out of k
    while its rows stay in N and the sums gave 57.33)."""
    rows = [("a", [1.0]), ("a", [2.0]), ("b", [5.0]), ("b", [7.0]),
            (None, [10.0]), (None, [13.0])]
    df = spark.createDataFrame(rows, _LABELLED)
    got = f_statistic(class_feature_stats(df, "label", "features")).collect()
    assert [r["pos"] for r in got] == [0]
    assert got[0]["f_stat"] == pytest.approx(21.5, rel=1e-12)


def test_f_statistic_needs_two_classes(spark):
    df = spark.createDataFrame([("a", [1.0]), ("a", [2.0])], _LABELLED)
    with pytest.raises(ValueError, match="at least two classes"):
        f_statistic(class_feature_stats(df, "label", "features"))


def test_f_statistic_is_inf_without_within_class_spread(spark):
    """Constant classes with distinct means: the within-class mean square
    is 0, so F is inf, as in the oracle; a feature constant overall too
    (0 / 0) is inf as well."""
    rows = [("a", [1.0, 3.0]), ("a", [1.0, 3.0]), ("b", [2.0, 3.0]), ("b", [2.0, 3.0])]
    df = spark.createDataFrame(rows, _LABELLED)
    f = {r["pos"]: r["f_stat"] for r in f_statistic(class_feature_stats(df, "label")).collect()}
    assert f == {0: float("inf"), 1: float("inf")}
    exp = oracle_f_statistic(np.array([r[1] for r in rows]), pd.Series([r[0] for r in rows]))
    assert exp["f_stat"].tolist() == [float("inf")] * 2


def test_f_statistic_shuffles_nothing(spark, matrix_pdf, in_job_group):
    """The F path is one reducer scan plus two reads of local frames: no
    stage writes shuffle bytes."""
    pdf, X, labels = matrix_pdf
    df = _spark_df(spark, pdf).repartition(3).cache()
    df.count()
    try:
        got, _, shuffled = in_job_group(
            "f_statistic_shuffles_nothing",
            lambda: f_statistic(class_feature_stats(df, "label", "features")).toPandas(),
        )
    finally:
        df.unpersist()
    assert shuffled == 0
    got = got.sort_values("pos")["f_stat"].to_numpy()
    assert np.allclose(got, oracle_f_statistic(X, labels)["f_stat"], rtol=1e-12)


def test_label_encode_sklearn_parity(spark, matrix_pdf):
    pdf, _, labels = matrix_pdf
    df = _spark_df(spark, pdf)
    classes, enc = label_encode(df, "label")
    assert classes == sorted(labels.unique())  # LabelEncoder sorts ascending
    got = enc.select("label", "label_idx").distinct().toPandas()
    lut = dict(zip(got["label"], got["label_idx"]))
    assert lut == {c: i for i, c in enumerate(classes)}


def test_label_encode_rejects_null_label(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",)], "label string")
    with pytest.raises(ValueError, match="'label' holds null label"):
        label_encode(df, "label")


def test_predict_df_rejects_bad_feature_vectors(spark):
    """A null or short feature vector fails with the trainer's own decode
    error, not a numpy shape error from inside the map."""
    model = DistributedLogReg(2, ["a", "b"])
    model.W = np.array([[1.0, 0.0], [0.0, 1.0]])
    good = spark.createDataFrame(
        [(0, [2.0, 1.0]), (1, [0.0, 3.0])], "id int, features array<double>"
    )
    got = model.predict_df(good).orderBy("id").collect()
    assert [r["pred_idx"] for r in got] == [0, 1]
    assert got[0]["features"] == [2.0, 1.0]
    for bad in [(2, None), (2, [1.0]), (2, [None, 1.0])]:
        df = good.union(spark.createDataFrame([bad], good.schema))
        with pytest.raises(Exception, match="every feature vector must hold exactly 2 values"):
            model.predict_df(df).collect()


def test_fit_rejects_null_feature_value(spark):
    """A null value inside a training vector fails the fit with the
    decode error instead of training non-finite weights."""
    rows = [(i % 2, [float(i), 1.0 - i % 2], 0) for i in range(20)]
    schema = "label_idx int, features array<double>, batch_id int"
    good = spark.createDataFrame(rows, schema)
    model = DistributedLogReg(2, ["a", "b"]).fit(good, max_steps=1, n_batches=1)
    assert np.isfinite(model.W).all() and np.isfinite(model.losses).all()
    bad = good.union(spark.createDataFrame([(0, [None, 1.0], 0)], schema))
    with pytest.raises(Exception, match="every feature vector must hold exactly 2 values"):
        DistributedLogReg(2, ["a", "b"]).fit(bad, max_steps=1, n_batches=1)


def test_batch_assignment_parity(spark, matrix_pdf):
    pdf, _, _ = matrix_pdf
    df = _spark_df(spark, pdf)
    got = (
        assign_batches(df, ["row_id"], 7)
        .select("row_id", "batch_id")
        .toPandas()
        .sort_values("row_id")
    )
    exp = assign_batches_pandas(pdf.sort_values("row_id"), ["row_id"], 7)
    assert (got["batch_id"].values == exp).all()


def test_logreg_allclose_vs_oracle(spark, matrix_pdf):
    pdf, X, labels = matrix_pdf
    df = _spark_df(spark, pdf)
    classes, enc = label_encode(df, "label")
    n_batches = 4
    enc = assign_batches(enc, ["row_id"], n_batches)

    model = DistributedLogReg(D, classes, learning_rate=1e-2, weight_decay=1e-2)
    model.fit(enc, max_steps=12, max_epochs=3, n_batches=n_batches)

    order = pdf.sort_values("row_id")
    bids = assign_batches_pandas(order, ["row_id"], n_batches)
    exp_w, exp_losses = oracle_logreg(
        X, labels, bids, lr=1e-2, weight_decay=1e-2, max_steps=12, n_epochs=3
    )
    exp_W = exp_w.pivot(index="label", columns="pos", values="weight").values
    assert np.allclose(model.W, exp_W, rtol=1e-6, atol=1e-9)
    assert np.allclose(model.losses, exp_losses, rtol=1e-6)


def test_logreg_learns_and_reports(spark, matrix_pdf):
    pdf, X, labels = matrix_pdf
    df = _spark_df(spark, pdf)
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["row_id"], 2)
    model = DistributedLogReg(D, classes, learning_rate=0.5, weight_decay=1e-3)
    model.fit(enc, max_steps=40, max_epochs=20, n_batches=2)
    pred = model.predict_df(enc)
    rep = classification_report(pred, "label_idx", "pred_idx", classes)
    assert rep["accuracy"] > 0.8  # shifted features are easily separable
    assert 0 <= rep["macro_f1"] <= 1
    wdf = model.get_weights()
    assert wdf.shape == (K, D)
    assert wdf.attrs["method_name"] == "modlyn_logreg"
    assert list(wdf.index) == classes


def test_weights_long_roundtrip(spark, matrix_pdf):
    pdf, _, _ = matrix_pdf
    df = _spark_df(spark, pdf)
    classes, enc = label_encode(df, "label")
    enc = assign_batches(enc, ["row_id"], 2)
    model = DistributedLogReg(D, classes).fit(enc, max_steps=2, n_batches=2)
    long = model.weights_long(spark).toPandas()
    assert len(long) == K * D
    wide = long.pivot(index="label", columns="pos", values="weight")
    assert np.allclose(wide.values, model.W)


def test_wilcoxon_vs_oracle(spark, matrix_pdf):
    from modlyn_spark.oracle.pandas_oracle import oracle_wilcoxon
    from modlyn_spark.scoring.stats import wilcoxon_scores

    pdf, X, labels = matrix_pdf
    got = (
        wilcoxon_scores(_spark_df(spark, pdf), "label", "features")
        .toPandas()
        .sort_values(["label", "pos"])
        .reset_index(drop=True)
    )
    exp = (
        oracle_wilcoxon(X, labels)
        .sort_values(["label", "pos"])
        .reset_index(drop=True)
    )
    assert got["n1"].tolist() == exp["n1"].tolist()
    assert np.allclose(got["rank_sum"].values, exp["rank_sum"].values)
    assert np.allclose(got["z"].values, exp["z"].values, rtol=1e-9, atol=1e-9)
    # the planted shifts must dominate: class_i's own shifted feature i has
    # the largest positive z among its features
    for i in range(K):
        sub = exp[exp["label"] == f"class_{i}"].set_index("pos")["z"]
        assert sub.idxmax() == i


def test_wilcoxon_counts_partition_invariant(spark, partitioned_df):
    """Histograms merged across tasks: a Poisson count matrix (heavy ties,
    one constant column, rows sorted by class so most classes are missing
    from most partitions) scores bit-identically over 1/3/8 input
    partitions and matches the per-cell oracle."""
    import pyarrow as pa

    from modlyn_spark.oracle.pandas_oracle import oracle_wilcoxon
    from modlyn_spark.scoring import stats
    from modlyn_spark.scoring.stats import wilcoxon_scores

    rng = np.random.default_rng(11)
    n, d = 600, 12
    labels = pd.Series(np.sort(rng.choice([f"c{i}" for i in range(5)], size=n)))
    X = rng.poisson(1.5, size=(n, d)).astype(np.float64)
    X[:, 0] += 2.0 * (labels.str[1:].astype(int).to_numpy() == 2)
    X[:, 5] = 3.0
    rows = [(lab, x.tolist()) for lab, x in zip(labels, X)]
    outs = [
        wilcoxon_scores(partitioned_df(_split(rows, p), _LABELLED), "label", "features")
        .toPandas()
        .sort_values(["label", "pos"])
        .reset_index(drop=True)
        for p in (1, 3, 8)
    ]
    for other in outs[1:]:
        pd.testing.assert_frame_equal(outs[0], other, check_exact=True)
    exp = oracle_wilcoxon(X, labels).sort_values(["label", "pos"]).reset_index(drop=True)
    got = outs[0]
    assert got["label"].tolist() == exp["label"].tolist()
    assert got["pos"].tolist() == exp["pos"].tolist()
    assert got["n1"].tolist() == exp["n1"].tolist()
    assert np.allclose(got["rank_sum"], exp["rank_sum"])
    assert np.allclose(got["z"], exp["z"], rtol=1e-9, atol=1e-9)
    assert (got.loc[got["pos"] == 5, "z"] == 0.0).all()  # zero-variance guard

    # edge semantics, pinned to the per-cell (posexplode + window) plan's
    # output: a null label is its own class, a null array is skipped, -0.0
    # ties with 0.0, NaN ties with NaN
    edge = [("a", [1.0, 0.0]), ("a", [2.0, -0.0]), ("b", [1.0, 0.0]),
            ("b", None), (None, [3.0, 5.0]), ("b", [2.0, 1.0])]
    got = {
        (r.label, r.pos): (r.n1, r.rank_sum, r.z)
        for p in (1, 4)
        for r in wilcoxon_scores(partitioned_df(_split(edge, p), _LABELLED), "label", "features").collect()
    }
    assert got == {
        (None, 0): (1, 5.0, 1.4907119849998598),
        ("a", 0): (2, 5.0, -0.6085806194501845),
        ("b", 0): (2, 5.0, -0.6085806194501845),
        (None, 1): (1, 5.0, 1.5811388300841895),
        ("a", 1): (2, 4.0, -1.2909944487358056),
        ("b", 1): (2, 6.0, 0.0),
    }
    # NaN ranks above every number and ties with every other NaN (as
    # Spark orders it); numpy's sort may rewrite a NaN's payload bits
    nan = float("nan")
    nans = [("a", [nan, 1.0]), ("b", [nan, 2.0]), ("b", [1.0, nan]), ("c", [nan, -0.0])]
    expected = {
        ("a", 0): (1, 3.0), ("b", 0): (2, 4.0), ("c", 0): (1, 3.0),
        ("a", 1): (1, 2.0), ("b", 1): (2, 7.0), ("c", 1): (1, 1.0),
    }
    got = {
        (r.label, r.pos): (r.n1, r.rank_sum)
        for p in (1, 3)
        for r in wilcoxon_scores(partitioned_df(_split(nans, p), _LABELLED), "label", "features").collect()
    }
    assert got == expected
    # again without Spark, whose shuffle writes every NaN with one bit pattern
    rb = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in nans]), pa.array([r[1] for r in nans])], names=["label", "features"]
    )
    out = pa.Table.from_batches(list(stats._rank_sums(stats._histogram_partials(iter([rb])))))
    cols = (out.column(k).to_pylist() for k in ("label", "pos", "n1", "rank_sum"))
    assert {(lab, pos): (n1, rs) for lab, pos, n1, rs in zip(*cols)} == expected


def test_wilcoxon_holds_bounded_bins(monkeypatch):
    """A task ships its histogram, and the combine scores the features it
    holds completely, whenever ``_HELD_BINS`` bins are held; at a 1-bin
    bound every such path runs (a task ships several rows per feature and
    class) and the result still equals the per-cell oracle (no Spark
    needed)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from modlyn_spark.oracle.pandas_oracle import oracle_wilcoxon
    from modlyn_spark.scoring import stats

    rng = np.random.default_rng(2)
    n, d = 90, 5
    labels = pd.Series(rng.choice(["a", "b", "c"], size=n))
    X = rng.integers(0, 5, size=(n, d)).astype(np.float64)
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array(labels[i : i + 15].tolist()), pa.array([x.tolist() for x in X[i : i + 15]])],
            names=["label", "features"],
        )
        for i in range(0, n, 15)
    ]
    monkeypatch.setattr(stats, "_HELD_BINS", 1)
    hist = pa.Table.from_batches(
        [b for part in (batches[:1], batches[1:]) for b in stats._histogram_partials(iter(part))]
    )
    assert hist.num_rows > 2 * 3 * d  # rows of one (feature, class) shipped more than once
    hist = hist.take(pc.sort_indices(hist, [("pos", "ascending")]))
    got = (
        pa.Table.from_batches(list(stats._rank_sums(iter(hist.to_batches(max_chunksize=2)))))
        .to_pandas()
        .sort_values(["label", "pos"])
        .reset_index(drop=True)
    )
    exp = oracle_wilcoxon(X, labels).sort_values(["label", "pos"]).reset_index(drop=True)
    assert got["pos"].tolist() == exp["pos"].tolist()
    assert got["n1"].tolist() == exp["n1"].tolist()
    assert np.allclose(got["rank_sum"], exp["rank_sum"])
    assert np.allclose(got["z"], exp["z"], rtol=1e-9, atol=1e-9)


def test_wilcoxon_shuffles_bins_not_cells(spark, partitioned_df):
    """On a count matrix the shuffle carries value-histogram bins: far
    fewer records than the n*d cells a per-cell plan shuffles."""
    from modlyn_spark.scoring.stats import wilcoxon_scores

    rng = np.random.default_rng(5)
    n, d = 4000, 16
    labels = rng.choice(["a", "b", "c"], size=n)
    X = rng.poisson(2.0, size=(n, d)).astype(np.float64)
    df = partitioned_df(
        _split([(lab, x.tolist()) for lab, x in zip(labels.tolist(), X)], 4), _LABELLED
    )
    sc = spark.sparkContext
    group = "test_wilcoxon_shuffles_bins_not_cells"
    sc.setJobGroup(group, group)
    try:
        assert len(wilcoxon_scores(df, "label", "features").collect()) == 3 * d
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids = {
        sid for jid in tracker.getJobIdsForGroup(group) for sid in tracker.getJobInfo(jid).stageIds
    }
    stages = jsc.statusStore().stageList(
        sc._jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList(),
    )
    records = sum(
        stages.apply(i).shuffleWriteRecords()
        for i in range(stages.size())
        if stages.apply(i).stageId() in stage_ids
    )
    assert 0 < records < n * d / 10


def test_wilcoxon_vs_scipy(spark, matrix_pdf):
    scipy_stats = pytest.importorskip("scipy.stats")
    from modlyn_spark.oracle.pandas_oracle import oracle_wilcoxon

    pdf, X, labels = matrix_pdf
    exp = oracle_wilcoxon(X, labels)
    for c in ["class_0", "class_2"]:
        for j in [0, D - 1]:
            a = X[(labels == c).to_numpy(), j].astype(np.float64)
            b = X[(labels != c).to_numpy(), j].astype(np.float64)
            # mannwhitneyu z (tie-corrected, no continuity): U1 relates to
            # the rank sum via R = U1 + n1(n1+1)/2
            res = scipy_stats.mannwhitneyu(
                a, b, alternative="two-sided", method="asymptotic",
                use_continuity=False,
            )
            n1, n2 = len(a), len(b)
            mu_u = n1 * n2 / 2.0
            z_scipy = float(
                np.sign(res.statistic - mu_u)
                * scipy_stats.norm.isf(res.pvalue / 2.0)
            )
            z_ours = float(
                exp[(exp["label"] == c) & (exp["pos"] == j)]["z"].iloc[0]
            )
            assert np.isclose(z_ours, z_scipy, rtol=1e-6, atol=1e-8)


def test_compare_scores_three_methods(spark, matrix_pdf):
    """CompareScores over logreg + F-stat + wilcoxon (the reference
    quickstart's method set) through topn_jaccard, vs the pandas oracle."""
    from pyspark.sql import functions as F

    from modlyn_spark.eval.jaccard import topn_jaccard
    from modlyn_spark.oracle.pandas_oracle import oracle_jaccard, oracle_wilcoxon
    from modlyn_spark.scoring.stats import wilcoxon_scores

    pdf, X, labels = matrix_pdf
    df = _spark_df(spark, pdf)
    stats = class_feature_stats(df, "label", "features")
    m_mean = stats.select(
        F.lit("mean").alias("method"), "label", "pos",
        F.col("mean").alias("score"),
    )
    wil = wilcoxon_scores(df, "label", "features")
    m_wil = wil.select(
        F.lit("wilcoxon").alias("method"), "label", "pos",
        F.col("z").alias("score"),
    )
    m_var = stats.select(
        F.lit("meanvar").alias("method"), "label", "pos",
        (F.col("mean") + F.sqrt("var_pop")).alias("score"),
    )
    got = (
        topn_jaccard(
            m_mean.unionByName(m_wil).unionByName(m_var), [5],
            include_random_baseline=False,
        )
        .toPandas()
        .sort_values(["method1", "method2", "label", "n_top"])
        .reset_index(drop=True)
    )
    # three methods -> three unordered method pairs per label
    assert set(zip(got["method1"], got["method2"])) == {
        ("mean", "meanvar"), ("mean", "wilcoxon"), ("meanvar", "wilcoxon"),
    }
    # oracle check for the mean-vs-wilcoxon pair
    from modlyn_spark.oracle.pandas_oracle import oracle_class_feature_stats

    stats_o = oracle_class_feature_stats(X, labels)
    wil_o = oracle_wilcoxon(X, labels)
    for c in sorted(pd.unique(labels)):
        top_mean = set(
            stats_o[stats_o["label"] == c]
            .assign(a=lambda t: t["mean"].abs())
            .nlargest(5, "a")["pos"]
        )
        top_wil = set(
            wil_o[wil_o["label"] == c]
            .assign(a=lambda t: t["z"].abs())
            .nlargest(5, "a")["pos"]
        )
        exp_j = len(top_mean & top_wil) / len(top_mean | top_wil)
        row = got[
            (got["method1"] == "mean") & (got["method2"] == "wilcoxon")
            & (got["label"] == c)
        ]
        assert np.isclose(row["jaccard"].iloc[0], exp_j)


def test_kmeans_matches_numpy_oracle(spark):
    """Distributed Lloyd's == single-node numpy twin: same init, same
    trajectory (allclose centroids per construction), identical final
    assignments on the real embeddings table; deterministic across
    parallelism (partition-sorted partial combine)."""
    from pyspark.sql import functions as F

    from modlyn_spark.operators.clustering import kmeans_assign, kmeans_fit
    from modlyn_spark.oracle.pandas_oracle import oracle_kmeans

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    X = np.stack(
        df.orderBy("vec_id").toPandas()["v"].to_numpy()
    ).astype(np.float64)

    ids = df.orderBy("vec_id").toPandas()["vec_id"].to_numpy()
    C, hist = kmeans_fit(df, "v", k=4, max_iter=8, id_col="vec_id")
    C_o, a_o, hist_o = oracle_kmeans(X, 4, max_iter=8, ids=ids)
    assert np.allclose(C, C_o, rtol=1e-9, atol=1e-9)
    assert len(hist) == len(hist_o)
    assert np.allclose(hist, hist_o, rtol=1e-9)
    # inertia must be non-increasing (Lloyd's invariant)
    assert all(b <= a + 1e-6 for a, b in zip(hist, hist[1:]))

    got = (
        kmeans_assign(df, "v", C)
        .select("vec_id", "cluster")
        .orderBy("vec_id")
        .toPandas()
    )
    assert (got["cluster"].to_numpy() == a_o).all()


def test_classification_report_df_matches_dict_report(spark, matrix_pdf):
    """Distributed DataFrame report == driver-side dict report (which is
    itself sklearn-parity-tested): per-class precision/recall/F1/support
    plus the accuracy/macro/weighted summary rows."""
    from modlyn_spark.scoring.metrics import classification_report_df

    pdf = matrix_pdf[0].copy()
    rng = np.random.default_rng(7)
    pdf["pred"] = rng.permutation(pdf["label"].to_numpy())  # noisy predictions
    df = spark.createDataFrame(pdf[["label", "pred"]])
    rep = classification_report(df, "label", "pred")
    out = {
        r["label"]: r
        for r in classification_report_df(df, "label", "pred").collect()
    }
    labels = [k for k in rep if not str(k).startswith("__") and k not in
              ("accuracy", "macro_f1", "weighted_f1")]
    for c in labels:
        row = out[str(c)]
        assert row["precision"] == pytest.approx(rep[c]["precision"], abs=1e-12)
        assert row["recall"] == pytest.approx(rep[c]["recall"], abs=1e-12)
        assert row["f1"] == pytest.approx(rep[c]["f1-score"], abs=1e-12)
        assert row["support"] == rep[c]["support"]
    assert out["__accuracy__"]["f1"] == pytest.approx(rep["accuracy"], abs=1e-12)
    assert out["__macro__"]["f1"] == pytest.approx(rep["macro_f1"], abs=1e-12)
    assert out["__weighted__"]["f1"] == pytest.approx(rep["weighted_f1"], abs=1e-12)
    assert out["__macro__"]["support"] == len(pdf)


def test_from_weights_long_roundtrip_predicts(spark, matrix_pdf):
    """from_weights_long(weights_long(...)) reproduces W exactly and the
    rebuilt model (bias 0) predicts argmax(X @ W.T) — the M3 gate path."""
    from modlyn_spark.scoring.logreg import DistributedLogReg

    classes = sorted(matrix_pdf[0]["label"].astype(str).unique())
    m = DistributedLogReg(8, classes)
    rng = np.random.default_rng(3)
    m.W = rng.standard_normal(m.W.shape)
    long = m.weights_long(spark).toPandas()
    m2 = DistributedLogReg.from_weights_long(long)
    assert m2.classes == [str(c) for c in classes]
    np.testing.assert_allclose(m2.W, m.W)
    X = rng.standard_normal((40, 8))
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(40), "features": [list(r) for r in X]})
    )
    got = (
        m2.predict_df(df, "features", "pred_idx")
        .orderBy("id")
        .select("pred_idx")
        .toPandas()["pred_idx"]
        .to_numpy()
    )
    np.testing.assert_array_equal(got, np.argmax(X @ m.W.T, axis=1))


def test_from_weights_long_numeric_labels():
    """A numeric label column must not KeyError in the pivot lookup:
    labels normalize to strings ONCE (before class list AND pivot), so
    ordering is string order ("10" < "2") like label_encode's."""
    from modlyn_spark.scoring.logreg import DistributedLogReg

    rng = np.random.default_rng(7)
    W = rng.standard_normal((3, 4))
    long = pd.DataFrame(
        {
            "label": np.repeat([2, 10, 1], 4),  # ints, unsorted
            "pos": np.tile(np.arange(4), 3),
            "weight": W.ravel(),
        }
    )
    m = DistributedLogReg.from_weights_long(long)
    assert m.classes == ["1", "10", "2"]  # string order
    np.testing.assert_allclose(m.W, W[[2, 1, 0]])


def test_kmeans_init_unbiased_on_label_sorted_frame(spark):
    """A label-SORTED table with a small init sample must still seed
    centroids from multiple classes: md5(id)-ordered sampling is storage-
    order-independent, where a bare limit() would return only the first
    class's rows."""
    from modlyn_spark.operators.clustering import _init_centroids

    rng = np.random.default_rng(0)
    a = rng.normal(0.0, 0.1, (200, 4))    # class A centered at 0
    b = rng.normal(10.0, 0.1, (200, 4))   # class B centered at 10
    pdf = pd.DataFrame(
        {
            "id": np.arange(400),
            "v": [list(r) for r in np.vstack([a, b])],  # label-sorted: A then B
        }
    )
    df = spark.createDataFrame(pdf).coalesce(1)  # one partition: worst case
    C = _init_centroids(df, "v", k=8, sample=50, seed=42, id_col="id")
    means = C.mean(axis=1)
    assert (means < 5).any() and (means > 5).any(), (
        "md5-ordered init sampled only one class"
    )
    # the old behavior (no id_col -> limit) demonstrates the bias
    C_biased = _init_centroids(df, "v", k=8, sample=50, seed=42)
    assert (C_biased.mean(axis=1) < 5).all()


def test_kmeans_empty_input_raises_clear_error(spark):
    from modlyn_spark.operators.clustering import kmeans_fit

    empty = spark.createDataFrame([], "id bigint, v array<double>")
    with pytest.raises(ValueError, match="no rows to initialize"):
        kmeans_fit(empty, "v", k=3, id_col="id")


def test_cosine_udf_zero_norm_and_null_guards(spark):
    """Zero-norm vectors score 0.0 (NaN would sort ABOVE every double in a
    desc top-k window); NULL vectors yield NULL (dropped), not a crash."""
    from modlyn_spark.operators.similarity import _cosine_udf
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "i": [0, 1, 2],
            "a": [[1.0, 0.0], [0.0, 0.0], None],
            "b": [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0]],
        }
    )
    df = spark.createDataFrame(pdf).select(
        "i", _cosine_udf(F.col("a"), F.col("b")).alias("c")
    )
    out = {r["i"]: r["c"] for r in df.collect()}
    assert out[0] == pytest.approx(1.0)
    assert out[1] == 0.0
    assert out[2] is None
