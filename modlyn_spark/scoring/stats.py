"""Per-class per-feature statistics, F-statistic and Wilcoxon scoring.

The distributed analogue of the scanpy rank_genes_groups scoring paths the
reference quickstart compares against (SURVEY.md N2; reference:
docs/quickstart.ipynb cells 1335d6d3 / 8c058e6c), and the building block
for the count-matrix statistics the north_rule mandates.

A null label is a class of its own, a row whose feature array is null is
skipped, and a null value inside an array reads as NaN.

``class_feature_stats``
    One ``combine.sum_partials`` pass: each Arrow batch gives its
    ``{label: (n, sum[d], sumsq[d])}`` partials, summed by label in the
    engine's one reducer (rows never shuffle), and the long-form frame is
    built in Arrow on the driver, so a NaN moment stays NaN.
    ``f_statistic`` collects that tiny frame and computes F in numpy.

``wilcoxon_scores``
    One ``mapInArrow`` pass decodes each Arrow batch with ``_RowDecoder``
    into class codes and a dense float64 matrix (a task holds one Arrow
    batch plus its histogram, never its whole partition). Each task emits
    its value histogram: for each (feature, class) the distinct values and
    their counts, one row per (feature, class). Count
    matrices have few distinct values per feature, so this is orders of
    magnitude fewer bins than cells; all-distinct continuous features
    degrade to one bin per cell, still smaller than a row per cell. One
    exchange on ``pos`` brings each feature's histograms together, and the
    exact tie-corrected statistic is computed from the merged bins with
    vectorized segment operations over many features at once.

Label encoding mirrors sklearn.LabelEncoder (classes sorted ascending;
reference: modlyn/models/_simple_logreg_datamodule.py:85-88).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modlyn_spark.scoring.blocks import _dense, _null_as_nan

# Wilcoxon histogram bins a task holds before it ships them (map side) or
# scores the features it holds completely (combine side)
_HELD_BINS = 1 << 22


def label_encode(df: DataFrame, label_col: str) -> tuple[list, DataFrame]:
    """sklearn.LabelEncoder parity: distinct labels sorted ascending -> dense
    int codes. Returns (classes, df with ``<label_col>_idx``).

    The mapping is collected (n_classes is small) and applied as a broadcast
    literal map — no join, no shuffle. A null label raises ``ValueError``
    (a map cannot hold a null key).
    """
    classes = [
        r[0]
        for r in df.select(label_col).distinct().orderBy(label_col).collect()
    ]
    if None in classes:
        raise ValueError(
            f"label column {label_col!r} holds null label(s); "
            "drop or fill them before encoding"
        )
    mapping = F.create_map(
        *[x for i, c in enumerate(classes) for x in (F.lit(c), F.lit(i))]
    )
    return classes, df.withColumn(f"{label_col}_idx", mapping[F.col(label_col)])


def _codes(labels):
    """(codes, names) of an Arrow string array: ``names[codes[i]]`` is row
    i's label, a null label included as a name of its own."""
    import pyarrow.compute as pc

    enc = labels.dictionary_encode()
    names = enc.dictionary.to_pylist()
    idx = enc.indices
    if enc.null_count:
        idx = pc.fill_null(idx, len(names))
        names.append(None)
    return idx.to_numpy(zero_copy_only=False).astype(np.int64), names


class _RowDecoder:
    """One task's decode of Arrow batches of (label, features) rows into
    (class codes, float64 (n, d) features).

    Codes index ``names`` and are stable across the task's batches. A null
    label is a class of its own, a row whose feature array is null is
    skipped, a null value inside an array reads as NaN, and every other row
    must hold the same number of values.
    """

    def __init__(self):
        self.code: dict = {}
        self.d: int | None = None

    @property
    def names(self) -> list:
        return list(self.code)

    def __call__(self, rb):
        import pyarrow.compute as pc

        feats = rb.column(1)
        if feats.null_count:
            rb = rb.filter(feats.is_valid())
            feats = rb.column(1)
        if not rb.num_rows:
            return None
        if self.d is None:
            self.d = int(pc.list_value_length(feats)[0].as_py())
        idx, names = _codes(rb.column(0))
        lut = np.array([self.code.setdefault(v, len(self.code)) for v in names], dtype=np.int64)
        return lut[idx], _dense(_null_as_nan(feats), self.d)


def _lists(values: np.ndarray, offsets: np.ndarray):
    """Arrow list column whose row i holds ``values[offsets[i]:offsets[i + 1]]``."""
    import pyarrow as pa

    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(values))


def _class_moments(labels: np.ndarray, X: np.ndarray) -> dict:
    """One batch's ``{label: (n, sum[d], sumsq[d])}``; a null label is a
    key of its own."""
    import pandas as pd

    codes, names = pd.factorize(labels)  # a null label gets code -1
    out = {}
    for c in np.unique(codes):
        sub = X[codes == c]
        key = names[c] if c >= 0 else None
        out[key] = (len(sub), sub.sum(axis=0), (sub * sub).sum(axis=0))
    return out


def class_feature_stats(
    df: DataFrame,
    label_col: str,
    features_col: str = "features",
) -> DataFrame:
    """Long-form per-class per-feature statistics.

    Returns DataFrame(label, pos, n, mean, var_pop) — one row per
    (class, feature position). ``var_pop`` is the population variance
    (matches numpy's default ddof=0, which the oracle and scanpy-style
    scoring use). A NaN value (also a null value inside an array) makes its
    class's ``mean`` and ``var_pop`` NaN, never null.

    The scan runs when this is called: one ``sum_partials`` pass of
    per-batch ``{label: moments}`` partials, then a local frame built in
    Arrow from the summed moments.
    """
    import pyarrow as pa

    from modlyn_spark.operators.combine import sum_partials

    rows = df.where(F.col(features_col).isNotNull()).select(
        F.col(label_col).cast("string"), features_col
    )
    parts = sum_partials(rows, _class_moments) or {}
    labels = sorted(parts, key=lambda k: (k is None, k or ""))
    n, s, ss = (np.array([parts[k][i] for k in labels]) for i in range(3))
    L, d = s.shape if labels else (0, 0)
    mean = s / n[:, None]
    var = np.maximum(ss / n[:, None] - mean * mean, 0.0)
    return df.sparkSession.createDataFrame(
        pa.table(
            {
                "label": pa.array(np.repeat(np.array(labels, dtype=object), d), pa.string()),
                "pos": pa.array(np.tile(np.arange(d, dtype=np.int64), L)),
                "n": pa.array(np.repeat(n, d).astype(np.int64)),
                "mean": pa.array(mean.ravel(), pa.float64()),
                "var_pop": pa.array(var.ravel(), pa.float64()),
            }
        )
    )


def _bits(x: np.ndarray) -> np.ndarray:
    """int64 keys of float64 values, equal exactly when the values tie:
    -0.0 with 0.0, and every NaN with every other (numpy's sort may change
    a NaN's payload, so NaN bits cannot be compared as they are)."""
    b = (x + 0.0).view(np.int64)
    b[np.isnan(x)] = -1
    return b


def _runs(*keys: np.ndarray):
    """(start index of each run of equal consecutive key tuples, run index
    of every element)."""
    new = np.zeros(len(keys[0]), dtype=bool)
    new[:1] = True
    for k in keys:
        new[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(new), np.cumsum(new) - 1


def _reduce_bins(code, pos, x, c):
    """Sort bins by (code, pos, value) and merge tied ones, summing counts."""
    order = np.lexsort((x, pos, code))
    code, pos, x, c = code[order], pos[order], x[order], c[order]
    starts, _ = _runs(code, pos, _bits(x))
    return code[starts], pos[starts], x[starts], np.add.reduceat(c, starts)


def _merge_bins(runs: list[tuple]):
    """One histogram from several (code, pos, value, count) runs."""
    return _reduce_bins(*(np.concatenate(r) for r in zip(*runs)))


def _batch_histogram(y: np.ndarray, X: np.ndarray):
    """(code, pos, value, count) bins of one batch, sorted by (code, pos,
    value): each class's columns are sorted at once, then runs of equal
    values collapse into one bin."""
    d = X.shape[1]
    parts = []
    for cl in np.unique(y):
        sub = X[y == cl]
        v = np.sort(sub, axis=0).T.ravel()  # feature-major, sorted
        pos = np.repeat(np.arange(d, dtype=np.int32), len(sub))
        starts, _ = _runs(pos, _bits(v))
        parts.append(
            (
                np.full(len(starts), cl, dtype=np.int64),
                pos[starts],
                v[starts],
                np.diff(np.append(starts, len(v))).astype(np.int64),
            )
        )
    return tuple(np.concatenate(p) for p in zip(*parts))


def _histogram_partials(batches: Iterator) -> Iterator:
    """mapInArrow body: (label, features) rows -> the task's value
    histogram, one row (pos, label, x[], c[]) per (feature, class), values
    ascending.

    Batch histograms are merged into the running one once together they
    hold as many bins as it does, so merging costs O(bins log bins) over
    the task even when every value is distinct. A histogram that reaches
    ``_HELD_BINS`` bins is shipped and a new one started: the combine adds
    up a value's counts from any number of rows, so only the shuffle
    volume, never the result, depends on where that happens."""
    decode = _RowDecoder()
    runs: list[tuple] = []  # runs[0] is the histogram merged so far
    for rb in batches:
        rows = decode(rb)
        if rows is None:
            continue
        runs.append(_batch_histogram(*rows))
        if sum(len(r[0]) for r in runs[1:]) >= len(runs[0][0]):
            runs = [_merge_bins(runs)]
            if len(runs[0][0]) >= _HELD_BINS:
                yield _histogram_rows(runs.pop(), decode.names)
    if runs:
        yield _histogram_rows(_merge_bins(runs), decode.names)


def _histogram_rows(hist: tuple, names: list):
    """Arrow batch of one (pos, label, x[], c[]) row per (feature, class)
    run of a sorted histogram."""
    import pyarrow as pa

    code, pos, x, c = hist
    first, _ = _runs(code, pos)
    offsets = np.append(first, len(x))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(pos[first]),
            pa.array([names[k] for k in code[first]], pa.string()),
            _lists(x, offsets),
            _lists(c, offsets),
        ],
        names=["pos", "label", "x", "c"],
    )


def _score(tbl):
    """Rank sums and z of every (feature, class) of complete features.

    ``tbl`` holds every histogram row of the features it holds. Each
    distinct (pos, value) is one tie group of t = summed count; its average
    rank is the count of smaller values in the feature plus (t + 1) / 2."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lengths = pc.list_value_length(tbl.column("x")).to_numpy(zero_copy_only=False)
    row_lab, names = _codes(tbl.column("label").combine_chunks())
    L = len(names)
    row_pos = tbl.column("pos").to_numpy()
    x = pc.list_flatten(tbl.column("x")).to_numpy()
    c = pc.list_flatten(tbl.column("c")).to_numpy()
    feats, row_f = np.unique(row_pos, return_inverse=True)
    f = np.repeat(row_f, lengths)
    cell = f * L + np.repeat(row_lab, lengths)
    order = np.lexsort((x, f))
    f, x, c, cell = f[order], x[order], c[order], cell[order]
    # tie groups: runs of one value within one feature
    starts, grp = _runs(f, _bits(x))
    t = np.add.reduceat(c, starts)
    gf = f[starts]
    before = np.cumsum(t) - t  # count of smaller values, over all features
    first, feat_of = _runs(gf)
    before -= before[first][feat_of]  # ... within the group's feature
    avg = before + (t + 1) / 2.0
    n_cells = len(feats) * L
    n1 = np.bincount(cell, weights=c, minlength=n_cells).astype(np.int64)
    rank_sum = np.bincount(cell, weights=c * avg[grp], minlength=n_cells)
    nt = np.bincount(gf, weights=t, minlength=len(feats)).astype(np.int64)
    tie_sum = np.bincount(gf, weights=t.astype(np.float64) ** 3 - t, minlength=len(feats))
    # only the (feature, class) cells holding rows, as the per-row plan gave
    keep = np.flatnonzero(n1 > 0)
    n1, rank_sum = n1[keep], rank_sum[keep]
    fi, li = keep // L, keep % L
    nt, tie_sum = nt[fi], tie_sum[fi]
    mu = n1 * (nt + 1) / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        var = n1 * (nt - n1) / 12.0 * ((nt + 1) - tie_sum / (nt * (nt - 1.0)))
        z = np.where(var > 0, (rank_sum - mu) / np.sqrt(var), 0.0)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([names[k] for k in li], pa.string()),
            pa.array(feats[fi].astype(np.int32)),
            pa.array(n1),
            pa.array(rank_sum),
            pa.array(z),
        ],
        names=["label", "pos", "n1", "rank_sum", "z"],
    )


def _rank_sums(batches: Iterator) -> Iterator:
    """mapInArrow body over one exchange partition, sorted by ``pos``:
    buffer histogram rows and score every feature that is complete once
    ``_HELD_BINS`` bins are held (all of them at the end)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    held, n_held = [], 0
    for rb in batches:
        if not rb.num_rows:
            continue
        held.append(rb)
        n_held += len(pc.list_flatten(rb.column("x")))
        if n_held < _HELD_BINS:
            continue
        tbl = pa.Table.from_batches(held)
        last = tbl.column("pos")[-1]
        done = pc.not_equal(tbl.column("pos"), last)
        if pc.any(done).as_py():
            yield _score(tbl.filter(done))
        rest = tbl.filter(pc.invert(done))
        held = rest.to_batches()
        n_held = len(pc.list_flatten(rest.column("x")))
    if held:
        yield _score(pa.Table.from_batches(held))


def wilcoxon_scores(
    df: DataFrame,
    label_col: str,
    features_col: str = "features",
) -> DataFrame:
    """Per-class per-feature Wilcoxon rank-sum z-scores (class vs rest).

    The distributed analogue of scanpy's rank_genes_groups(method=
    "wilcoxon") — the second scoring method the reference quickstart
    compares against the logreg weights (reference docs/quickstart.ipynb
    cell 8c058e6c; SURVEY.md §2.1 N2). For each feature position, values
    are ranked over ALL rows (average ranks for ties), and each class's
    rank sum is z-scored against the null N(n1(N+1)/2, n1*n2/12*((N+1) -
    tie_term)) with the standard tie correction tie_term =
    sum_t(t^3 - t)/(N(N-1)). A zero variance gives z = 0.

    Physical plan: an Arrow map builds each task's value histogram (per
    feature and class, the distinct values and their counts), merged batch
    by batch. ONE exchange on ``pos`` brings every task's histogram rows of
    a feature together, sorted by ``pos`` within the partition. The combine
    scores many features per numpy call: a lexsort on (feature, value)
    makes each distinct value one tie group of t = summed count, its
    average rank is the count of smaller values plus (t + 1) / 2, and
    ``bincount`` over (feature, class) gives n1 and the rank sum. The
    statistic is exact: it equals ranking every cell. The shuffle carries
    one bin per distinct (feature, class, value) per task, not one row per
    cell.

    A null label is a class of its own, a row whose feature array is null
    is skipped, -0.0 ties with 0.0, and NaN (also a null value inside an
    array) ranks above every number, tied with every other NaN.

    Returns DataFrame(label, pos, n1, rank_sum, z).
    """
    hist = df.select(F.col(label_col).cast("string"), features_col).mapInArrow(
        _histogram_partials, "pos int, label string, x array<double>, c array<long>"
    )
    return (
        hist.repartition("pos")
        .sortWithinPartitions("pos")
        .mapInArrow(_rank_sums, "label string, pos int, n1 long, rank_sum double, z double")
    )


def f_statistic(stats: DataFrame) -> DataFrame:
    """One-way ANOVA F per feature from long-form class stats.

    Input: the (label, pos, n, mean, var_pop) frame from
    ``class_feature_stats``, one row per (class, feature). Output:
    DataFrame(pos, f_stat). The input is tiny (n_classes x d rows), so it
    is collected and F is computed in numpy; every row of a feature is one
    class, the null label's included.

    F = [sum_c n_c (m_c - m)^2 / (k-1)] / [sum_c n_c var_c / (N-k)].
    ``sum_c n_c var_c`` equals the within-class sum of squares because
    var_pop is the population variance. F is NaN where a class's mean or
    variance is NaN, else inf where the within-class mean square is not
    > 0. Fewer than two classes raise ``ValueError``.
    """
    import pyarrow as pa

    pdf = stats.select("pos", "n", "mean", "var_pop").toPandas()
    pos, p = np.unique(pdf["pos"].to_numpy(np.int64), return_inverse=True)
    k = np.bincount(p)
    if len(pos) and k.min() < 2:
        raise ValueError(
            f"the F-statistic needs at least two classes; feature "
            f"{pos[np.argmin(k)]} has {k.min()}"
        )
    n, mean, var = (pdf[c].to_numpy(np.float64) for c in ("n", "mean", "var_pop"))
    with np.errstate(divide="ignore", invalid="ignore"):
        n_total = np.bincount(p, n)
        grand = np.bincount(p, n * mean) / n_total
        ms_between = np.bincount(p, n * (mean - grand[p]) ** 2) / (k - 1)
        ms_within = np.bincount(p, n * var) / (n_total - k)
        f = np.where(ms_within > 0, ms_between / ms_within, np.inf)
    f[np.bincount(p, np.isnan(mean) | np.isnan(var)) > 0] = np.nan
    return stats.sparkSession.createDataFrame(
        pa.table({"pos": pa.array(pos), "f_stat": pa.array(f, pa.float64())})
    )
