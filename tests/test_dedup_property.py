"""Property-based dedup/scoring testing: random corpora and matrices must
always satisfy the operators' contracts against independent oracles.

- candidates-then-verify near-dup pairs: output is ALWAYS a subset of the
  exact pair set (precision 1.0 is structural — every emitted pair carries
  exact Jaccard), and planted high-similarity copies are always recalled
  (banding miss probability ~1e-5 at the tested similarity).
- hot-shingle chunk salting: identical output to the unsalted join for any
  corpus and any chunk size.
- wilcoxon z-scores: allclose to the numpy oracle on random matrices with
  ties and constant columns, read as 1-4 input partitions (empty ones
  allowed), so task histograms are merged in every combination.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima"]


@st.composite
def corpora(draw):
    n_docs = draw(st.integers(3, 8))
    docs = []
    for i in range(n_docs):
        words = draw(st.lists(st.sampled_from(WORDS), min_size=12, max_size=30))
        docs.append((i, " ".join(words)))
    # plant near-copies of the first documents (append one short word:
    # 3-gram jaccard stays >= ~0.9 on 60+ char texts)
    n_copies = draw(st.integers(1, min(3, n_docs)))
    for j in range(n_copies):
        docs.append((100 + j, docs[j][1] + " zz"))
    return docs, n_copies


_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(data=corpora())
@_SETTINGS
def test_near_dup_pairs_subset_and_recall(spark, data):
    from modlyn_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )

    docs, n_copies = data
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    exact = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8)
    exact_pairs = {
        (r["id1"], r["id2"]): r["jaccard"] for r in exact.collect()
    }
    for fn in (minhash_near_dup_pairs, simhash_near_dup_pairs):
        got = {
            (r["id1"], r["id2"]): r["jaccard"]
            for r in fn(df, "doc_id", "text", threshold=0.8).collect()
        }
        # precision 1.0: every emitted pair is in the exact set, with the
        # exact jaccard value
        for pair, jac in got.items():
            assert pair in exact_pairs, (fn.__name__, pair)
            assert np.isclose(jac, exact_pairs[pair])
        # recall of the planted high-similarity copies: guaranteed (up to
        # p ~ 1e-5 banding miss) for MINHASH, whose collision probability
        # is a function of Jaccard itself. SimHash hamming is NOT bounded
        # by Jaccard — on adversarial tiny-vocabulary texts one extra
        # token can flip many low-margin bits — so its radius-based recall
        # is a corpus-dependent tuning contract, not a property.
        if fn is minhash_near_dup_pairs:
            for j in range(n_copies):
                if (j, 100 + j) in exact_pairs:
                    assert (j, 100 + j) in got, (fn.__name__, j)


@given(data=corpora(), chunk=st.integers(1, 4))
@_SETTINGS
def test_hot_shingle_salting_exactness(spark, data, chunk):
    from modlyn_spark.operators.dedup import ngram_jaccard_pairs

    docs, _ = data
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    plain = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.3, hot_shingle_chunk=None
        ).collect()
    }
    salted = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.3, hot_shingle_chunk=chunk
        ).collect()
    }
    assert set(plain) == set(salted)
    for pair in plain:
        assert np.isclose(plain[pair], salted[pair])


@st.composite
def matrices(draw):
    n = draw(st.integers(6, 24))
    d = draw(st.integers(1, 4))
    k = draw(st.integers(2, 3))
    rng = np.random.default_rng(draw(st.integers(0, 10_000)))
    X = rng.integers(0, 4, size=(n, d)).astype(np.float64)  # heavy ties
    if draw(st.booleans()):
        X[:, 0] = 1.0  # constant column: zero-variance guard path
    labels = pd.Series(rng.choice([f"c{i}" for i in range(k)], size=n))
    if labels.nunique() < 2:
        labels.iloc[0] = "c0"
        labels.iloc[1] = "c1"
    # input partitions: sorted cut points, repeats make empty partitions
    parts = draw(st.integers(1, 4))
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=parts - 1, max_size=parts - 1)))
    return X, labels, [0, *cuts, n]


@given(data=matrices())
@_SETTINGS
def test_wilcoxon_property_vs_oracle(spark, partitioned_df, data):
    from modlyn_spark.oracle.pandas_oracle import oracle_wilcoxon
    from modlyn_spark.scoring.stats import wilcoxon_scores

    X, labels, bounds = data
    rows = [(lab, x.tolist()) for lab, x in zip(labels, X)]
    df = partitioned_df(
        [rows[a:b] for a, b in zip(bounds[:-1], bounds[1:])],
        "label string, features array<double>",
    )
    got = (
        wilcoxon_scores(df, "label", "features")
        .toPandas()
        .sort_values(["label", "pos"])
        .reset_index(drop=True)
    )
    exp = (
        oracle_wilcoxon(X, labels).sort_values(["label", "pos"]).reset_index(drop=True)
    )
    assert got["n1"].tolist() == exp["n1"].tolist()
    assert np.allclose(got["rank_sum"].values, exp["rank_sum"].values)
    assert np.allclose(got["z"].values, exp["z"].values, atol=1e-9)
