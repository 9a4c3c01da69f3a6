"""Seeded input generation and pandas-oracle expectations.

Everything here is pandas/numpy/pyarrow only: inputs are made before the
measured Spark process starts, so generation never touches a metric. The
seed changes entity ids, timestamps, probe labels and the count matrix.

Inputs are cached on disk per (workload, seed) together with the oracle's
expected result; a second run with the same seed reuses both.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_BASE = pd.Timestamp("2024-01-01", tz="UTC")
_GAPS_S = np.array([1, 2, 3, 5, 3600, 7200])
_GAP_P = np.array([0.3, 0.2, 0.2, 0.1, 0.1, 0.1])
GAP_SECONDS = 600
ROLL_ROWS = 1000
_FILES = 8


def _write(df: pd.DataFrame, path: str) -> None:
    """A table as a directory of _FILES parquet files, as a multi-file table
    would arrive; one small file would scan as too few tasks."""
    os.makedirs(path)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // _FILES)
    for i in range(_FILES):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            coerce_timestamps="us",
        )


# ---------------------------------------------------------------------------
# point-in-time workloads: image-state table + feature requests
# ---------------------------------------------------------------------------


def _png_pool(rng: np.random.Generator, n: int = 16) -> list[bytes]:
    from modlyn_spark.functions.image import png_encode

    return [
        png_encode(rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8))
        for _ in range(n)
    ]


def make_images(p: dict, seed: int) -> pd.DataFrame:
    """Image-state table in the input_hint schema plus (ts, version).

    ``hot_every``/``hot_factor`` give every k-th entity hot_factor x the
    mean version count of the others (the skew fixture), the same for
    every seed so the hot share of the rows does not vary with it. With ``decode`` every row carries the real
    encoded reference image of (image_id, version % 2); otherwise bytes come
    from a small PNG pool, since the decoder-off pipeline never reads them.
    """
    from modlyn_spark.sources.images import encode_row

    rng = np.random.default_rng(seed)
    n = p["entities"]
    ids = np.char.add(
        "img_", np.char.zfill(rng.choice(10**12, n, replace=False).astype(str), 12)
    )
    nv = rng.integers(1, 6, size=n)
    if p.get("hot_every"):
        nv[:: p["hot_every"]] = 3 * p["hot_factor"]
    rows = int(nv.sum())
    ent = np.repeat(np.arange(n), nv)
    first = np.cumsum(nv) - nv
    version = np.arange(rows) - np.repeat(first, nv)
    gaps = rng.choice(_GAPS_S, size=rows, p=_GAP_P)
    offs = np.cumsum(gaps)
    offs = offs - np.repeat(offs[first] - gaps[first], nv)  # restart per entity
    offs += np.repeat(rng.integers(0, 86400, size=n), nv)
    ts = _BASE + pd.to_timedelta(offs, unit="s")
    phash2 = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=(n, 2))
    sizes = np.array([8, 16, 32])[rng.integers(0, 3, size=(n, 2))]
    image_id = ids[ent]
    if p.get("decode"):
        enc = {}
        data, fmts = [], []
        for eid, v in zip(image_id, version):
            key = (eid, int(v) % 2)
            if key not in enc:
                enc[key] = encode_row(eid, key[1])
            data.append(enc[key][0])
            fmts.append(enc[key][1])
        from modlyn_spark.sources.images import entity_size

        wh = np.array([entity_size(e) for e in ids])
        w, h = wh[ent, 0], wh[ent, 1]
    else:
        pool = _png_pool(rng)
        data = [pool[i] for i in rng.integers(0, len(pool), size=rows)]
        fmts = ["png"] * rows
        w, h = sizes[ent, 0], sizes[ent, 1]
    return pd.DataFrame(
        {
            "image_id": image_id,
            "bytes": data,
            "w": w.astype(np.int32),
            "h": h.astype(np.int32),
            "fmt": fmts,
            "caption": [f"caption {e} v{v}" for e, v in zip(image_id, version)],
            "phash": phash2[ent, version % 2],
            "ts": ts,
            "version": version.astype(np.int64),
        }
    )


def make_requests(images: pd.DataFrame, seed: int, n_classes: int = 3) -> pd.DataFrame:
    """Probes per entity: up to 3 state timestamps, each probed exactly at
    and 500 ms after the state, plus one probe an hour before the first
    state (no match). Labels are seeded categorical."""
    rng = np.random.default_rng(seed + 1)
    st = images[["image_id", "ts"]].copy()
    st["u"] = rng.random(len(st))
    picked = st[st.groupby("image_id", sort=False)["u"].rank(method="first") <= 3]
    first = st.groupby("image_id", sort=False)["ts"].min()
    req = pd.concat(
        [
            pd.DataFrame({"image_id": picked["image_id"], "feature_ts": picked["ts"]}),
            pd.DataFrame(
                {
                    "image_id": picked["image_id"],
                    "feature_ts": picked["ts"] + pd.Timedelta(milliseconds=500),
                }
            ),
            pd.DataFrame(
                {"image_id": first.index,
                 "feature_ts": (first - pd.Timedelta(hours=1)).array}
            ),
        ],
        ignore_index=True,
    )
    req = req.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    req["label"] = np.array([f"class_{c}" for c in range(n_classes)])[
        rng.integers(0, n_classes, size=len(req))
    ]
    return req


def oracle_features(images: pd.DataFrame, requests: pd.DataFrame, decode: bool):
    """Expected pipeline output from the pandas oracle, composed like
    tests/test_pipeline.py::_oracle_features.

    Returns (features[n_requests, 6] in request order, per-column atol).
    """
    from modlyn_spark.oracle.pandas_oracle import (
        oracle_asof,
        oracle_backfill,
        oracle_hamming,
        oracle_lag_lead,
        oracle_rolling_stats,
        oracle_sessionize,
    )

    # nullable Int64 keeps all 64 phash bits through the lag shift
    st = images[["image_id", "ts", "version", "phash"]].astype({"phash": "Int64"})
    st = oracle_lag_lead(st, "image_id", "ts", "phash")
    st["phash_hamming"] = (
        oracle_hamming(st["phash"], st["phash_lag1"]).fillna(0).astype(float)
    )
    st["session_id"] = oracle_sessionize(st, "image_id", "ts", GAP_SECONDS)[
        "session_id"
    ].astype(float)
    st["n_in_session_so_far"] = oracle_rolling_stats(
        st, "image_id", "ts", "version", ROLL_ROWS
    )["version_roll_count"].astype(float)
    atol_px = 1e-9
    if decode:
        from modlyn_spark.sources.images import reference_pixels

        means = {}
        for eid, v in zip(st["image_id"], st["version"] % 2):
            if (eid, v) not in means:
                means[(eid, v)] = float(reference_pixels(eid, int(v)).mean())
        st["px_mean_raw"] = [
            means[(e, v)] for e, v in zip(st["image_id"], st["version"] % 2)
        ]
        # lossy formats (qpng, jpeg) shift the decoded mean by a few
        # quantization steps; png is lossless and must match exactly
        atol_px = 2.0
    else:
        # Spark's % truncates toward zero like C fmod
        st["px_mean_raw"] = np.where(
            st["version"] % 2 == 1, np.fmod(st["phash"], 256).astype(float), np.nan
        )
    st = oracle_backfill(st, "image_id", "ts", "px_mean_raw")
    st["px_mean_ffill"] = st["px_mean_raw_ffill"].fillna(0.0)
    st["state_ts"] = st["ts"]
    payload = [
        "phash_hamming", "version", "session_id", "n_in_session_so_far",
        "px_mean_ffill", "state_ts",
    ]
    j = oracle_asof(requests, st, "image_id", "feature_ts", "ts", payload)
    matched = j["state_ts"].notna().to_numpy()
    age = (j["feature_ts"] - j["state_ts"]).dt.total_seconds().to_numpy()
    cols = [
        j["phash_hamming"], j["version"], j["session_id"],
        j["n_in_session_so_far"], j["px_mean_ffill"],
    ]
    X = np.column_stack([c.astype(float).to_numpy() for c in cols] + [age])
    X[~matched] = -1.0
    atol = np.array([1e-9, 1e-9, 1e-9, 1e-9, atol_px, 1e-6])
    return X, atol


# ---------------------------------------------------------------------------
# scoring workload: Poisson count matrix
# ---------------------------------------------------------------------------


def make_counts(p: dict, seed: int) -> pd.DataFrame:
    """cells x genes Poisson counts; each class lifts its own block of
    ``informative`` genes, the remaining genes share a per-gene mean."""
    rng = np.random.default_rng(seed)
    n, g, k = p["cells"], p["genes"], p["classes"]
    base = rng.lognormal(mean=0.5, sigma=0.8, size=g)
    y = rng.integers(0, k, size=n)
    lam = np.tile(base, (n, 1))
    inf = p["informative"]
    genes = rng.permutation(g)
    for c in range(k):
        block = genes[(c * inf) % g : (c * inf) % g + inf]
        lam[np.ix_(y == c, block)] *= 3.0
    X = rng.poisson(lam).astype(np.float32)
    cell_ids = np.char.add("cell_", rng.choice(10**12, n, replace=False).astype(str))
    return pd.DataFrame(
        {
            "cell_id": cell_ids,
            "cell_type": np.array([f"type_{c:02d}" for c in range(k)])[y],
            "features": list(X),
        }
    )


def oracle_scores(counts: pd.DataFrame, p: dict) -> dict:
    """Expected select_counts outputs from the pandas oracle."""
    from modlyn_spark.oracle.pandas_oracle import (
        oracle_f_statistic,
        oracle_jaccard,
        oracle_logreg,
        oracle_wilcoxon,
    )
    from modlyn_spark.scoring.logreg import assign_batches_pandas

    X = np.stack(counts["features"].to_numpy()).astype(np.float64)
    labels = counts["cell_type"]
    n_batches = max(len(counts) // p["batch_rows"], 1)
    bids = assign_batches_pandas(counts, ["cell_id"], n_batches)
    w_long, losses = oracle_logreg(
        X, labels, bids, max_steps=p["max_steps"], n_epochs=1
    )
    W = w_long.pivot(index="label", columns="pos", values="weight")
    f = oracle_f_statistic(X, labels)["f_stat"].to_numpy()
    z = oracle_wilcoxon(X, labels).pivot(index="label", columns="pos", values="z")
    mats = score_matrices(W.to_numpy(), f, z.to_numpy(), list(W.index))
    jac = oracle_jaccard(mats, p["n_top"])["jaccard"].to_numpy()
    return {"W": W.to_numpy(), "f": f, "z": z.to_numpy(), "jaccard": jac}


def score_matrices(W, f, z, classes) -> list[pd.DataFrame]:
    """The three classes x genes score matrices CompareScores compares. The
    F-statistic is one score per gene, so its row repeats for every class."""
    cols = [f"g{j:04d}" for j in range(W.shape[1])]
    out = []
    for name, m in (
        ("modlyn_logreg", W),
        ("f_statistic", np.tile(f, (len(classes), 1))),
        ("wilcoxon", z),
    ):
        df = pd.DataFrame(m, index=classes, columns=cols)
        df.attrs["method_name"] = name
        out.append(df)
    return out


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def ensure_inputs(cache_root: str, workload: str, spec: dict, seed: int) -> dict:
    """Generate (once) and return paths of the inputs and oracle results."""
    import hashlib

    # the generator's own source is part of the key: a changed generator
    # must not reuse inputs it no longer makes
    with open(__file__, "rb") as fh:
        tag = hashlib.sha1(fh.read())
    tag.update(json.dumps(spec["params"], sort_keys=True).encode())
    tag = tag.hexdigest()
    d = os.path.join(cache_root, f"{workload}-{tag[:10]}-seed{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return {**json.load(fh), "dir": os.path.abspath(d)}
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    p = spec["params"]
    if spec["kind"] == "pit":
        images = make_images(p, seed)
        requests = make_requests(images, seed)
        _write(images, os.path.join(tmp, "images.parquet"))
        _write(requests, os.path.join(tmp, "requests.parquet"))
        X, atol = oracle_features(images, requests, bool(p.get("decode")))
        np.savez(
            os.path.join(tmp, "expected.npz"),
            X=X, atol=atol,
            image_id=requests["image_id"].to_numpy(dtype=str),
            feature_us=requests["feature_ts"].astype("int64").to_numpy() // 1000,
            label=requests["label"].to_numpy(dtype=str),
        )
        meta = {"input_rows": len(images) + len(requests)}
    else:
        counts = make_counts(p, seed)
        _write(counts, os.path.join(tmp, "counts.parquet"))
        np.savez(os.path.join(tmp, "expected.npz"), **oracle_scores(counts, p))
        meta = {"input_rows": len(counts)}
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return {**meta, "dir": os.path.abspath(d)}
