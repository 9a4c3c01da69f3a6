"""modlyn_spark benchmark: point-in-time and feature-selection workloads.

    python3 perfbench/run.py --workload pit_decode --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Inputs are generated from the seed (cached
under .perfbench/cache) and checked against the pandas oracle; the job runs
in a fresh Spark process (local[<cores>], one closed-loop client). The last
line of stdout is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# unit of every metric; BENCHMARK.json lists the same names
E2E_UNITS = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "cold_job_s": "s",
    "core_s_per_mrow": "s/Mrow",
    "shuffle_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}
COMMON = {
    "self_s": "s", "core_s": "s", "core_util": "ratio", "shuffle_mb": "MB",
    "spill_mb": "MB", "tasks": "count", "task_skew": "ratio",
    "failed_tasks": "count",
}
SPECIFIC = {
    "sources.catalog.input_mb": "MB",
    "operators.windows.rows_in": "rows",
    "operators.windows.rows_out": "rows",
    "operators.asof.probe_rows": "rows",
    "operators.asof.state_rows": "rows",
    "operators.asof.match_frac": "ratio",
    "functions.image.images": "count",
    "functions.image.us_per_image": "us",
    "functions.image.decode_fail": "count",
    "sources.checkpoint.rows_written": "rows",
    "sources.checkpoint.bytes_written": "B",
    "sources.checkpoint.buckets": "count",
    "scoring.logreg.steps": "count",
    "scoring.logreg.step_ms": "ms",
    "scoring.logreg.jobs_per_step": "count",
    "scoring.logreg.tasks_per_step": "count",
    "eval.jaccard.self_s": "s",
    "trace.overhead_s": "s",
}


def layer_units() -> dict:
    from spans import LAYERS

    units = {f"{l}.{m}": u for l in LAYERS for m, u in COMMON.items()}
    units.update(SPECIFIC)
    return units


def _layer(metric: str) -> str:
    return metric.rsplit(".", 1)[0]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spawn_worker(cfg: dict, work: str, timeout: float) -> dict:
    """Run worker.py as a fresh process and wait for it and every process it
    started to end."""
    state = os.path.join(ROOT, ".perfbench")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["SPARK_GRAFT_CPUS"] = str(cfg["cores"])
    env["SPARK_DRIVER_MEMORY"] = "2g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    env["TMPDIR"] = os.path.join(state, "tmp")
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    )
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    cfg["spark_conf"] = {
        "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    cfg["result"] = os.path.join(work, "result.json")
    cfg_path = os.path.join(work, "config.json")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log = open(os.path.join(work, "worker.log"), "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the worker leads a process group holding the JVM and Python workers
        _kill_group(proc.pid)
        log.close()
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(os.path.join(work, "worker.log")) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker exited with {rc}:\n{tail}")
    with open(cfg["result"]) as fh:
        return json.load(fh)


def _kill_group(pgid: int) -> None:
    """Wait for every process of the worker's group to end; kill what is
    left after 30 s."""
    import signal

    deadline = time.time() + 30
    while True:
        _reap()
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            os.killpg(pgid, signal.SIGKILL)
        time.sleep(0.1)


def _reap() -> None:
    """Collect exited children, including orphans re-parented to us."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _become_subreaper() -> None:
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def verify_cold(kind: str, meta: dict, work: str) -> tuple[bool, int, str]:
    """Check the cold job's output against the oracle's expectation.
    Returns (ok, temporal-leakage rows, reason)."""
    import numpy as np

    exp = np.load(os.path.join(meta["dir"], "expected.npz"))
    if kind == "select":
        got = np.load(os.path.join(work, "cold.npz"))
        for k in ("W", "f", "z", "jaccard"):
            if not np.allclose(got[k], exp[k], rtol=1e-6, atol=1e-9):
                return False, 0, f"{k} differs from the oracle"
        return True, 0, ""
    import pandas as pd
    import pyarrow.parquet as pq

    from modlyn_spark.oracle.pandas_oracle import oracle_f_statistic

    out = os.path.join(work, "run0")
    files = glob.glob(os.path.join(out, "features", "__ckpt_bucket=*", "*.parquet"))
    got = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
    epoch = pd.Timestamp(0, tz="UTC")
    got["feature_us"] = (
        pd.to_datetime(got["feature_ts"], utc=True) - epoch
    ) // pd.Timedelta(microseconds=1)
    want = pd.DataFrame({
        "image_id": exp["image_id"], "feature_us": exp["feature_us"],
        "label": exp["label"], "row": np.arange(len(exp["label"])),
    })
    m = want.merge(got, on=["image_id", "feature_us"], how="left",
                   suffixes=("", "_got"), validate="one_to_one")
    if len(got) != len(want) or m["features"].isna().any():
        return False, 0, "output rows do not match the requests"
    if (m["label"] != m["label_got"]).any():
        return False, 0, "labels differ"
    G = np.stack(m["features"].to_numpy())
    E = exp["X"][m["row"].to_numpy()]
    leak = int(((G[:, 1] >= 0) & (G[:, 5] < 0)).sum())
    if not (np.abs(G - E) <= exp["atol"] + 1e-9 * np.abs(E)).all():
        return False, leak, "features differ from the oracle"
    scores = pq.read_table(os.path.join(out, "scores")).to_pandas()
    f_exp = oracle_f_statistic(G, m["label"])["f_stat"].to_numpy()
    if not np.allclose(scores.sort_values("pos")["f_stat"].to_numpy(), f_exp):
        return False, leak, "F-statistics differ from the oracle"
    return leak == 0, leak, "temporal leakage" if leak else ""


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _tail(walls: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile of job time with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return None, None
    return sorted(walls)[n - 11], 100.0 * (n - 10) / n


def end_to_end(res: dict, meta: dict) -> tuple[dict, str]:
    rows = meta["input_rows"]
    # timings of every warm job that ran to the end; correctness is
    # reported separately through failed/attempted
    warm = [r for r in res["runs"][1:] if "core_s" in r]
    if not warm:
        raise RuntimeError("no warm job completed")
    walls = [r["wall_s"] for r in warm]
    med = statistics.median(walls)
    values = {
        "rows_per_s": rows / med,
        "setup_s": res["setup_s"],
        "cold_job_s": res["runs"][0]["wall_s"],
        "core_s_per_mrow": statistics.median(r["core_s"] for r in warm) / rows * 1e6,
        "shuffle_bytes_per_row": statistics.median(r["shuffle_bytes"] for r in warm) / rows,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    tail, pct = _tail(walls)
    note = (
        f"rows_per_s median {values['rows_per_s']:.1f} over n={len(walls)} warm jobs; "
        + (f"p{pct:.0f} {rows / tail:.1f}" if tail else "too few jobs for a tail percentile")
    )
    return values, note


def per_layer(res: dict, layers: tuple) -> dict:
    """Medians over the traced jobs. A layer of ``layers`` that a traced job
    did not report, or a layer outside them that one did, is an error;
    layers outside them report 0."""
    units = layer_units()
    if not res["layers"]:
        raise RuntimeError("no traced job completed")
    for lr in res["layers"]:
        missing = sorted(n for n in units if _layer(n) in layers and n not in lr)
        extra = sorted(n for n in lr if _layer(n) not in layers)
        if missing or extra:
            raise RuntimeError(
                f"traced job did not report {missing}; reported {extra}, "
                f"which this workload does not run"
            )
    values = {}
    for name in units:
        xs = [lr[name] for lr in res["layers"] if name in lr]
        values[name] = statistics.median(xs) if xs else 0.0
    traced = [r["wall_s"] for r in res["runs"][1:] if r["traced"] and "core_s" in r]
    plain = [r["wall_s"] for r in res["runs"][1:] if not r["traced"] and "core_s" in r]
    if not traced or not plain:
        raise RuntimeError("no traced/untraced job pair completed")
    values["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return values


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    from inputs import ensure_inputs
    from workloads import WORKLOADS

    t0 = time.time()
    spec = dict(WORKLOADS[workload])
    spec["params"] = spec["smoke" if smoke else "params"]
    state = os.path.join(ROOT, ".perfbench")
    meta = ensure_inputs(
        os.path.join(state, "cache"), workload + ("-smoke" if smoke else ""),
        spec, seed,
    )
    work = os.path.join(state, "work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cfg = {
            "kind": spec["kind"], "params": spec["params"], "meta": meta,
            "seconds": seconds, "trace": trace, "cores": cores(),
            "work_dir": work,
        }
        res = spawn_worker(cfg, work, timeout=max(170 - (time.time() - t0), 30))
        if res["runs"][0]["ok"]:
            ok, leak, why = verify_cold(spec["kind"], meta, work)
        else:
            ok, leak, why = False, 0, "the cold job raised"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    runs = res["runs"]
    errors = [r["error"] for r in runs if "error" in r]
    for e in errors[:1]:
        print(e, file=sys.stderr)
    if not ok:
        print(f"cold job output failed the oracle check: {why}", file=sys.stderr)
        for r in runs:
            r["ok"] = False  # every run was compared against the cold output
    failed = sum(not r["ok"] for r in runs)
    if trace:
        values, units = per_layer(res, spec["layers"]), layer_units()
        spans_path = os.path.join(state, "traces", f"{workload}-seed{seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as fh:
            json.dump(res["spans"], fh)
        print(f"{workload}: spans written to {spans_path}", file=sys.stderr)
    else:
        values, note = end_to_end(res, meta)
        units = E2E_UNITS
        print(f"{workload}: {note}; leakage rows {leak}; "
              f"failed_frac {failed / len(runs):.3f}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def smoke() -> int:
    """Every workload once on tiny inputs, untraced and traced: every metric
    BENCHMARK.json names must be printed, and every layer a workload runs
    must report its metrics (``per_layer`` raises otherwise)."""
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bad = []
    for w in WORKLOADS:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            try:
                out = run(w, 0, 1, trace, smoke=True)
            except RuntimeError as e:
                bad.append((w, trace, str(e)))
                continue
            print(json.dumps({"workload": w, "trace": int(trace), **out}))
            missing = {m["name"] for m in bench[key]} - set(out["metrics"])
            if missing or not out["correct"]:
                bad.append((w, trace, sorted(missing), out["failed"]))
    print(json.dumps({"smoke_ok": not bad, "problems": bad}))
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "modlyn_spark", "__init__.py")):
        print(f"modlyn_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    _become_subreaper()
    if args.smoke:
        return smoke()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), smoke=False)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
