"""One measured Spark process: set up, run the cold job, then the loop.

Started fresh by run.py for every run, so its session set-up and first job
are what a spark-submit caller pays. Untraced (``trace=0``): one closed-loop
client runs the workload's job back to back for ``seconds``. Traced
(``trace=1``): untraced and traced jobs alternate for ``seconds``; the
traced ones give the per-layer numbers, the pair gives the tracing overhead.

Usage: python3 worker.py <config.json>  (written by run.py)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np

from jobs import pit_job, select_job
from spans import LAYERS, StageMetrics, Tracer, self_times, task_skew


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident memory) over this process and all its
    live descendants: the JVM, the Python worker daemons and workers."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    total_kb, frontier = 0, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        frontier.extend(c for c, pp in parent.items() if pp == pid)
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(
                    int(line.split()[1]) for line in fh if line.startswith("VmHWM:")
                )
        except (OSError, StopIteration):
            continue
    return total_kb / 1024.0


def _manifest(path: str) -> dict:
    out = {}
    for f in glob.glob(os.path.join(path, "_manifest", "bucket-*.json")):
        with open(f) as fh:
            rec = json.load(fh)
        out[str(rec["bucket"])] = [rec["rows"], rec["content_hash"]]
    return out


def _pit_output(out_dir: str) -> dict:
    import pyarrow.parquet as pq

    scores = pq.read_table(os.path.join(out_dir, "scores")).to_pandas()
    return {
        "manifest": _manifest(os.path.join(out_dir, "features")),
        "f": scores.sort_values("pos")["f_stat"].to_numpy(),
    }


def _same(a: dict, b: dict) -> bool:
    """Exact manifest content hashes; allclose for score arrays."""
    for k, v in a.items():
        if k == "manifest":
            if v != b[k]:
                return False
        elif k != "steps" and not np.allclose(v, b[k], rtol=1e-9, atol=1e-12):
            return False
    return True


class Worker:
    def __init__(self, cfg: dict, spark):
        self.cfg = cfg
        self.spark = spark
        self.p = cfg["params"]
        self.meta = cfg["meta"]
        self.work = cfg["work_dir"]
        self.stats = StageMetrics(spark)
        self.reference = None
        self.runs: list[dict] = []
        self.layer_runs: list[dict] = []
        self.spans: list[dict] = []

    def run_once(self, k: int, traced: bool) -> dict:
        """Run job ``k`` (0 is the cold job) and check its output: the cold
        output is kept for run.py's oracle check, later outputs must match
        it (exact manifest content hashes, allclose scores)."""
        out_dir = os.path.join(self.work, f"run{k}")
        tr = Tracer(self.spark, f"run{k}", traced)
        rec = {"k": k, "traced": traced, "ok": False}
        self.stats.settle()
        shuffle0 = self.stats.shuffle_written()
        t0 = time.perf_counter()
        try:
            if self.cfg["kind"] == "pit":
                h = pit_job(self.spark, self.meta, self.p, out_dir, tr)
            else:
                h = select_job(self.spark, self.meta, self.p, tr)
            rec["wall_s"] = time.perf_counter() - t0
            self.spark.sparkContext.setJobGroup("check", "check")
            out = _pit_output(out_dir) if self.cfg["kind"] == "pit" else h
            if k == 0:
                self.reference = out
                if self.cfg["kind"] == "select":
                    np.savez(os.path.join(self.work, "cold.npz"),
                             **{n: v for n, v in out.items() if n != "steps"})
                rec["ok"] = True
            else:
                rec["ok"] = self.reference is not None and _same(out, self.reference)
            m = self.stats.for_groups(tr.groups(), task_times=traced)
            rec["core_s"] = sum(g["run_ms"] for g in m.values()) / 1000.0
            rec["shuffle_bytes"] = sum(g["shuffle_write"] for g in m.values())
            # the per-stage account must agree with the executor totals
            written = self.stats.shuffle_written() - shuffle0
            if written != rec["shuffle_bytes"]:
                raise RuntimeError(
                    f"stage metrics count {rec['shuffle_bytes']} shuffle bytes, "
                    f"the executors wrote {written}"
                )
            if traced:
                self.spans.extend(tr.spans)
                layers = self._layer_metrics(tr, m, h, out_dir)
                rec["ok"] = rec["ok"] and layers.pop("_leak_rows") == 0
                self.layer_runs.append(layers)
        except Exception:
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["ok"] = False
            rec["error"] = traceback.format_exc()
        finally:
            tr.release()
            if k > 0:
                shutil.rmtree(out_dir, ignore_errors=True)
        return rec

    def _layer_metrics(self, tr: Tracer, m: dict, h: dict, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        cores = self.cfg["cores"]
        selfs = self_times(tr.spans)
        by_name: dict[str, dict] = {}
        for s in tr.spans:
            g = m[s["group"]]
            acc = by_name.setdefault(s["name"], {
                "jobs": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
                "shuffle_write": 0, "spill": 0, "input_bytes": 0, "task_ms": [],
            })
            for key in acc:
                if key == "task_ms":
                    if sum(g["task_ms"]) > sum(acc["task_ms"]):
                        acc["task_ms"] = g["task_ms"]
                else:
                    acc[key] += g[key]
        out: dict[str, float] = {}
        for name in LAYERS:
            acc = by_name.get(name)
            if acc is None:
                continue
            self_s = selfs[name]
            core_s = acc["run_ms"] / 1000.0
            out.update({
                f"{name}.self_s": self_s,
                f"{name}.core_s": core_s,
                f"{name}.core_util": core_s / (self_s * cores) if self_s > 0 else 0.0,
                f"{name}.shuffle_mb": acc["shuffle_write"] / 1e6,
                f"{name}.spill_mb": acc["spill"] / 1e6,
                f"{name}.tasks": acc["tasks"],
                f"{name}.task_skew": task_skew(acc["task_ms"]),
                f"{name}.failed_tasks": acc["failed_tasks"],
            })
        out["_leak_rows"] = 0
        if "sources.catalog" in by_name:
            out["sources.catalog.input_mb"] = by_name["sources.catalog"]["input_bytes"] / 1e6
        if "eval.jaccard" in selfs:
            out["eval.jaccard.self_s"] = selfs["eval.jaccard"]
        if self.cfg["kind"] == "select":
            steps = h["steps"]
            acc = by_name["scoring.logreg"]
            out.update({
                "scoring.logreg.steps": steps,
                "scoring.logreg.step_ms": 1000.0 * selfs["scoring.logreg"] / steps,
                "scoring.logreg.jobs_per_step": acc["jobs"] / steps,
                "scoring.logreg.tasks_per_step": acc["tasks"] / steps,
            })
            return out
        # row counts on the cached layer outputs, outside every span
        n_images = h["images"].count()
        n_state = h["state"].count()
        n_probe = h["requests"].count()
        matched = F.element_at("features", 2) >= 0
        n_match = h["feats"].where(matched).count()
        out["_leak_rows"] = h["feats"].where(
            matched & (F.element_at("features", 6) < 0)
        ).count()
        out.update({
            "operators.windows.rows_in": n_images,
            "operators.windows.rows_out": n_state,
            "operators.asof.probe_rows": n_probe,
            "operators.asof.state_rows": n_state,
            "operators.asof.match_frac": n_match / n_probe,
            "sources.checkpoint.rows_written": h["checkpoint"]["rows_written"],
            "sources.checkpoint.bytes_written": sum(
                os.path.getsize(f)
                for f in glob.glob(os.path.join(out_dir, "features", "*", "*.parquet"))
            ),
            "sources.checkpoint.buckets": len(h["checkpoint"]["computed"]),
        })
        if "px" in h:
            n_px = h["px"].count()
            # images without stats, or decoded to another size than stored
            bad = (
                h["images"]
                .select("image_id", F.col("version").alias("ts_version"), "w", "h")
                .join(h["px"], ["image_id", "ts_version"], "left")
                .where(
                    F.col("px_mean").isNull()
                    | (F.col("dec_w") != F.col("w"))
                    | (F.col("dec_h") != F.col("h"))
                )
                .count()
            )
            out.update({
                "functions.image.images": n_px,
                "functions.image.us_per_image": 1e6 * selfs["functions.image"] / n_px,
                "functions.image.decode_fail": bad,
            })
        return out

    def loop(self, seconds: float, trace: bool) -> None:
        self.runs.append(self.run_once(0, False))  # cold job
        deadline = time.perf_counter() + seconds
        k = 1
        while True:
            self.runs.append(self.run_once(k, trace and k % 2 == 0))
            k += 1
            done = time.perf_counter() >= deadline
            if done and (not trace or k > 2):
                break


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    from modlyn_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cfg['cores']}]",
        extra=cfg["spark_conf"],
    )
    t_ready = time.time()
    w = Worker(cfg, spark)
    w.loop(cfg["seconds"], cfg["trace"])
    peak_mb = peak_rss_mb()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    result = {
        "setup_s": t_ready - cfg["t_spawn"],
        "peak_rss_mb": peak_mb,
        "runs": w.runs,
        "layers": w.layer_runs,
        "spans": w.spans,
    }
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
