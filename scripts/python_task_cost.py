"""Fixed cost of one Python task: run an empty N-task Python job a few times.

Starts a session through ``modlyn_spark.get_spark`` (so with the engine's
Python worker daemon), runs ``sc.parallelize(range(N), N)`` through a
no-op Python function ``--repeats`` times, and prints one JSON line with
the median per-task ``executorRunTime`` from Spark's status store and the
median wall time per job. Every task does no work, so both numbers are
pure per-task overhead: a pyspark or Python upgrade that brings back a
per-task cost (such as re-reading zip archives on every task) shows here.

    python scripts/python_task_cost.py                  # engine daemon
    python scripts/python_task_cost.py --default-daemon # Spark's own daemon

The first job (it forks the workers) is not counted.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from modlyn_spark.session import get_spark  # noqa: E402


def _task_run_ms(sc, group: str) -> list[int]:
    """executorRunTime of every task of every job in ``group``."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            stage = tracker.getStageInfo(sid)
            tasks = store.taskList(sid, stage.currentAttemptId, 1 << 30)
            for i in range(tasks.size()):
                metrics = tasks.apply(i).taskMetrics()
                if metrics.isDefined():
                    out.append(metrics.get().executorRunTime())
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tasks", type=int, default=32)
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--master", default=None, help="default: get_spark's")
    ap.add_argument(
        "--default-daemon",
        action="store_true",
        help="use pyspark.daemon instead of the engine's daemon module",
    )
    args = ap.parse_args()
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.default_daemon:
        extra["spark.python.daemon.module"] = "pyspark.daemon"
    spark = get_spark("python-task-cost", master=args.master, extra=extra)
    sc = spark.sparkContext
    rdd = sc.parallelize(range(args.tasks), args.tasks)
    rdd.foreach(lambda _: None)  # fork every worker first
    walls, run_ms = [], []
    for r in range(args.repeats):
        group = f"python-task-cost-{r}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        rdd.foreach(lambda _: None)
        walls.append(time.perf_counter() - t0)
        run_ms += _task_run_ms(sc, group)
    print(
        json.dumps(
            {
                "master": sc.master,
                "daemon": sc.getConf().get("spark.python.daemon.module", "pyspark.daemon"),
                "python": sys.version.split()[0],
                "pyspark": spark.version,
                "tasks": args.tasks,
                "repeats": args.repeats,
                "median_task_run_ms": statistics.median(run_ms),
                "median_job_wall_s": round(statistics.median(walls), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
