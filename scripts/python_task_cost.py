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
    python scripts/python_task_cost.py --early-stop     # unread input

``--early-stop`` gives every task ``EARLY_STOP_ROWS`` input rows and
prints the same two medians for a function that returns after the first
row next to one that reads them all. pyspark drops a worker whose task
left input unread, so the next task forks a new one: the trainer's
step-group task drains its partition for this reason, and a gap between
the two numbers shows the cost of forgetting to.

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

# input rows per task under --early-stop: many more than one pickled batch,
# so a task that reads one row leaves input unread
EARLY_STOP_ROWS = 20000


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


def _first(rows):
    yield next(iter(rows), None)


def _drained(rows):
    yield sum(1 for _ in rows)


def _measure(sc, rdd, fn, repeats: int, tag: str) -> dict:
    """Median per-task executorRunTime and job wall time of ``repeats``
    runs of ``fn`` over every partition of ``rdd``."""
    walls, run_ms = [], []
    for r in range(repeats):
        group = f"python-task-cost-{tag}-{r}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        sc.runJob(rdd, fn)
        walls.append(time.perf_counter() - t0)
        run_ms += _task_run_ms(sc, group)
    return {
        "median_task_run_ms": statistics.median(run_ms),
        "median_job_wall_s": round(statistics.median(walls), 3),
    }


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
    ap.add_argument(
        "--early-stop",
        action="store_true",
        help="time tasks that return before reading their input against "
        "tasks that drain it",
    )
    args = ap.parse_args()
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.default_daemon:
        extra["spark.python.daemon.module"] = "pyspark.daemon"
    spark = get_spark("python-task-cost", master=args.master, extra=extra)
    sc = spark.sparkContext
    out = {
        "master": sc.master,
        "daemon": sc.getConf().get("spark.python.daemon.module", "pyspark.daemon"),
        "python": sys.version.split()[0],
        "pyspark": spark.version,
        "tasks": args.tasks,
        "repeats": args.repeats,
    }
    if args.early_stop:
        rdd = sc.parallelize(range(args.tasks * EARLY_STOP_ROWS), args.tasks).cache()
        sc.runJob(rdd, _drained)  # fork every worker and cache the input
        out["rows_per_task"] = EARLY_STOP_ROWS
        out["early_stop"] = _measure(sc, rdd, _first, args.repeats, "early")
        out["drained"] = _measure(sc, rdd, _drained, args.repeats, "drained")
    else:
        rdd = sc.parallelize(range(args.tasks), args.tasks)
        sc.runJob(rdd, _drained)  # fork every worker first
        out.update(_measure(sc, rdd, _drained, args.repeats, "empty"))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
