"""Spans around layer calls, and Spark stage metrics attributed to them.

Each span sets its own Spark job group, so every job a layer call starts is
attributed to that span. Stage metrics are read after the run from the
application status store (works with the UI off).
"""

from __future__ import annotations

import contextlib
import statistics
import time

# layers measured with Spark stage metrics, named after their modules
LAYERS = (
    "sources.catalog", "functions.image", "operators.windows", "operators.asof",
    "sources.checkpoint", "scoring.logreg", "scoring.fstat", "scoring.wilcoxon",
)


class Tracer:
    """Records spans in memory and forces each layer's output.

    ``traced=False`` makes ``span`` only tag the job group of the whole job
    and ``force`` a no-op, which is the untraced job a user would run.
    """

    def __init__(self, spark, group: str, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.group = group
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list = []
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        rec = {
            "name": name,
            "group": f"{self.group}/{len(self.spans)}:{name}",
            "parent": self._stack[-1]["group"] if self._stack else self.group,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(rec["parent"], rec["parent"])

    def force(self, df):
        """Traced: persist the layer's output and materialize it, so the
        next layer starts from its cached input. Untraced: unchanged."""
        if self.traced:
            df = df.persist()
            df.count()
            self._cached.append(df)
        return df

    def expect_cached(self, df, cached, what: str) -> None:
        """Traced: fail unless ``df``'s plan reads the persisted output of
        ``cached`` instead of computing it again, so the span holds only its
        own layer's work. Untraced: nothing is persisted, nothing to check."""
        if not self.traced:
            return
        cache = cached.sparkSession._jsparkSession.sharedState().cacheManager()
        entry = cache.lookupCachedData(cached._jdf)
        if not entry.isDefined():
            raise RuntimeError(f"the {what} are not persisted")
        target = entry.get().cachedRepresentation()
        it = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
        while it.hasNext():
            leaf = it.next()
            if (
                leaf.getClass().getSimpleName() == "InMemoryRelation"
                and leaf.cacheBuilder().equals(target.cacheBuilder())
            ):
                return
        raise RuntimeError(f"traced plan recomputes the {what} instead of reading its cache")

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self.sc.setJobGroup("idle", "idle")

    def groups(self) -> list[str]:
        return [self.group] + [s["group"] for s in self.spans]


class StageMetrics:
    """Stage metrics of the jobs in a job group, from the status store.

    A job lists every ancestor stage of its result, including stages an
    earlier job already ran. Each (stage, attempt) is therefore charged
    once, to the first job (lowest job id) that lists it, which is the job
    that ran it; ``claimed`` remembers the charged ones across calls.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.jvm = self.sc._jvm
        self.gw = self.sc._gateway
        self.claimed: set[tuple[int, int]] = set()

    def settle(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self.bus.waitUntilEmpty()

    def shuffle_written(self) -> int:
        """Shuffle bytes written by every task so far, from the executor
        totals: an account kept apart from the per-stage one."""
        it = self.store.executorList(True).iterator()
        total = 0
        while it.hasNext():
            total += it.next().totalShuffleWrite()
        return total

    def _stages(self) -> dict:
        lst = self.store.stageList(
            self.jvm.java.util.ArrayList(),
            False,
            False,
            self.gw.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )
        out: dict[int, list] = {}
        for i in range(lst.size()):
            s = lst.apply(i)
            out.setdefault(s.stageId(), []).append(s)
        return out

    def for_groups(self, groups: list[str], task_times: bool = False) -> dict:
        """group -> summed stage metrics of its jobs; with ``task_times`` the
        per-task durations of the group's costliest stage are included."""
        self.settle()
        stages = self._stages()
        res = {
            g: {
                "jobs": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
                "shuffle_write": 0, "spill": 0, "input_bytes": 0, "task_ms": [],
            }
            for g in groups
        }
        top: dict[str, object] = {}
        jobs = sorted(
            (jid, g) for g in groups for jid in self.tracker.getJobIdsForGroup(g)
        )
        for jid, g in jobs:
            acc = res[g]
            acc["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            for sid in list(info.stageIds) if info else []:
                for s in stages.get(sid, []):
                    key = (sid, s.attemptId())
                    if key in self.claimed:
                        continue
                    self.claimed.add(key)
                    acc["tasks"] += s.numCompleteTasks()
                    acc["failed_tasks"] += s.numFailedTasks()
                    acc["run_ms"] += s.executorRunTime()
                    acc["shuffle_write"] += s.shuffleWriteBytes()
                    acc["spill"] += s.diskBytesSpilled()
                    acc["input_bytes"] += s.inputBytes()
                    t = top.get(g)
                    if t is None or s.executorRunTime() > t.executorRunTime():
                        top[g] = s
        if task_times:
            for g, t in top.items():
                tl = self.store.taskList(t.stageId(), t.attemptId(), 100000)
                res[g]["task_ms"] = [
                    tl.apply(i).duration().get()
                    for i in range(tl.size())
                    if tl.apply(i).duration().isDefined()
                ]
        return res


def task_skew(task_ms: list) -> float:
    """Longest task over median task, in the span's costliest stage."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 1.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part covered by its child spans, summed per
    span name."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child.get(s["group"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
