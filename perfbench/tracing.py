"""Spans around calls into the engine's layers, with Spark's own counters.

A span tags every job it launches with its own Spark job group. When the
span ends, the tracer drains the listener bus and reads, for the jobs of
that group:

- per-stage numbers from the JVM status store (works with the UI off):
  executor run time, executor CPU time, shuffle write and disk spill;
- Python worker time from the SQL status store, summed over the SQL
  executions whose jobs all belong to the span (this covers actions the
  benchmark cannot reach, such as the parquet write inside
  ``TableStore.commit``);
- job submit/complete times, so a parent span can report the time during
  which no job of its own or of its children was running.

Spans nest: a child span sets its own group and restores the parent's on
exit, and the parent's job set includes its children's. Spans are kept in
memory by the caller and written out at exit.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

MB = float(1 << 20)
# display name of ``pythonTotalTime``, the per-task Python runner time of
# the Arrow eval / map / grouped-map operators
PYTHON_TIME_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _duration_s(text: str) -> float:
    """Parse a formatted SQL timing metric. Multi-task values read
    'total (min, med, max ...)\\n9.3 s (...)'; single values read '925 ms'."""
    line = text.strip().splitlines()[-1]
    m = _DURATION.search(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._stack: list[dict] = []
        self._n = 0
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()

    # -- span lifecycle ---------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the enclosed calls; yields the span dict
        so callers can attach counts."""
        self._n += 1
        rec = {
            "name": name, "id": self._n,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{self._n}", "children": [],
        }
        if self._stack:
            self._stack[-1]["children"].append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["first_execution"] = self._sql().executionsCount()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._collect(rec)

    # -- counters ---------------------------------------------------------
    def _job_ids(self, rec: dict) -> list[int]:
        ids = list(self._sc.statusTracker().getJobIdsForGroup(rec["group"]))
        for child in rec["children"]:
            ids.extend(child["job_ids"])
        return sorted(set(ids))

    def _collect(self, rec: dict) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = self._job_ids(rec)
        stage_ids: set[int] = set()
        intervals = []
        store = self._jsc.statusStore()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((
                    jd.submissionTime().get().getTime() / 1000.0,
                    jd.completionTime().get().getTime() / 1000.0,
                ))
        run_ms = cpu_ns = shuffle_b = spill_b = 0
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            shuffle_b += st.shuffleWriteBytes()
            spill_b += st.diskBytesSpilled()
        rec.update(
            job_ids=jobs,
            jobs=len(jobs),
            exec_run_s=run_ms / 1e3,
            exec_cpu_s=cpu_ns / 1e9,
            shuffle_write_mb=shuffle_b / MB,
            spill_mb=spill_b / MB,
            python_s=self._python_s(rec["first_execution"], set(jobs)),
            driver_gap_s=_uncovered(rec["start"], rec["end"], intervals),
        )

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _python_s(self, first: int, jobs: set[int]) -> float:
        """Python worker time of the SQL executions, started since
        execution number ``first``, whose jobs all belong to ``jobs``."""
        sql = self._sql()
        total = 0.0
        for ex in _seq(sql.executionsList(first, sql.executionsCount() - first)):
            ex_jobs = set()
            it = ex.jobs().keysIterator()
            while it.hasNext():
                ex_jobs.add(int(it.next()))
            if not ex_jobs or not ex_jobs <= jobs:
                continue
            # the list repeats a metric once per plan version (AQE)
            ids = {
                m.accumulatorId() for m in _seq(ex.metrics())
                if m.name() == PYTHON_TIME_METRIC
            }
            values = sql.executionMetrics(ex.executionId()) if ids else None
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += _duration_s(v.get())
        return total


def _uncovered(start: float, end: float, intervals: list[tuple]) -> float:
    """Seconds of [start, end] not covered by any job interval."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)


# -- executed-plan metrics ---------------------------------------------------

def plan_nodes(df) -> list[dict]:
    """Flatten the executed (final AQE) plan of an action already run on
    ``df``: one dict per operator with its name, the index of its parent
    in the list, and its SQL metric values."""
    out: list[dict] = []

    def walk(node, parent: int | None):
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append({"name": node.nodeName(), "parent": parent, "metrics": metrics})
        me = len(out) - 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids = _seq(node.children())
        for k in kids:
            walk(k, me)

    walk(df._jdf.queryExecution().executedPlan(), None)
    return out
