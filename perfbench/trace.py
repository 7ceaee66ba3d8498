"""Spans recorded around calls into the engine, and Spark's own
counters attributed to them through job groups.

A span is (id, name, start, end, parent, qid): ``qid`` ties the spans
of one query run together. Spans live in memory and are written out
once, at exit (``Tracer.dump``). A layer's self time is its span's
duration minus the part covered by its child spans.

Spark counters are read from the status store, which works with the
UI disabled: ``statusTracker().getJobIdsForGroup(g)`` gives the jobs a
job group ran, ``statusStore().job(id)`` their stages and times, and
``statusStore().lastStageAttempt(id)`` each stage's task metrics. The
store keeps only the most recent stages (``spark.ui.retainedStages``,
1000 by default), so callers read a group right after it ran.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, qid: str | None = None):
        sid = len(self.spans)
        self.spans.append((sid, name, time.perf_counter(), None, parent, qid))
        try:
            yield sid
        finally:
            s = self.spans[sid]
            self.spans[sid] = (sid, name, s[2], time.perf_counter(), parent, qid)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            qid: str | None = None) -> int:
        sid = len(self.spans)
        self.spans.append((sid, name, start, end, parent, qid))
        return sid

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "name", "start", "end", "parent", "qid")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkCounters:
    """Reads one job group's jobs, stages and task metrics."""

    SKEW_MIN_TASKS = 20

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self._sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.95
        self._quantiles[1] = 1.0

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the group's finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict:
        c = dict(jobs=0, job_s=0.0, stages=0, tasks=0, task_run_s=0.0,
                 task_cpu_s=0.0, gc_s=0.0, input_mb=0.0, shuffle_write_mb=0.0,
                 shuffle_read_mb=0.0, spill_mb=0.0, skew_max_p95=0.0,
                 job_ids=[], stage_ids=[])
        mb = float(1 << 20)
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            c["jobs"] += 1
            c["job_ids"].append(jid)
            t0, t1 = _opt(job.submissionTime()), _opt(job.completionTime())
            if t0 is not None and t1 is not None:
                c["job_s"] += (t1.getTime() - t0.getTime()) / 1000.0
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["stage_ids"].append(sid)
                c["tasks"] += st.numCompleteTasks()
                c["task_run_s"] += st.executorRunTime() / 1000.0
                c["task_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1000.0
                c["input_mb"] += st.inputBytes() / mb
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
                c["shuffle_read_mb"] += st.shuffleReadBytes() / mb
                c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb
                if st.numCompleteTasks() >= self.SKEW_MIN_TASKS:
                    dist = _opt(self._store.taskSummary(sid, st.attemptId(), self._quantiles))
                    if dist is not None:
                        run = dist.executorRunTime()
                        p95, mx = run.apply(0), run.apply(1)
                        if p95 > 0:
                            c["skew_max_p95"] = max(c["skew_max_p95"], mx / p95)
        return c


def attribution_selftest(spark, counters: SparkCounters, tracer: Tracer, fails) -> None:
    """Two different queries back to back under their own job groups:
    each group must see only its own jobs and stages, the shuffling
    query nonzero shuffle bytes and the narrow one none. Then every
    traced query's compose/plan/execute spans must tile its wall."""
    from pyspark.sql import functions as F

    shuffling = spark.range(0, 200_000, 1, 4).groupBy((F.col("id") % 97).alias("k")).count()
    narrow = spark.range(0, 100_000, 1, 3).select((F.col("id") * 2).alias("v")).filter("v % 3 = 0")
    got = {}
    for name, df in (("selftest-shuffling", shuffling), ("selftest-narrow", narrow)):
        counters.set_group(name)
        try:
            df.write.mode("overwrite").format("noop").save()
        finally:
            counters.set_group(None)
        counters.drain()
        got[name] = counters.group(name)
    a, b = got["selftest-shuffling"], got["selftest-narrow"]
    checks = {
        "both groups ran jobs": a["jobs"] > 0 and b["jobs"] > 0,
        "job ids disjoint": not set(a["job_ids"]) & set(b["job_ids"]),
        "stage ids disjoint": not set(a["stage_ids"]) & set(b["stage_ids"]),
        "shuffle bytes where expected": a["shuffle_write_mb"] > 0 and a["shuffle_read_mb"] > 0
        and b["shuffle_write_mb"] == 0 and b["shuffle_read_mb"] == 0,
    }
    # Spans of one query share its qid; phases are the query's children.
    children: dict[int, float] = {}
    for s in tracer.spans:
        if s[1] in ("compose", "plan", "execute"):
            children[s[4]] = children.get(s[4], 0.0) + (s[3] - s[2])
    worst = 0.0
    for s in tracer.spans:
        if s[1] == "query":
            gap = abs((s[3] - s[2]) - children.get(s[0], 0.0))
            worst = max(worst, gap - max(0.05 * (s[3] - s[2]), 0.005))
    checks["phase spans tile each query"] = worst <= 0.0
    for what, ok in checks.items():
        fails.attempted += 1
        if not ok:
            fails.fail(f"attribution selftest: {what}", json.dumps({"a": a, "b": b})[:400])
