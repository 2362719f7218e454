"""Per-layer numbers for a traced chain run, read from Spark's own status
stores after the listener bus drains (they are kept with the UI off).

Each span ran under its own job group, so a job counts toward exactly one
span.  Stage-level sums come from ``AppStatusStore.lastStageAttempt``;
the bytes the ``mapInPandas`` node exchanged with Python workers come from
the SQL status store's per-node metrics.
"""

from __future__ import annotations

import re
import statistics

from py4j.protocol import Py4JJavaError

from chain import STAGES, Span

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def drain(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _job_stats(sc, group: str) -> dict[str, float]:
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict(jobs=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0, gc_s=0.0,
               shuffle_write_bytes=0, spill_bytes=0)
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else []:
            try:
                sd = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def _size_bytes(text: str) -> float:
    """First size in a formatted SQL size metric ('total (min, med, max
    ...)\\n15.2 MiB (...)' or a bare '15.2 MiB')."""
    m = re.search(r"([\d.]+) (B|KiB|MiB|GiB|TiB)", text.split("\n")[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def python_bytes(spark, group: str) -> float:
    """Bytes sent to plus returned from Python workers by the SQL
    executions described by ``group``."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    for ex in _seq(sql_store.executionsList()):
        if ex.description() != group:
            continue
        wanted = {m.accumulatorId(): m.name() for m in _seq(ex.metrics())
                  if m.name() in _PY_METRICS}
        if not wanted:
            continue
        values = sql_store.executionMetrics(ex.executionId())
        it = values.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in wanted:
                total += _size_bytes(kv._2())
    return total


def _descendants(spans: list[Span], idx: int) -> list[int]:
    out, todo = [], [idx]
    while todo:
        i = todo.pop()
        kids = [j for j, s in enumerate(spans) if s.parent == i]
        out += kids
        todo += kids
    return out


def self_times(spans: list[Span]) -> list[float]:
    """Span duration minus the time its direct children cover."""
    return [
        s.seconds - sum(c.seconds for c in spans if c.parent == i)
        for i, s in enumerate(spans)
    ]


def chain_layers(spark, spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced chain run (no rows_out: those come
    from the output checks)."""
    sc = spark.sparkContext
    drain(sc)
    out: dict[str, float] = {}
    for stage in STAGES:
        top = [i for i, s in enumerate(spans) if s.name == stage and s.parent is None]
        m = dict(construct_s=0.0, construct_jobs=0, execute_s=0.0, jobs=0, tasks=0,
                 task_run_s=0.0, task_cpu_s=0.0, gc_s=0.0,
                 shuffle_write_bytes=0, spill_bytes=0)
        subs: dict[str, float] = {}
        py = 0.0
        for t in top:
            for i in _descendants(spans, t):
                s = spans[i]
                parent = spans[s.parent].name
                if s.name == "construct" and parent == stage:
                    m["construct_s"] += s.seconds
                    for j in [i] + _descendants(spans, i):
                        m["construct_jobs"] += len(
                            sc.statusTracker().getJobIdsForGroup(spans[j].group))
                elif s.name == "execute" and parent == stage:
                    m["execute_s"] += s.seconds
                    for k, v in _job_stats(sc, s.group).items():
                        m[k] += v
                    if stage == "annotate":
                        py += python_bytes(spark, s.group)
                elif parent == "construct":
                    subs[s.name] = subs.get(s.name, 0.0) + s.seconds
        m["parallelism"] = m["task_run_s"] / m["execute_s"] / cores if m["execute_s"] else 0.0
        for k, v in m.items():
            out[f"{stage}.{k}"] = v
        for k, v in subs.items():
            out[f"{stage}.{k}_s"] = v
        if stage == "annotate":
            out["annotate.python_bytes"] = py
    return out


def median_layers(runs: list[dict[str, float]]) -> dict[str, float]:
    keys = sorted({k for r in runs for k in r})
    return {k: statistics.median(r[k] for r in runs if k in r) for k in keys}
