"""Cheap per-layer tracing for the benchmark's traced run.

Two pieces, both driven from outside the engine:

- :class:`SpanRecorder` is passed through the engine's public ``watch=``
  parameter. It only appends ``(name, start, end)`` with ``perf_counter``;
  unlike ``graphulo_spark.watch.Watch`` it never touches the JVM, so a span
  costs O(1) however many stages the session has retained.
- :func:`job_group` tags every Spark job a call starts with a fresh job
  group, and :func:`group_counters` reads back only that group's jobs and
  stages from the status store after the call — O(stages of the call), not
  O(all retained stages).
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

_group_ids = itertools.count()


class SpanRecorder:
    """Duck-typed ``watch=`` argument: ``span(name)`` and ``increment``."""

    def __init__(self) -> None:
        self.events: list[tuple[str, float, float]] = []
        self.counters: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield self
        finally:
            self.events.append((name, t0, time.perf_counter()))

    def increment(self, name: str, delta: int = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + delta


def span_layers(events, t_start: float, t_end: float, convergence: str | None) -> dict[str, float]:
    """Split one call's wall time by its spans: ``setup_s`` (call start to
    first span), ``superstep_s``, ``convergence_s``, ``plan_s`` (the gaps
    between spans: plan building in the client) and ``final_s`` (last span to
    call end, including consuming the result)."""
    out = {"setup_s": 0.0, "superstep_s": 0.0, "supersteps": 0, "plan_s": 0.0, "final_s": 0.0}
    if convergence:
        out["convergence_s"] = 0.0
    ev = sorted((e for e in events if t_start <= e[1] <= t_end), key=lambda e: e[1])
    if not ev:
        out["setup_s"] = t_end - t_start
        return out
    out["setup_s"] = ev[0][1] - t_start
    out["final_s"] = t_end - ev[-1][2]
    for (_, _, prev_end), (_, nxt_start, _) in zip(ev, ev[1:]):
        out["plan_s"] += max(0.0, nxt_start - prev_end)
    for name, s, e in ev:
        if name == "superstep":
            out["superstep_s"] += e - s
            out["supersteps"] += 1
        elif name == convergence:
            out["convergence_s"] += e - s
    return out


@contextmanager
def job_group(spark, label: str):
    """Run the body under a fresh job group; yields the group id."""
    sc = spark.sparkContext
    gid = f"perfbench-{label}-{next(_group_ids)}"
    sc.setJobGroup(gid, label)
    try:
        yield gid
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counters(spark, gid: str, wall_s: float, cores: int) -> dict[str, float]:
    """Executor-side totals of one job group, from the status store.

    ``task_skew`` is the max/median task run time of each stage with at
    least two tasks, averaged with the stage's executor run time as weight;
    ``core_util`` is Σ executor run time / (cores × wall)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # counters of the last tasks land first
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    gw = sc._gateway
    no_status = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs = list(tracker.getJobIdsForGroup(gid))
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }
    run_ms = 0.0
    skew_num = skew_den = 0.0
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED" or sd.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
            ms = float(sd.executorRunTime())
            run_ms += ms
            if sd.numCompleteTasks() >= 2:
                summary = store.taskSummary(sid, sd.attemptId(), quantiles)
                if summary.isDefined():
                    rt = summary.get().executorRunTime()
                    skew_num += ms * rt.apply(1) / max(rt.apply(0), 1.0)
                    skew_den += ms
    out["task_skew"] = skew_num / skew_den if skew_den else 1.0
    out["core_util"] = run_ms / 1000.0 / (cores * wall_s) if wall_s > 0 else 0.0
    return out
