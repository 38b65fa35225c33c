"""Spans around the benchmark's calls into each layer of the package.

The traced run wraps public functions of the package from here (the
package itself is unchanged). A span records its name, layer, start,
end, parent span and run id; spans stay in memory and are written out
as JSON when the run ends. While a span is open on the main thread,
the Spark job group names its layer, so every Spark job and stage can
be attributed to the innermost layer that caused it (the status store
keeps the group with each job). Jobs a streaming query starts run
under the query's run id and are attributed to ``streaming``.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

GROUP_PREFIX = "perfbench|"


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    def span(self, name: str, layer: str | None = None, group: bool = True):
        return nullcontext()


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._main = threading.main_thread()
        # time spent in span bookkeeping (job-group calls included):
        # the tracing overhead inside the traced round
        self.self_s = 0.0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        grouped = span
        while grouped is not None and not grouped["group"]:
            grouped = (self.spans[grouped["parent"]]
                       if grouped["parent"] is not None else None)
        if grouped is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(
                f"{GROUP_PREFIX}{grouped['layer']}|{grouped['id']}",
                grouped["name"])

    @contextmanager
    def span(self, name: str, layer: str | None = None, group: bool = True):
        t0 = time.perf_counter()
        stack = self._stack()
        on_main = threading.current_thread() is self._main
        sp = {"id": len(self.spans), "name": name,
              "layer": layer or name.split(".")[0],
              "parent": stack[-1]["id"] if stack else None,
              "run": self.run_id, "group": group and on_main,
              "start": time.time(), "end": None, "error": None}
        self.spans.append(sp)
        stack.append(sp)
        if sp["group"]:
            self._set_group(sp)
        self.self_s += time.perf_counter() - t0
        try:
            yield sp
        except BaseException as exc:
            sp["error"] = type(exc).__name__
            raise
        finally:
            t1 = time.perf_counter()
            sp["end"] = time.time()
            stack.pop()
            if on_main and sp["group"]:
                self._set_group(stack[-1] if stack else None)
            self.self_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str, layer: str | None = None,
             group: bool = True) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until
        :meth:`restore`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, layer, group):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until :meth:`restore`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries ------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def count(self, name: str, errors_only: bool = False) -> int:
        return sum(1 for s in self.named(name)
                   if not errors_only or s["error"])


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(option):
    return option.get() if option.isDefined() else None


def spark_jobs(spark, after_job_id: int = -1,
               stream_run_ids: frozenset[str] = frozenset()) -> list[dict]:
    """Jobs from the status store with their layer, time window and
    per-stage totals. ``after_job_id`` skips earlier jobs."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    for st in _iterate(store.stageList(None, False, False, no_quantiles,
                                       None)):
        agg = stages[st.stageId()]
        agg["tasks"] += st.numCompleteTasks()
        agg["run_ms"] += st.executorRunTime()
        agg["gc_ms"] += st.jvmGcTime()
        agg["shuffle_bytes"] += st.shuffleWriteBytes()
        agg["spill_bytes"] += st.diskBytesSpilled()
    jobs, seen = [], set()
    for jd in _iterate(store.jobsList(None)):
        if jd.jobId() <= after_job_id:
            continue
        group = _opt(jd.jobGroup()) or ""
        if group.startswith(GROUP_PREFIX):
            layer = group.split("|")[1]
        elif group in stream_run_ids:
            layer = "streaming"
        else:
            layer = "other"
        totals = defaultdict(float)
        for sid in _iterate(jd.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            for k, v in stages.get(sid, {}).items():
                totals[k] += v
        sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
        jobs.append({
            "id": jd.jobId(), "layer": layer,
            "start": sub.getTime() / 1000.0 if sub else None,
            "end": done.getTime() / 1000.0 if done else None,
            **totals})
    return jobs


def last_job_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    return max((jd.jobId() for jd in _iterate(store.jobsList(None))),
               default=-1)


LAYERS = ("session", "sources", "plans", "sinks", "reliability",
          "pipeline", "operators", "queries", "streaming")


def layer_stage_metrics(jobs: list[dict]) -> dict[str, float]:
    """``<layer>.shuffle_mb/.spill_mb/.gc_s/.tasks`` for every layer."""
    out = {}
    for layer in LAYERS:
        mine = [j for j in jobs if j["layer"] == layer]
        out[f"{layer}.shuffle_mb"] = sum(
            j.get("shuffle_bytes", 0) for j in mine) / 1e6
        out[f"{layer}.spill_mb"] = sum(
            j.get("spill_bytes", 0) for j in mine) / 1e6
        out[f"{layer}.gc_s"] = sum(j.get("gc_ms", 0) for j in mine) / 1e3
        out[f"{layer}.tasks"] = sum(j.get("tasks", 0) for j in mine)
    return out


def busy_within(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    spans = sorted((max(j["start"], start), min(j["end"], end))
                   for j in jobs if j["start"] and j["end"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
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
    return covered
