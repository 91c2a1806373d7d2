"""In-memory spans, counts and Spark counters for the traced run.

Spans are recorded around the benchmark's calls into the engine's public
functions; nothing inside the engine is edited.  Where the engine calls
a public function itself (the cache calling ``fit_method``), the traced
run patches the module attribute for the run's duration
(:meth:`Tracer.patch`).  With tracing off no hook is installed and
``span`` is a no-op.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, request id) and named counts, from
    the benchmark's single client thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, req=None):
        """Record ``name`` around the block, as a child of the innermost
        open span; a span without ``req`` takes its parent's request id."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "req": req if req is not None else (parent or {}).get("req"),
               "start": time.perf_counter(), "end": None}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[key] += n

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr = new`` until :meth:`unwrap_all`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def timed(self, original, span_name, on_result=None):
        """``original`` wrapped in a span; ``span_name`` is a string or a
        function of the call's arguments."""
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            name = span_name(*args, **kwargs) if callable(span_name) else span_name
            with tracer.span(name):
                out = original(*args, **kwargs)
            if on_result is not None:
                on_result(out, *args, **kwargs)
            return out
        return wrapper

    def wrap_method(self, cls, attr: str, span_name, on_result=None):
        self.patch(cls, attr, self.timed(getattr(cls, attr), span_name, on_result))

    def time_dispatch(self, module) -> None:
        """Spans around ``fit_method`` and ``forecast_fitted`` as ``module``
        (the cache or the batch API) calls them.  Only that module's own
        references are patched: a model may call dispatch again internally
        (HYBRID fits its components), which is not a series-level fit."""
        self.patch(module, "fit_method", self.timed(
            module.fit_method, lambda method, *a, **k: f"dispatch.fit.{method.upper()}"))
        self.patch(module, "forecast_fitted", self.timed(
            module.forecast_fitted,
            lambda model, horizon, seed_key: f"dispatch.forecast.{seed_key[2]}"))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --- read-outs -------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def in_window(self, start: float, end: float) -> list[dict]:
        return [s for s in self.spans if s["start"] >= start and s["end"] <= end]

    def accounted_share(self, start: float, end: float) -> float:
        """Share of the window ``[start, end]`` covered by root spans."""
        roots = [s for s in self.in_window(start, end) if s["parent"] is None]
        return sum(s["end"] - s["start"] for s in roots) / (end - start)

    def self_times(self, start: float, end: float) -> dict[str, float]:
        """Per span name, over the spans inside the window: summed duration
        minus the time its child spans took (children of one span run one
        after another on the client thread)."""
        spans = self.in_window(start, end)
        child_s: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_s[s["id"]]
        return dict(out)


class SparkCounters:
    """Job, stage and task counters read from outside the engine: job ids
    per job group from the status tracker, stage metrics and task
    durations from the application status store over py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict:
        """Summed stage metrics over the stages that ran for ``job_ids``."""
        stage_ids = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0,
               "task_s": []}
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stages have no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tasks = self.store.taskList(sid, st.attemptId(), 100_000)
            for i in range(tasks.length()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    tot["task_s"].append(d.get() / 1e3)
            tot["tasks"] += tasks.length()
        return tot

    def jvm_heap_mb(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def gc_ms(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def task_skew(task_s: list[float]) -> float:
    """Longest task over the median task (1.0 when perfectly even)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0


def python_worker_s(spark) -> float:
    """Python-worker seconds recorded by the session UDF profiler since the
    last call; clears the profiles it read."""
    results = spark._profiler_collector._perf_profile_results
    total = sum(stats.total_tt for stats in results.values())
    spark.profile.clear(type="perf")
    return total
