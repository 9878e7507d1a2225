"""Spans and Spark counters recorded from outside the package.

A span is taken around a call into one of the package's public functions.
The wrapper is installed where the caller looks the function up, so the
package itself is not changed. Each span also scopes a Spark job group,
which lets the status store say which jobs, stages and tasks it caused.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. ``enabled=False`` keeps the ``op`` and ``span``
    contexts as plain pass-throughs, so traced and untraced runs share
    one code path."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def op(self, op_id: str):
        """Root span of one operation."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "op": self._op,
              "parent": parent["id"] if parent else None,
              "group": f"pb:{self._op}:{len(self.spans)}"}
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned version (traced runs only)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- rollups --------------------------------------------------------------
    def op_spans(self) -> dict[str, list[dict]]:
        by_op: dict[str, list[dict]] = {}
        for sp in self.spans:
            if sp["op"] is not None and "end" in sp:
                by_op.setdefault(sp["op"], []).append(sp)
        return by_op

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Self time per span name: duration minus what its children cover.
        Spans run on one thread, so children never overlap each other."""
        child = {sp["id"]: 0.0 for sp in spans}
        for sp in spans:
            if sp["parent"] in child:
                child[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = {}
        for sp in spans:
            own = sp["end"] - sp["start"] - child[sp["id"]]
            out[sp["name"]] = out.get(sp["name"], 0.0) + own
        return out

    def groups_under(self, spans: list[dict], name: str) -> list[str]:
        """Job groups of every ``name`` span and of all its descendants."""
        ids = {sp["id"] for sp in spans if sp["name"] == name}
        changed = True
        while changed:
            more = {sp["id"] for sp in spans if sp["parent"] in ids} - ids
            changed = bool(more)
            ids |= more
        return [sp["group"] for sp in spans if sp["id"] in ids]


class SparkCounters:
    """Jobs, stages, tasks and task metrics of a set of job groups, read
    from the status tracker and the driver's status store."""

    FIELDS = tuple(f"spark.{k}" for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"))

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._d3 = getattr(self.store, "stageData$default$3")()
        self._d5 = getattr(self.store, "stageData$default$5")()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def read(self, job_ids: list[int]) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["spark.jobs"] = float(len(job_ids))
        stages: set[int] = set()
        for j in job_ids:
            ids = self.store.job(j).stageIds()
            stages.update(ids.apply(i) for i in range(ids.length()))
        for sid in stages:
            attempts = self.store.stageData(sid, False, self._d3, False, self._d5)
            for k in range(attempts.length()):
                sd = attempts.apply(k)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["spark.gc_s"] += sd.jvmGcTime() / 1e3
                out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def progress_log(spark) -> list[dict]:
    """Register a listener that appends every streaming progress report
    (``StreamingQueryProgress`` as a dict) to the returned list."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    log: list[dict] = []

    class _Log(StreamingQueryListener):
        def onQueryStarted(self, event): pass

        def onQueryProgress(self, event):
            log.append(json.loads(event.progress.json))

        def onQueryIdle(self, event): pass

        def onQueryTerminated(self, event): pass

    spark.streams.addListener(_Log())
    return log

