"""Spans around the engine's public entry points, recorded from the
benchmark's side only.

``Tracer.install`` wraps ``WhisperStore.update_many/fetch/render/compact``,
``render.parse_target/evaluate_target`` and PySpark's action entry points
(``DataFrame.collect/count/toPandas``, ``DataFrameWriter.save/parquet``,
recorded as ``spark.action``).  The workload opens one top-level span per
operation with ``Tracer.op``; that tags the operation's Spark jobs with a
job group and, when it ends, reads the group's stage accounting from
Spark's status store into the span.  Spans stay in memory until
``Tracer.dump``.

While ``enabled`` is False the wrappers only forward the call, so a traced
run can interleave untraced operations and measure its own overhead.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

from whisper_spark import render as render_mod
from whisper_spark.store import WhisperStore

#: stage fields summed per operation (v1 StageData getters)
_STAGE_FIELDS = {
    "spark_tasks": "numCompleteTasks",
    "task_failures": "numFailedTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op_id: str | None = None
        self._counted_stages: set[int] = set()
        self._originals: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------------ #
    # spans
    # ------------------------------------------------------------------ #

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, name: str, **attrs):
        """Top-level operation: a span whose Spark jobs carry a job group."""
        if not self.enabled:
            yield None
            return
        op_id = f"op{len(self.spans)}"
        sc = self.spark.sparkContext
        self._op_id = op_id
        sc.setJobGroup(op_id, name)
        try:
            with self.span(name, **attrs) as s:
                yield s
        finally:
            sc._jsc.clearJobGroup()
            self._op_id = None
        s["attrs"].update(self._stage_accounting(op_id))

    def _stage_accounting(self, group: str) -> dict:
        sc = self.spark.sparkContext
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = {k: 0 for k in _STAGE_FIELDS}
        out["spark_jobs"] = len(jobs)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                # a shuffle stage reused by a later job is listed there as
                # skipped; count each stage once, where it ran
                if stage in self._counted_stages:
                    continue
                self._counted_stages.add(stage)
                data = store.lastStageAttempt(stage)
                for key, getter in _STAGE_FIELDS.items():
                    out[key] += int(getattr(data, getter)())
        return out

    # ------------------------------------------------------------------ #
    # wrappers
    # ------------------------------------------------------------------ #

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._originals.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _spanned(self, name):
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)

            return wrapper

        return make

    def _action(self, kind, df_of):
        def make(orig):
            def wrapper(obj, *args, **kwargs):
                if not self.enabled:
                    return orig(obj, *args, **kwargs)
                with self.span("spark.action", action=kind) as s:
                    t = time.perf_counter()
                    df_of(obj)._jdf.queryExecution().executedPlan()
                    s["attrs"]["plan_ms"] = (time.perf_counter() - t) * 1e3
                    return orig(obj, *args, **kwargs)

            return wrapper

        return make

    def install(self) -> None:
        for name in ("update_many", "fetch", "render", "compact"):
            self._patch(WhisperStore, name, self._spanned(f"store.{name}"))
        for name in ("parse_target", "evaluate_target"):
            self._patch(render_mod, name, self._spanned(f"render.{name}"))
        for name in ("collect", "count", "toPandas"):
            self._patch(DataFrame, name, self._action(name, lambda df: df))
        for name in ("save", "parquet"):
            self._patch(DataFrameWriter, name, self._action(name, lambda w: w._df))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the part of it covered by child spans (children run
    sequentially on the calling thread, so their intervals do not overlap)."""
    return (span["end"] - span["start"]) - sum(c["end"] - c["start"] for c in children)
