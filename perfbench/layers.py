"""Per-layer metrics of a traced run, computed from its spans.

Each metric names the layer (module) it measures.  Values are medians per
operation, taken over the timed operations of a kind when the run has any
and over the set-up's otherwise; a layer the workload never calls reads 0
(the dashboard imports a whisper tree and calls no ``update_many``).
README.md maps each metric to the end-to-end metric and workload it should
move.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import self_time

UNITS = {
    "store.update_many.s": "s",
    "store.update_many.self_s": "s",
    "store.update_many.spark_jobs": "count",
    "store.update_many.spark_tasks": "count",
    "store.update_many.files_written": "count",
    "store.bytes_written_per_point": "B",
    "store.fetch.build_ms": "ms",
    "store.fetch.exec_ms": "ms",
    "store.fetch.spark_tasks": "count",
    "store.fetch.rows_read_per_row_returned": "ratio",
    "store.compact.s": "s",
    "store.compact.bytes_rewritten": "B",
    "store.files_live": "count",
    "render.parse_target.ms": "ms",
    "render.evaluate_target.build_ms": "ms",
    "render.exec_ms": "ms",
    "render.rows_read_per_row_returned": "ratio",
    "spark.plan_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_failures": "count",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(run) -> dict:
    spans = [s for s in run.tracer.spans if s["end"] is not None]
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def descendants(s):
        for c in children[s["id"]]:
            yield c
            yield from descendants(c)

    def ops(name):
        found = [s for s in spans if s["parent"] is None and s["name"] == name]
        loop = [s for s in found if s["attrs"].get("phase") == "loop"]
        return loop or found

    def child(op, name):
        return [c for c in children[op["id"]] if c["name"] == name]

    def ratio(op):
        return op["attrs"]["input_records"] / max(op["attrs"].get("rows", 0), 1)

    writes, fetches, renders, compacts = (
        ops("op.write"), ops("op.fetch"), ops("op.render"), ops("op.compact")
    )
    updates = [u for w in writes for u in child(w, "store.update_many")]
    builds = [b for f in fetches for b in child(f, "store.fetch")]
    loop_ops = [s for s in spans if s["parent"] is None and s["attrs"].get("phase") == "loop"]
    spark_ops = loop_ops or [s for s in spans if s["parent"] is None]

    def in_render(name):
        return [d for r in renders for d in descendants(r) if d["name"] == name]

    def action_ms(op):
        return sum(_dur(c) for c in child(op, "spark.action")) * 1e3

    overhead = [
        (_med(run.samples[k]) - _med(run.untraced[k])) * 1e3
        for k in run.untraced if run.samples.get(k)
    ]
    values = {
        "store.update_many.s": _med(_dur(u) for u in updates),
        "store.update_many.self_s": _med(self_time(u, children[u["id"]]) for u in updates),
        "store.update_many.spark_jobs": _med(w["attrs"]["spark_jobs"] for w in writes),
        "store.update_many.spark_tasks": _med(w["attrs"]["spark_tasks"] for w in writes),
        "store.update_many.files_written": _med(w["attrs"]["files_written"] for w in writes),
        "store.bytes_written_per_point": _med(
            w["attrs"]["bytes_written_per_point"] for w in writes
        ),
        "store.fetch.build_ms": _med(_dur(b) * 1e3 for b in builds),
        "store.fetch.exec_ms": _med(action_ms(f) for f in fetches),
        "store.fetch.spark_tasks": _med(f["attrs"]["spark_tasks"] for f in fetches),
        "store.fetch.rows_read_per_row_returned": _med(ratio(f) for f in fetches),
        "store.compact.s": _med(_dur(c) for c in compacts),
        "store.compact.bytes_rewritten": _med(c["attrs"]["bytes_rewritten"] for c in compacts),
        "store.files_live": _med(c["attrs"]["files_live"] for c in compacts),
        "render.parse_target.ms": _med(_dur(p) * 1e3 for p in in_render("render.parse_target")),
        "render.evaluate_target.build_ms": _med(
            _dur(e) * 1e3 for e in in_render("render.evaluate_target")
        ),
        "render.exec_ms": _med(action_ms(r) for r in renders),
        "render.rows_read_per_row_returned": _med(ratio(r) for r in renders),
        "spark.plan_ms": _med(
            sum(d["attrs"].get("plan_ms", 0.0) for d in descendants(o)) for o in spark_ops
        ),
        "spark.executor_run_s": _med(o["attrs"]["executor_run_ms"] / 1e3 for o in spark_ops),
        "spark.executor_cpu_s": _med(o["attrs"]["executor_cpu_ns"] / 1e9 for o in spark_ops),
        "spark.shuffle_write_bytes": _med(o["attrs"]["shuffle_write_bytes"] for o in spark_ops),
        "spark.spill_bytes": _med(
            o["attrs"]["memory_spill_bytes"] + o["attrs"]["disk_spill_bytes"] for o in spark_ops
        ),
        "spark.task_failures": float(sum(o["attrs"]["task_failures"] for o in spark_ops)),
        "session.get_spark_s": run.phases["session.get_spark_s"],
        "session.warmup_s": run.phases["session.warmup_s"],
        "session.peak_rss_mb": run.peak_rss_mb(),
        # traced minus untraced median latency, per operation kind
        "trace.overhead_ms": _med(overhead),
        "trace.spans": float(len(spans)),
    }
    return {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
