"""Continuous graphite render targets over the carbon ingest stream.

The batch engine evaluates graphite-web target strings over a fetched
series frame (render.py).  This module evaluates the SAME target
language continuously: carbon points stream in, a watermarked tumbling
window finalizes per-metric rollups (streaming/rollup.py
windowed_rollup — the carbon-aggregator step), and the render pipeline
runs on every finalized micro-batch, so a dashboard target like
``scale(sumSeries(ev.*.m1), 2)`` materializes incrementally into a sink.

Why per-batch evaluation is CORRECT for the supported subset
-----------------------------------------------------------
Append mode emits a window exactly once — when the global watermark
passes its end — and the watermark advances at batch boundaries for all
keys at once.  Every series' rollup for a timestamp therefore lands in
the SAME micro-batch, so a per-``ts`` cross-series combine (sumSeries,
groupByNode, ...) inside ``foreachBatch`` sees the complete slot and is
equal to the batch evaluation of the same target.  Functions that need
ORDER ACROSS SLOTS (moving windows, derivatives, sorts, percentiles,
integrals) are NOT batch-local — their state would straddle batch
boundaries — so :func:`validate_stream_target` rejects them up front
instead of returning silently-wrong output.

Scale: state is the rollup window state — ``metrics × windows inside
the watermark`` — independent of stream length; the per-batch render is
a narrow plan over one batch's finalized windows (one shuffle per
cross-series combine, none for the stateless transforms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..render import Call, Path, TargetSyntaxError, evaluate_target, parse_target
from .replay import replay
from .rollup import windowed_rollup

#: target functions legal on a finalized streaming rollup: per-row
#: stateless transforms, name/selection transforms, and per-ts
#: cross-series combines.  Everything needing cross-slot order or
#: whole-series statistics is rejected (see module doc).
STREAM_SAFE = frozenset({
    # stateless per-row value transforms
    "scale", "offset", "add", "absolute", "invert", "squareRoot", "pow",
    "round", "sigmoid", "logit", "exp", "logarithm", "log",
    "transformNull", "isNonNull", "removeAboveValue", "removeBelowValue",
    # name / selection transforms
    "alias", "aliasByNode", "aliasByMetric", "aliasSub", "exclude",
    "grep", "seriesByTag", "aliasByTags",
    # per-ts cross-series combines (batch-consistent)
    "sumSeries", "sum", "averageSeries", "avg", "maxSeries", "minSeries",
    "rangeOfSeries", "countSeries", "stddevSeries", "diffSeries",
    "divideSeries", "multiplySeries", "group", "powSeries",
    "groupByNode", "groupByNodes", "groupByTags", "aggregate",
    # per-ts cross-series rank — batch-local for the same reason as the
    # combines (every series' finalized slot lands in one batch)
    "percentileOfSeries",
})


def validate_stream_target(node, step_seconds: int | None = None) -> None:
    """Reject target functions whose semantics cannot be finalized per
    micro-batch (anything with cross-slot state).

    ``step_seconds``: when given, sub-slot ``summarize``/``hitcount``
    (interval <= slot width) is accepted — an interval no longer than
    the slot width contains AT MOST ONE finalized slot, so each output
    bucket derives from exactly one input row and the evaluation is
    batch-local.  Coarser intervals must route through the chained
    multi-stateful port (step-multiple intervals only; a bucket spanning
    several slots can straddle micro-batch boundaries)."""
    if isinstance(node, Path):
        return
    if isinstance(node, Call):
        if node.name in ("summarize", "hitcount") and step_seconds:
            from ..render import parse_duration

            interval = (
                parse_duration(node.args[1])
                if len(node.args) >= 2 and isinstance(node.args[1], (str, int))
                else None
            )
            if interval is not None and 0 < interval <= step_seconds:
                for a in node.args:
                    if isinstance(a, (Call, Path)):
                        validate_stream_target(a, step_seconds)
                return
            raise TargetSyntaxError(
                f"{node.name!r} with interval > slot width is not "
                "batch-local here: only a TOP-LEVEL (or single-core) "
                f"{node.name} whose interval is a multiple of the "
                f"{step_seconds}s slot width routes to the chained "
                "multi-stateful port (streaming.rollup.chained_summarize); "
                "sub-slot intervals (<= slot width) evaluate per batch"
            )
        if node.name not in STREAM_SAFE:
            raise TargetSyntaxError(
                f"{node.name!r} is not stream-safe: it needs ordering or "
                "state across time slots (moving windows, sorts, "
                "percentiles), which an append-mode stream "
                "cannot evaluate batch-locally.  movingAverage/Sum/Min/"
                "Max/Median, derivative/perSecond/nonNegativeDerivative, "
                "integral/exponentialMovingAverage, and STEP-MULTIPLE "
                "coarse summarize/hitcount have dedicated chained-"
                "aggregation ports: streaming.rollup."
                "chained_moving_average / chained_moving_window / "
                "chained_derivative / chained_integral / chained_ewma / "
                "chained_summarize; sub-slot summarize/hitcount "
                "(interval <= slot width) is batch-local and accepted "
                "when the slot width is known"
            )
        for a in node.args:
            if isinstance(a, (Call, Path)):
                validate_stream_target(a, step_seconds)


def _chained_stream_plan(
    ast,
    points: DataFrame,
    step_seconds: int,
    method: str,
    watermark_seconds: int,
) -> DataFrame | None:
    """Streaming plan for the supported CROSS-SLOT top-level render
    functions — the targets :func:`validate_stream_target` would
    otherwise reject — via the chained multi-stateful ports
    (streaming/rollup.py).  Returns a (metric, ts, value) streaming
    DataFrame, or None when the target isn't one of the routed shapes
    (top-level movingAverage / derivative / perSecond / summarize /
    hitcount applied directly to a metric path)."""
    from pyspark.sql import functions as F

    from ..functions.timeseries import filter_metrics
    from ..render import parse_duration
    from .rollup import (
        chained_derivative,
        chained_ewma,
        chained_integral,
        chained_integral_by_interval,
        chained_moving_average,
        chained_moving_window,
        chained_summarize,
    )

    def _window_points(ws) -> int:
        """windowSize arg -> slot count: a duration string converts via
        the slot width, a number (or digit string) is a point count —
        one translation shared by every windowed route so the three
        cannot drift apart."""
        if isinstance(ws, str) and not str(ws).lstrip("+-").isdigit():
            return max(1, parse_duration(ws) // step_seconds)
        try:
            return max(1, int(ws))
        except (TypeError, ValueError):
            raise TargetSyntaxError(
                f"windowSize must be a number of points or a duration "
                f"string, got {ws!r}"
            )

    if not isinstance(ast, Call) or not ast.args:
        return None
    if not isinstance(ast.args[0], Path):
        return None
    pts = filter_metrics(points, ast.args[0].glob)
    name = ast.name
    if name == "movingAverage" and len(ast.args) >= 2:
        return chained_moving_average(
            pts, n_points=_window_points(ast.args[1]),
            step_seconds=step_seconds, method=method,
            watermark_seconds=watermark_seconds,
        ).select("metric", "ts", F.col("moving_avg").alias("value"))
    if name in _MW_FUNCS and len(ast.args) >= 2:
        n = _window_points(ast.args[1])
        return chained_moving_window(
            pts, n_points=n, func=_MW_FUNCS[name],
            step_seconds=step_seconds, method=method,
            watermark_seconds=watermark_seconds,
        ).select("metric", "ts", "value")
    if (
        name in ("derivative", "perSecond", "nonNegativeDerivative")
        and len(ast.args) <= 2
    ):
        # perSecond/nonNegativeDerivative take an optional maxValue
        # (counter-wrap ceiling); plain derivative is single-arg
        if name == "derivative" and len(ast.args) > 1:
            return None
        mv = None
        if len(ast.args) > 1:
            try:
                mv = float(ast.args[1])
            except (TypeError, ValueError):
                raise TargetSyntaxError(
                    f"{name}: maxValue must be a number, "
                    f"got {ast.args[1]!r}"
                )
        return chained_derivative(
            pts, step_seconds=step_seconds, method=method,
            watermark_seconds=watermark_seconds,
            per_second=(name == "perSecond"),
            non_negative=(name == "nonNegativeDerivative"),
            max_value=mv,
        ).select("metric", "ts", F.col("delta").alias("value"))
    if name == "integral" and len(ast.args) == 1:
        return chained_integral(
            pts, step_seconds=step_seconds, method=method,
            watermark_seconds=watermark_seconds,
        ).select("metric", "ts", F.col("integral").alias("value"))
    if name == "integralByInterval" and len(ast.args) == 2:
        iv = ast.args[1]
        interval = iv if isinstance(iv, int) else parse_duration(str(iv))
        if interval <= 0:
            raise TargetSyntaxError(
                f"integralByInterval: interval must be positive, got {iv!r}"
            )
        return chained_integral_by_interval(
            pts, interval_seconds=interval, step_seconds=step_seconds,
            method=method, watermark_seconds=watermark_seconds,
        ).select("metric", "ts", F.col("integral").alias("value"))
    if name == "exponentialMovingAverage" and len(ast.args) == 2:
        # graphite-web semantics (same as the batch route, render.py):
        # the arg is a WINDOW SIZE (points or duration), alpha = 2/(n+1);
        # like the batch route, a windowSize < 1 is an error, not a clamp
        ws = ast.args[1]
        if not isinstance(ws, str) and not (
            isinstance(ws, (int, float)) and int(ws) >= 1
        ):
            raise TargetSyntaxError(
                f"exponentialMovingAverage: windowSize must be >= 1, "
                f"got {ws!r}"
            )
        n = _window_points(ws)
        return chained_ewma(
            pts, alpha=2.0 / (n + 1.0), step_seconds=step_seconds,
            method=method, watermark_seconds=watermark_seconds,
        ).select("metric", "ts", F.col("ewma").alias("value"))
    if name in ("summarize", "hitcount") and len(ast.args) >= 2:
        # a bare int interval (parser yields int for unquoted numbers) is
        # already seconds — str(30) would fail parse_duration's unit regex
        iv = ast.args[1]
        interval = iv if isinstance(iv, int) else parse_duration(str(iv))
        if interval <= step_seconds or interval % step_seconds:
            # sub-slot intervals evaluate per batch (each bucket holds at
            # most one finalized slot — validate_stream_target accepts
            # them); non-multiple coarse intervals have no chained port
            # and are rejected there with the routing explanation
            return None
        func = str(ast.args[2]) if name == "summarize" and len(ast.args) > 2 else "sum"
        func = {"average": "avg"}.get(func, func)
        if func not in ("sum", "avg", "max", "min"):
            return None
        out = chained_summarize(
            pts, interval_seconds=interval, func=func,
            step_seconds=step_seconds, method=method,
            watermark_seconds=watermark_seconds,
        )
        val = (
            F.col("value") * step_seconds if name == "hitcount"
            else F.col("value")
        )
        return out.select("metric", "ts", val.alias("value"))
    return None


#: moving-window render functions -> chained_moving_window reducer
_MW_FUNCS = {
    "movingSum": "sum",
    "movingMin": "min",
    "movingMax": "max",
    "movingMedian": "median",
}

#: the cross-slot functions with chained multi-stateful ports
_CHAINED_NAMES = frozenset(
    {"movingAverage", "derivative", "perSecond", "nonNegativeDerivative",
     "integral", "integralByInterval", "exponentialMovingAverage",
     "summarize", "hitcount"}
    | set(_MW_FUNCS)
)


def _find_chained_core(node):
    """All Calls in the tree whose name has a chained port."""
    found = []
    if isinstance(node, Call):
        if node.name in _CHAINED_NAMES:
            found.append(node)
        for a in node.args:
            if isinstance(a, (Call, Path)):
                found += _find_chained_core(a)
    return found


def _has_path_outside(node, excluded) -> bool:
    """True when the tree contains a Path node OUTSIDE the ``excluded``
    subtree (by identity) — i.e. a wrapper expression that references
    other series besides the chained core."""
    if node is excluded:
        return False
    if isinstance(node, Path):
        return True
    if isinstance(node, Call):
        return any(
            _has_path_outside(a, excluded)
            for a in node.args
            if isinstance(a, (Call, Path))
        )
    return False


def _substitute(node, target_node, replacement):
    """Copy of the AST with ``target_node`` (by identity) replaced."""
    if node is target_node:
        return replacement
    if isinstance(node, Call):
        return Call(
            node.name,
            [
                _substitute(a, target_node, replacement)
                if isinstance(a, (Call, Path))
                else a
                for a in node.args
            ],
        )
    return node


def render_stream(
    points: DataFrame,
    target: str,
    out_path: str,
    *,
    step_seconds: int = 60,
    method: str = "max",
    xff: float = 0.0,
    watermark_seconds: int = 600,
):
    """Build the streaming writer for a continuous render target.

    ``points``: streaming (metric, ts[long seconds], value, seq) frame.
    Returns a ``DataStreamWriter`` — caller picks trigger/checkpoint and
    calls ``.start()``.  Finalized windows roll up at ``step_seconds``
    with ``method`` (default ``max``: order-independent, so an
    availableNow replay is bit-deterministic), then every micro-batch
    evaluates ``target`` over the finalized slots and appends the
    result frame to ``out_path`` as parquet.

    CROSS-SLOT targets (movingAverage, derivative, perSecond, coarse
    summarize/hitcount on a metric path) route to the chained
    multi-stateful ports instead of being rejected, and COMPOSE with
    the stream-safe wrapper set: in
    ``scale(sumSeries(movingAverage(ev.*, 5)), 2)`` the moving average
    runs as the chained plan and the remaining (per-ts, batch-local)
    expression evaluates over its finalized windows each micro-batch —
    valid because a chained window finalizes for ALL series in the
    same batch, the identical argument that makes the per-batch
    combines correct.  At most ONE chained core per target; the xff
    gate does not apply on the chained path (slot consolidation is
    ungated there).
    """
    ast = parse_target(target)
    cores = _find_chained_core(ast)
    if len(cores) == 1:
        chained = _chained_stream_plan(
            cores[0], points, step_seconds, method, watermark_seconds
        )
        if chained is not None:
            if cores[0] is ast:
                def _write(batch_df: DataFrame, _epoch_id: int) -> None:
                    if batch_df.isEmpty():
                        return
                    batch_df.write.mode("append").parquet(out_path)

                return (
                    chained.writeStream.foreachBatch(_write)
                    .outputMode("append")
                )
            # wrapper expression around the chained core: substitute
            # the core with a match-all path and require the remainder
            # to be stream-safe, then evaluate it per finalized batch.
            # A wrapper that references OTHER series (any Path outside
            # the core, e.g. divideSeries(movingAverage(a.*, 5),
            # a.denominator)) would evaluate those paths against the
            # chained core's output frame — where they match nothing —
            # and silently drop them: reject instead (advisor finding,
            # round 6; the module contract is reject-not-silently-wrong)
            if _has_path_outside(ast, cores[0]):
                raise TargetSyntaxError(
                    "streaming target mixes a chained cross-slot core "
                    f"({cores[0].name}) with other series references; "
                    "the wrapper around the chained core may not contain "
                    "additional metric paths — they would be evaluated "
                    "against the core's output, not the raw stream"
                )
            sub_ast = _substitute(ast, cores[0], Path("*"))
            validate_stream_target(sub_ast, step_seconds)
            from ..render import _evaluate

            def _batch_outer(batch_df: DataFrame, _epoch_id: int) -> None:
                if batch_df.isEmpty():
                    return
                frame = batch_df.select("metric", "ts", "value")
                out = _evaluate(sub_ast, frame, target, step_seconds)
                out.write.mode("append").parquet(out_path)

            return (
                chained.writeStream.foreachBatch(_batch_outer)
                .outputMode("append")
            )
    validate_stream_target(ast, step_seconds)
    rolled = windowed_rollup(
        points,
        step_seconds,
        method=method,
        xff=xff,
        watermark_seconds=watermark_seconds,
    )

    def _batch(batch_df: DataFrame, _epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        frame = batch_df.select("metric", "ts", "value")
        out = evaluate_target(frame, target, step=step_seconds)
        out.write.mode("append").parquet(out_path)

    # append mode is load-bearing: it restricts emission to FINALIZED
    # windows (watermark passed), the premise of batch-local correctness
    return rolled.writeStream.foreachBatch(_batch).outputMode("append")


def render_stream_once(
    spark: SparkSession,
    points: DataFrame,
    target: str,
    out_path: str,
    **kwargs,
) -> DataFrame:
    """Replay the stream to completion (availableNow, see
    streaming/replay.py) and return the accumulated render output as a
    batch DataFrame."""
    replay(render_stream(points, target, out_path, **kwargs))
    return spark.read.parquet(out_path)
