"""Core time-series transforms — the whisper semantics on DataFrames.

Every transform here is a pure function ``DataFrame -> DataFrame`` built
from JVM-side expressions (no Python UDFs), so the whole pipeline stays
inside whole-stage codegen and scales by partitioning:

* ``align_ts``         — floor timestamps to an archive step
                         (reference: whisper.py:707,798)
* ``last_write_wins``  — duplicate-interval dedup keeping the last write
                         (reference: whisper.py:806-808)
* ``xff_rollup``       — one rollup step with the xFilesFactor gate
                         (reference: whisper.py:578-664)
* ``dense_timeline``   — gap-filled, step-aligned timeline of any keyed
                         series frame (reference: whisper.py:1023-1034)
* ``select_archive``   — resolution chooser (reference: whisper.py:943-957)

Scale notes (100 TB design point): ``xff_rollup`` is a single
``groupBy(keys, bucket)`` — Catalyst plans it as partial (map-side) +
final aggregation, one shuffle keyed by (metric, bucket).  When the input
is already hash-partitioned by metric (our store layout), AQE coalesces
the shuffle.  ``last_write_wins`` is ``max_by`` — also a plain aggregate,
NOT a window function, so it needs no total sort.  ``dense_timeline``
generates the spine with ``sequence``/``explode`` per key — O(range/step)
rows distributed across the cluster, never a driver loop.  (The store's
own fetch does not use it: it folds LWW, ring eviction and gap fill into
one aggregate, see ``WhisperStore._fetch_archive_dense``.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..aggregation import aggregate_column
from ..retention import ArchiveSpec


def align_ts(ts: Column | str, step: int | Column) -> Column:
    """Floor an epoch-seconds column to a step boundary.

    ``ts - (ts % step)`` — reference: whisper.py:707 (update) and :798
    (bulk update) and :582 (propagate).
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    s = F.lit(step) if isinstance(step, int) else step
    return (t - (t % s)).cast("long")


def last_write_wins(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    value: str = "value",
    order: str = "seq",
) -> DataFrame:
    """Collapse duplicate (keys, ts) rows, keeping the latest-arriving value.

    The reference gets this implicitly from physical slot overwrite in
    arrival order (reference: whisper.py:806-808 dedups same-interval runs
    keeping the last).  We require an explicit arrival-order column and
    take ``max_by(value, order)`` — an aggregate, not a window, so it is
    one shuffle with map-side combine (cheap at 100 TB, no skewed sort).
    """
    group = [*keys, ts]
    return df.groupBy(*group).agg(
        F.max_by(value, F.col(order)).alias(value),
        F.max(order).alias(order),
    )


def xff_rollup(
    df: DataFrame,
    keys: Sequence[str],
    higher_step: int,
    lower_step: int,
    method: str = "average",
    xff: float = 0.5,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """One propagation step: higher-resolution points → lower-resolution
    aggregates, gated by xFilesFactor.

    Matches reference whisper.py:578-664: within each lower-step interval
    there are ``lower_step // higher_step`` higher-resolution slots; the
    aggregate is written iff ``known_slots / total_slots >= xff``
    (reference: whisper.py:639-640).  ``avg_zero`` divides by the *total*
    slot count, nulls as zero (reference: whisper.py:564-568).  The
    ``last`` method takes the value of the latest *slot* in the interval
    (``knownValues[-1]`` over the time-ordered slot list, reference:
    whisper.py:560-563) — so its order column here is ``ts`` itself.

    Input must already be step-aligned and deduped at ``higher_step``
    (one row per (keys, aligned ts)).  Output: one row per (keys,
    lower-interval) that passes the gate.
    """
    if lower_step % higher_step != 0:
        raise ValueError(
            f"lower_step {lower_step} not a multiple of higher_step {higher_step}"
        )
    slots = lower_step // higher_step
    bucket = align_ts(F.col(ts), lower_step).alias(ts)
    agg = aggregate_column(method, value, order=F.col(ts), expected_slots=slots)
    out = (
        df.groupBy(*keys, bucket)
        .agg(
            agg.alias(value),
            F.count(value).alias("_known"),
        )
    )
    # xff gate: fraction of known higher-res slots in the interval.
    # Matches `len(knownValues) / len(neighborValues) >= xff`
    # (reference: whisper.py:639-640).  A groupBy bucket always has >=1
    # known value, which also reproduces the reference's
    # "no knownValues -> no write" short-circuit (whisper.py:636-637).
    out = out.filter((F.col("_known") / F.lit(float(slots))) >= F.lit(float(xff)))
    return out.drop("_known")


def dense_timeline(
    df: DataFrame,
    keys_df: DataFrame,
    from_interval: int,
    until_interval: int,
    step: int,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Produce a dense, step-aligned timeline with nulls in gaps.

    ``keys_df`` holds one row per series (e.g. distinct metrics); the spine
    is ``sequence(from_interval, until_interval - step, step)`` exploded per
    key, left-joined with the points.  Interval convention matches the
    reference: ``until_interval`` is exclusive; the returned timeline has
    ``(until_interval - from_interval) / step`` slots with ``None`` for
    missing/stale data (reference: whisper.py:1016-1034).

    Scale note: the spine is generated distributed (explode), the join is
    keyed on (keys, ts) and Catalyst will broadcast whichever side is
    small; for a narrow fetch the points side is already pruned to one
    resolution partition and a ts range.
    """
    n_slots = (until_interval - from_interval) // step
    if n_slots <= 0:
        raise ValueError("empty timeline: until_interval <= from_interval")
    spine = keys_df.withColumn(
        ts,
        F.explode(
            F.sequence(
                F.lit(from_interval).cast("long"),
                F.lit(until_interval - step).cast("long"),
                F.lit(step).cast("long"),
            )
        ),
    )
    key_cols = [c for c in keys_df.columns]
    pts = df.select(*key_cols, ts, value)
    return spine.join(pts, on=[*key_cols, ts], how="left")


def summarize(
    df: DataFrame,
    keys: Sequence[str],
    bucket_seconds: int,
    method: str = "sum",
    ts: str = "ts",
    value: str = "value",
    float_fold: bool = False,
) -> DataFrame:
    """Graphite ``summarize(series, interval, func)``: re-bin a series
    into coarser buckets with NO xFilesFactor gate (unlike
    :func:`xff_rollup` — render-side re-binning keeps every non-empty
    bucket; graphite-web functions.py summarize).

    One groupBy(keys, bucket) — partial-aggregated, single shuffle.
    ``float_fold=True`` routes sum/average through the sorted float64
    fold (functions/folds.py): full precision on arbitrary doubles AND
    deterministic under partial-aggregation reorder — use it whenever
    ``value`` is not exactly representable at a fixed decimal scale."""
    bucket = align_ts(F.col(ts), bucket_seconds).alias(ts)
    agg = _agg_dispatch(method, value, float_fold, order=F.col(ts))
    return df.groupBy(*keys, bucket).agg(
        agg.alias(value), F.count(value).alias("known")
    )


def _agg_dispatch(method: str, value: str, float_fold: bool, order=None):
    """Shared consolidation dispatch for the render-side re-binners:
    plain :func:`aggregate_column` semantics, with sum/average optionally
    swapped for the sorted float64 fold (functions/folds.py)."""
    if float_fold and method in ("sum", "average"):
        from . import folds

        s = folds.fsum(value)
        return s if method == "sum" else s / F.count(value)
    return aggregate_column(method, value, order=order)


def _series_window(keys: Sequence[str], ts: str):
    from pyspark.sql import Window

    return Window.partitionBy(*keys).orderBy(ts)


def moving_window(
    df: DataFrame,
    keys: Sequence[str],
    n_points: int,
    ts: str = "ts",
    value: str = "value",
    out_col: str = "mavg",
) -> DataFrame:
    """Graphite ``movingAverage(series, N)`` over the trailing N points
    (ROWS N-1 PRECEDING .. CURRENT).  A per-series sort inside the window
    — scales by series cardinality (each series sorts independently;
    no global sort)."""
    w = _series_window(keys, ts).rowsBetween(-(n_points - 1), 0)
    return df.withColumn(
        out_col, F.sum(value).over(w) / F.count(value).over(w)
    )


def derivative(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    value: str = "value",
    out_col: str = "delta",
    non_negative: bool = False,
    max_value: float | None = None,
) -> DataFrame:
    """Graphite ``derivative`` / ``nonNegativeDerivative``: per-slot
    delta vs the previous slot; first slot is null.  With
    ``non_negative`` a negative delta (counter reset) becomes null;
    with ``max_value`` it is instead read as a counter WRAP at that
    ceiling and recovered as ``max_value - prev + cur + 1``
    (graphite's nonNegativeDerivative(maxValue) formula)."""
    w = _series_window(keys, ts)
    prev = F.lag(value).over(w)
    d = F.col(value) - prev
    if max_value is not None:
        # wrap recovery only when the ceiling is plausible (graphite's
        # maxValue >= value guard); a value ABOVE the claimed ceiling is
        # a genuine reset/bad ceiling -> None
        d = (
            F.when(d >= 0, d)
            .when(
                F.lit(float(max_value)) >= F.col(value),
                F.lit(float(max_value)) - prev + F.col(value) + 1.0,
            )
        )
    elif non_negative:
        d = F.when(d >= 0, d)
    return df.withColumn(out_col, d)


def keep_last_value(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    value: str = "value",
    out_col: str | None = None,
) -> DataFrame:
    """Graphite ``keepLastValue``: forward-fill nulls with the most
    recent known value per series (window ``last(ignorenulls)`` over an
    unbounded-preceding frame)."""
    from pyspark.sql import Window

    w = _series_window(keys, ts).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(
        out_col or value, F.last(value, ignorenulls=True).over(w)
    )


def integral(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    value: str = "value",
    out_col: str = "running",
) -> DataFrame:
    """Graphite ``integral``: running sum per series from the start of
    the window.  Pass a decimal value column for exact accumulation."""
    from pyspark.sql import Window

    w = _series_window(keys, ts).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.sum(value).over(w))


def time_shift(
    df: DataFrame, seconds: int, ts: str = "ts"
) -> DataFrame:
    """Graphite ``timeShift``: relabel the series ``seconds`` later."""
    return df.withColumn(ts, (F.col(ts) + F.lit(seconds)).cast("long"))


def ewma(
    df: DataFrame,
    keys: Sequence[str],
    alpha: float,
    ts: str = "ts",
    value: str = "value",
    out_col: str = "ewma",
) -> DataFrame:
    """Graphite ``exponentialMovingAverage``: the per-series recurrence
    ``e_1 = x_1; e_t = alpha*x_t + (1-alpha)*e_{t-1}``.

    This is the one render function that is genuinely SEQUENTIAL — the
    recurrence is order-dependent, so no order-independent aggregate or
    window expresses it, and the closed-form power sum rounds differently
    than the recurrence.  Per the engine's UDF policy (Python only where
    built-ins can't express the semantics) it runs as an Arrow-batched
    ``applyInPandas`` over series groups: each series is one group, so
    parallelism scales with series count — the natural partitioning for a
    metrics corpus — and each group does one O(n) pass.

    The float sequence ``alpha*x + beta*prev`` (two products, one add,
    left-to-right) is written identically in the DuckDB recursive-CTE
    oracle, so results are bit-exact across engines.
    """
    import pandas as pd

    beta = 1.0 - alpha
    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(fields + [T.StructField(out_col, T.DoubleType(), True)])
    key_cols = list(keys)

    def _one_series(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        prev = None
        out = []
        for x in pdf[value]:
            if x is None or x != x:  # null/NaN slots propagate the state
                out.append(float("nan") if prev is None else prev)
                continue
            prev = float(x) if prev is None else alpha * float(x) + beta * prev
            out.append(prev)
        pdf[out_col] = out
        return pdf

    return df.groupBy(*key_cols).applyInPandas(_one_series, schema=out_schema)


def holt_linear(
    df: DataFrame,
    keys: Sequence[str],
    alpha: float,
    gamma: float,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Holt double exponential smoothing (the trend half of graphite's
    holtWintersForecast, without the seasonal term):

        l_1 = x_1,  b_1 = 0
        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = gamma*(l_t - l_{t-1}) + (1-gamma)*b_{t-1}

    Adds ``level``, ``trend``, and the one-step-ahead ``forecast``
    (= level + trend).  Same execution shape and determinism contract as
    :func:`ewma`: sequential per-series recurrence -> Arrow-batched
    ``applyInPandas``, one O(n) pass per series, float ops written in the
    exact order the recursive-CTE oracle uses."""
    import pandas as pd

    a, na = alpha, 1.0 - alpha
    g, ng = gamma, 1.0 - gamma
    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("level", T.DoubleType(), True),
            T.StructField("trend", T.DoubleType(), True),
            T.StructField("forecast", T.DoubleType(), True),
        ]
    )

    def _one_series(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        lv = bv = None
        levels, trends, fcs = [], [], []
        nan = float("nan")
        for x in pdf[value]:
            # dense fetch timelines carry NULL (NaN) in gap slots; like
            # ewma, a gap holds the (level, trend) state unchanged and
            # emits the held state — NaN before initialization — instead
            # of poisoning the rest of the series
            if x is None or x != x:
                if lv is None:
                    levels.append(nan); trends.append(nan); fcs.append(nan)
                else:
                    levels.append(lv); trends.append(bv); fcs.append(lv + bv)
                continue
            x = float(x)
            if lv is None:
                lv, bv = x, 0.0
            else:
                prev = lv
                lv = a * x + na * (lv + bv)
                bv = g * (lv - prev) + ng * bv
            levels.append(lv)
            trends.append(bv)
            fcs.append(lv + bv)
        pdf["level"], pdf["trend"], pdf["forecast"] = levels, trends, fcs
        return pdf

    return df.groupBy(*list(keys)).applyInPandas(_one_series, schema=out_schema)


def holt_winters(
    df: DataFrame,
    keys: Sequence[str],
    alpha: float,
    beta: float,
    gamma: float,
    season_length: int,
    band_k: float = 3.0,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Additive-seasonal Holt-Winters with confidence bands — the full
    ``holtWintersForecast`` family (graphite-web holtwinters.py public
    semantics: level/trend/seasonal triple smoothing, one-step-ahead
    forecast, and a seasonally-smoothed absolute deviation that scales
    the ± bands).

        pred_t = l_{t-1} + b_{t-1} + s_{t-m}
        l_t = alpha*(y_t - s_{t-m}) + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
        s_t = gamma*(y_t - l_t) + (1-gamma)*s_{t-m}
        d_t = gamma*|y_t - pred_t| + (1-gamma)*d_{t-m}
        upper/lower_t = pred_t ± band_k * d_t

    with s/d treated as 0 before one full season and the first point
    seeding (l=y, b=0, pred=y, d=0).  Adds ``level, trend, seasonal,
    forecast, deviation, upper, lower``.

    Same execution shape and determinism contract as :func:`ewma`: a
    genuinely SEQUENTIAL per-series recurrence (the seasonal ring makes
    it doubly so) -> Arrow-batched ``applyInPandas``, one O(n) pass per
    series, every float op written in the exact order the recursive-CTE
    oracle uses.  Null/NaN gap slots hold all state and emit the held
    forecast (NaN before initialization), like ewma/holt_linear."""
    import pandas as pd

    a, na = alpha, 1.0 - alpha
    b_, nb = beta, 1.0 - beta
    g, ng = gamma, 1.0 - gamma
    m = int(season_length)
    k = float(band_k)
    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(
        fields
        + [
            T.StructField(c, T.DoubleType(), True)
            for c in (
                "level", "trend", "seasonal", "forecast",
                "deviation", "upper", "lower",
            )
        ]
    )

    def _one_series(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        lv = bv = None
        seasonals: list[float] = []
        devs: list[float] = []
        cols: dict[str, list[float]] = {
            c: []
            for c in (
                "level", "trend", "seasonal", "forecast",
                "deviation", "upper", "lower",
            )
        }
        nan = float("nan")
        i = 0  # recurrence index — advances only on KNOWN slots
        for x in pdf[value]:
            if x is None or x != x:  # gap: hold every piece of state
                if lv is None:
                    for c in cols:
                        cols[c].append(nan)
                else:
                    sp = seasonals[i - m] if i >= m else 0.0
                    held = lv + bv + sp
                    dp = devs[i - m] if i >= m else 0.0
                    cols["level"].append(lv)
                    cols["trend"].append(bv)
                    cols["seasonal"].append(sp)
                    cols["forecast"].append(held)
                    cols["deviation"].append(dp)
                    cols["upper"].append(held + k * dp)
                    cols["lower"].append(held - k * dp)
                continue
            x = float(x)
            sp = seasonals[i - m] if i >= m else 0.0
            dp = devs[i - m] if i >= m else 0.0
            if lv is None:
                pred = x
                lv, bv = x, 0.0
                s_new = g * (x - lv) + ng * sp
                d_new = 0.0
            else:
                pred = lv + bv + sp
                l_new = a * (x - sp) + na * (lv + bv)
                b_new = b_ * (l_new - lv) + nb * bv
                s_new = g * (x - l_new) + ng * sp
                d_new = g * abs(x - pred) + ng * dp
                lv, bv = l_new, b_new
            seasonals.append(s_new)
            devs.append(d_new)
            cols["level"].append(lv)
            cols["trend"].append(bv)
            cols["seasonal"].append(s_new)
            cols["forecast"].append(pred)
            cols["deviation"].append(d_new)
            cols["upper"].append(pred + k * d_new)
            cols["lower"].append(pred - k * d_new)
            i += 1
        for c, vals in cols.items():
            pdf[c] = vals
        return pdf

    return df.groupBy(*list(keys)).applyInPandas(_one_series, schema=out_schema)


def glob_to_regex(pattern: str) -> str:
    """Graphite metric glob -> anchored regex: ``*`` matches within one
    dotted node (never across dots), ``?`` one non-dot char,
    ``{a,b}`` alternation, ``[...]`` char classes pass through; all other
    regex metachars are escaped.  (graphite-web node-matching semantics.)
    """
    out, i = ["^"], 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            out.append("[^.]*")
        elif ch == "?":
            out.append("[^.]")
        elif ch == "{":
            j = pattern.index("}", i)
            out.append("(" + "|".join(pattern[i + 1 : j].split(",")) + ")")
            i = j
        elif ch == "[":
            j = pattern.index("]", i)
            out.append(pattern[i : j + 1])
            i = j
        elif ch in ".\\+^$()|":
            out.append("\\" + ch)
        else:
            out.append(ch)
        i += 1
    out.append("$")
    return "".join(out)


def filter_metrics(
    df: DataFrame, pattern: str, metric: str = "metric"
) -> DataFrame:
    """Select the series matching a graphite glob (``servers.*.cpu``)."""
    return df.filter(F.col(metric).rlike(glob_to_regex(pattern)))


def group_by_node(
    df: DataFrame,
    node: int,
    method: str = "sum",
    metric: str = "metric",
    ts: str = "ts",
    value: str = "value",
    float_fold: bool = False,
) -> DataFrame:
    """Graphite ``groupByNode(series, node, func)``: merge series whose
    dotted name shares node ``node``, aggregating values per timestamp.
    ``sumSeries``/``averageSeries`` over a glob are the node-constant
    special case.

    One groupBy((node-key, ts)) — cross-SERIES aggregation is just a
    re-key; partial aggregation keeps the shuffle narrow however many
    series merge.  ``float_fold=True`` routes sum/average through the
    sorted float64 fold (full precision + order-deterministic on
    arbitrary doubles, see functions/folds.py)."""
    key = F.split(F.col(metric), r"\.").getItem(node).alias(metric)
    agg = _agg_dispatch(method, value, float_fold, order=F.col(ts))
    return (
        df.groupBy(key, F.col(ts))
        .agg(agg.alias(value), F.count(value).alias("n_series"))
    )


def select_archive(
    archives: Sequence[ArchiveSpec],
    now: int,
    from_time: int,
    archive_step: int | None = None,
) -> ArchiveSpec:
    """Pick the archive a fetch reads from.

    The highest-precision (smallest step) archive whose retention covers
    ``now - from_time``; or, when ``archive_step`` is forced, the exact
    archive with that step (reference: whisper.py:943-957).  This is a
    pre-query decision — it becomes a ``resolution = X`` partition filter,
    which is what bounds IO per query regardless of range length
    (partition pruning replaces the reference's O(1) ring addressing,
    SURVEY.md §4).
    """
    diff = now - from_time
    ordered = sorted(archives, key=lambda a: a.seconds_per_point)
    if archive_step is not None:
        for a in ordered:
            if a.seconds_per_point == archive_step:
                return a
        raise ValueError(f"Invalid granularity: {archive_step}")
    for a in ordered:
        if a.retention >= diff:
            return a
    return ordered[-1]


def seasonal_decompose(
    df: DataFrame,
    keys: Sequence[str],
    season_slots: int,
    step: int,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Classical additive seasonal decomposition of a step-aligned
    series frame: ``value = trend + seasonal + resid``.

    * trend: centered moving mean over one full season window
      (``season_slots`` rows, odd-extended to 2k+1), null until the
      window is complete — no partial-window bias at the edges;
    * seasonal: per-phase mean of the detrended values
      (phase = (ts / step) mod season) — NOT re-centered: short or
      edge-trimmed series can leave the phase means with a nonzero
      grand mean, which stays in the seasonal component;
    * resid: what's left.

    One ordered window pass + one phase aggregation — two shuffles on
    the same keys.  The trend mean is a plain float64 window sum (Spark
    adds frame rows in order — the naive fold, full precision); the
    per-phase mean folds the value-sorted array (functions/folds.py),
    so the decomposition is bit-reproducible and oracle-checkable
    without the old decimal route's 1e-6 quantization.
    """
    from pyspark.sql import Window

    from . import folds

    k = season_slots // 2
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(-k, k)
    )

    def dmean(c, over=None):
        if over is not None:
            return F.sum(F.col(c)).over(over) / F.count(c).over(over)
        return folds.fsum(c) / F.count(c)

    full = F.count(value_col).over(w) == (2 * k + 1)
    with_trend = df.select(
        *keys, ts_col, value_col,
        F.when(full, dmean(value_col, w)).alias("trend"),
    )
    det = with_trend.withColumn(
        "_d", F.col(value_col) - F.col("trend")
    ).withColumn(
        "_phase", (F.col(ts_col) / step).cast("long") % season_slots
    )
    ph = det.groupBy(*keys, "_phase").agg(
        dmean("_d").alias("seasonal")
    )
    out = det.join(ph, [*keys, "_phase"], "left").select(
        *keys, ts_col, value_col, "trend",
        F.when(F.col("trend").isNotNull(), F.col("seasonal")).alias("seasonal"),
        F.when(
            F.col("trend").isNotNull(),
            F.col("_d") - F.col("seasonal"),
        ).alias("resid"),
    )
    return out


def cusum(
    df: DataFrame,
    keys: Sequence[str],
    slack: float = 0.5,
    threshold: float = 5.0,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Two-sided CUSUM change-point detector per series (Page 1954,
    public): with target = the series' first value,

        up_t = max(0, up_{t-1} + (x_t - (target + slack)))
        dn_t = max(0, dn_{t-1} + ((target - slack) - x_t))

    alarm = 1 when either sum exceeds ``threshold``.  A sequential
    recurrence like ewma/holt — one Arrow-batched O(n) pass per series
    (parallelism = series count), null/NaN slots carry state.  The
    float op order is written identically in the recursive-CTE oracle,
    so results stay bit-exact.  Adds (cusum_up, cusum_dn, alarm)."""
    import pandas as pd

    fields = [f for f in df.schema.fields]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("cusum_up", T.DoubleType(), True),
            T.StructField("cusum_dn", T.DoubleType(), True),
            T.StructField("alarm", T.IntegerType(), True),
        ]
    )

    def _one_series(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        target = None
        up = dn = 0.0
        ups, dns, alarms = [], [], []
        for x in pdf[value]:
            if x is None or x != x:
                ups.append(up if target is not None else float("nan"))
                dns.append(dn if target is not None else float("nan"))
                alarms.append(
                    1 if target is not None
                    and (up > threshold or dn > threshold) else 0
                )
                continue
            x = float(x)
            if target is None:
                target = x
                up = dn = 0.0
            else:
                up = max(0.0, up + (x - (target + slack)))
                dn = max(0.0, dn + ((target - slack) - x))
            ups.append(up)
            dns.append(dn)
            alarms.append(1 if up > threshold or dn > threshold else 0)
        pdf["cusum_up"] = ups
        pdf["cusum_dn"] = dns
        pdf["alarm"] = pd.array(alarms, dtype="int32")
        return pdf

    return df.groupBy(*list(keys)).applyInPandas(_one_series, schema=out_schema)
