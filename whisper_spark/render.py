"""Graphite target-expression language: parser + evaluator.

The reference repo is storage-only (whisper.py has no query language),
but every graphite user queries it through graphite-web's render API
target strings — ``summarize(sumSeries(servers.*.cpu), "15min", "sum")``.
This module implements that public target syntax over the engine's
series frames, so a reference-stack user can run the queries they run
today directly against the Spark store.

Grammar (graphite-web render API, public docs):

    target := call | path
    call   := NAME '(' arg (',' arg)* ')'
    arg    := target | 'string' | "string" | number
    path   := dotted metric glob  (servers.*.cpu, a.{b,c}.d, x?y[0-9])

Evaluation contract: every node evaluates to a **series frame** — a
DataFrame with columns ``(metric STRING, ts LONG, value DOUBLE)`` — and
every function is a pure DataFrame transformation (window / groupBy /
projection; ``exponentialMovingAverage`` routes to the applyInPandas
recurrence).

Float-sum determinism (round-6 rules — the decimal(25,6) route this
module used through round 5 ROUNDED every addend to 1e-6, which silently
diverged from graphite float semantics for any upstream transform
producing full-precision doubles: sqrt/log/pow/divideSeries; see
tests/test_render_decimal_regression.py):

* **Ordered window frames** (moving windows, running integrals) use a
  plain float64 ``SUM`` — Spark evaluates window frames by adding rows
  in frame order, so the result is the naive time-order fold, exactly
  graphite's ``safeSum`` order, at full precision.  The DuckDB oracles
  mirror it with an explicit frame-order ``list_reduce`` fold (DuckDB's
  built-in windowed SUM uses pairwise/segment-tree combination and is
  NOT bit-identical to the naive fold — verified empirically).
* **Unordered groups** (cross-series combine per ts, summarize buckets)
  fold the value-SORTED array left-to-right in float64: deterministic
  under any partial-aggregation or row order, full precision, and
  exactly mirrorable in SQL (``list_sort`` + fold).  The canonical
  order is by value, a documented deviation from graphite's
  series-list order that can differ only in final-ulp rounding.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions import folds
from .functions import timeseries as TS

#: driver-side expansion guard for the per-series render functions
#: (applyByNode / aliasQuery evaluate one sub-target per matched
#: series/prefix, which is graphite's own shape here).  Charts draw
#: tens of series; a glob matching 100k would launch 100k driver-side
#: jobs, so anything above this limit errors fast with a clear message
#: instead.  Module-level on purpose: a deployment rendering wide
#: dashboards can raise it explicitly.
MAX_QUERY_SERIES = 200


# --------------------------------------------------------------------- #
# parsing
# --------------------------------------------------------------------- #


@dataclass
class Call:
    name: str
    args: list

    def __repr__(self):  # pragma: no cover - debug aid
        return f"{self.name}({', '.join(map(repr, self.args))})"


@dataclass
class Path:
    glob: str

    def __repr__(self):  # pragma: no cover - debug aid
        return self.glob


# a word is a function name or metric glob: dotted segments of
# name/glob chars, where a brace alternation {a,b} is one unit (commas
# are argument separators everywhere else)
_TOKEN = re.compile(
    r"""
    \s*(?:
      (?P<lparen>\() | (?P<rparen>\)) | (?P<comma>,)
    | (?P<string>'[^']*'|"[^"]*")
    | (?P<number>-?\d+\.\d+|-?\d+)(?![\w.])
    | (?P<word>(?:[\w*?\[\]\-]|\{[^}]*\}|\.)+)
    )""",
    re.X,
)


class TargetSyntaxError(ValueError):
    pass


def _tokenize(s: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN.match(s, i)
        if not m or m.end() == i:
            raise TargetSyntaxError(f"bad token at {s[i:i+20]!r}")
        kind = m.lastgroup
        text = m.group(kind)
        # a word followed by '(' is a function name; the word regex is
        # greedy over commas inside {a,b} braces, so split a trailing
        # bare comma back out
        out.append((kind, text))
        i = m.end()
    return out


def parse_target(s: str) -> Call | Path:
    """Parse one render target string into an AST."""
    toks = _tokenize(s)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else (None, None)

    def take(kind=None):
        nonlocal pos
        if pos >= len(toks):
            raise TargetSyntaxError("unexpected end of target")
        k, t = toks[pos]
        if kind and k != kind:
            raise TargetSyntaxError(f"expected {kind}, got {t!r}")
        pos += 1
        return k, t

    def expr():
        k, t = take()
        if k == "word":
            if peek()[0] == "lparen":
                take("lparen")
                args = []
                if peek()[0] != "rparen":
                    args.append(arg())
                    while peek()[0] == "comma":
                        take("comma")
                        args.append(arg())
                take("rparen")
                return Call(t, args)
            return Path(t)
        if k == "string":
            return t[1:-1]
        if k == "number":
            return float(t) if "." in t else int(t)
        raise TargetSyntaxError(f"unexpected {t!r}")

    def arg():
        return expr()

    node = expr()
    if pos != len(toks):
        raise TargetSyntaxError(f"trailing input: {toks[pos:]}")
    if isinstance(node, (str, int, float)):
        raise TargetSyntaxError("target must be a path or function call")
    return node


_DURATION = re.compile(r"^([+-]?)(\d+)(s|min|h|d|w|mon|y)$")
_DUR_SECONDS = {
    "s": 1, "min": 60, "h": 3600, "d": 86400, "w": 604800,
    "mon": 2592000, "y": 31536000,
}


_AT_OFFSET = re.compile(r"([+-])(\d+)(s|min|h|d|w|mon|y)")


def parse_at_time(s: str | int, now: int) -> int:
    """graphite's at-style time grammar -> epoch seconds (UTC).

    The render API's from/until values (graphite-web attime.py, public
    syntax): a base reference — ``now`` (default), ``midnight``/
    ``today``, ``noon``, ``teatime`` (16:00), ``yesterday``,
    ``tomorrow``, an epoch integer, ``YYYYMMDD``, or
    ``HH:MM_YYYYMMDD`` — followed by any number of signed offsets
    (``now-1h``, ``midnight+30min``, ``-7d``).  Day-anchored keywords
    resolve against UTC (the engine is epoch-based; graphite resolves
    against the server timezone — documented divergence).
    """
    import datetime as _dt

    if isinstance(s, int):
        return s
    t = s.strip().lower().replace(" ", "")
    m = re.match(r"^([^+-]*)((?:[+-].*)?)$", t)
    base, offs = m.group(1), m.group(2)
    nowdt = _dt.datetime.fromtimestamp(now, _dt.timezone.utc)
    midnight = nowdt.replace(hour=0, minute=0, second=0, microsecond=0)

    def _ts(d):
        return int(d.timestamp())

    if base in ("", "now"):
        ref = now
    elif base in ("midnight", "today"):
        ref = _ts(midnight)
    elif base == "noon":
        ref = _ts(midnight) + 12 * 3600
    elif base == "teatime":
        ref = _ts(midnight) + 16 * 3600
    elif base == "yesterday":
        ref = _ts(midnight) - 86400
    elif base == "tomorrow":
        ref = _ts(midnight) + 86400
    elif re.fullmatch(r"\d{1,2}:\d{2}_\d{8}", base):
        hhmm, ymd = base.split("_")
        hh, mm = hhmm.split(":")
        d = _dt.datetime(
            int(ymd[:4]), int(ymd[4:6]), int(ymd[6:8]),
            int(hh), int(mm), tzinfo=_dt.timezone.utc,
        )
        ref = _ts(d)
    elif re.fullmatch(r"\d{8}", base):
        d = _dt.datetime(
            int(base[:4]), int(base[4:6]), int(base[6:8]),
            tzinfo=_dt.timezone.utc,
        )
        ref = _ts(d)
    elif base.isdigit():
        ref = int(base)
    else:
        raise TargetSyntaxError(f"bad at-style time {s!r}")
    consumed = 0
    for sign, num, unit in _AT_OFFSET.findall(offs):
        delta = int(num) * _DUR_SECONDS[unit]
        ref += delta if sign == "+" else -delta
        consumed += len(sign) + len(num) + len(unit)
    if consumed != len(offs):
        raise TargetSyntaxError(f"bad at-style offset in {s!r}")
    return ref


def parse_duration(s: str | int) -> int:
    """'15min' -> 900 (graphite render-API interval syntax).  An
    optional sign is honored ('-1h' -> -3600): graphite's
    parseTimeOffset accepts signed offsets for timeShift/timeSlice."""
    if isinstance(s, int):
        return s
    m = _DURATION.match(s.strip())
    if not m:
        raise TargetSyntaxError(f"bad duration {s!r}")
    sign = -1 if m.group(1) == "-" else 1
    return sign * int(m.group(2)) * _DUR_SECONDS[m.group(3)]


# --------------------------------------------------------------------- #
# evaluation
# --------------------------------------------------------------------- #


def _fsum(col):
    """Order-canonical full-precision float sum for an UNORDERED group
    (see functions/folds.py)."""
    return folds.fsum(col)


def _fsum_win(w, col="value"):
    """Sorted float fold over a window whose frame has NO deterministic
    row order (e.g. partitionBy(ts) with no ORDER BY)."""
    return folds.fsum_win_sorted(w, col)


def _series_label(df: DataFrame, label: str) -> DataFrame:
    return df.withColumn("metric", F.lit(label))


def _agg_expr(how: str):
    """Aggregate Column for a cross-series combine group — the shared
    dispatch behind sumSeries/averageSeries/aggregate()/groupByNodes().
    Sums and averages fold the value-sorted array in float64 (module
    determinism rules — full precision, order-canonical);
    ``median`` is graphite's safeMedian (average of the two middle
    stored values for even counts); ``diff``/``last`` resolve list
    order as metric-name order, the order a glob fetch produces."""
    if how == "sum":
        return _fsum("value")
    if how in ("avg", "average"):
        return _fsum("value") / F.count("value")
    if how == "max":
        return F.max("value")
    if how == "min":
        return F.min("value")
    if how == "count":
        return F.count("value").cast("double")
    if how in ("range", "rangeOf"):
        return F.max("value") - F.min("value")
    if how == "stddev":
        return F.stddev_pop("value")
    if how == "median":
        arr = F.array_sort(F.collect_list("value"))
        n = F.size(arr)
        # when/otherwise does NOT short-circuit evaluation: both branches
        # run for every row, so the even-count indices must stay valid
        # (>= 1) on odd/singleton groups too — clamp instead of trusting
        # the branch condition
        lo = F.greatest((n / 2).cast("int"), F.lit(1))
        hi = F.greatest(F.least((n / 2 + 1).cast("int"), n), F.lit(1))
        odd = F.try_element_at(arr, F.greatest(((n + 1) / 2).cast("int"), F.lit(1)))
        even = (F.try_element_at(arr, lo) + F.try_element_at(arr, hi)) / 2.0
        return F.when(n == 0, F.lit(None).cast("double")).when(
            n % 2 == 1, odd
        ).otherwise(even)
    if how == "multiply":
        return F.when(
            F.count("*") == F.count("value"), F.product("value")
        )
    if how == "last":
        # last non-null value in list (= metric-name) order
        return F.max_by(
            "value", F.when(F.col("value").isNotNull(), F.col("metric"))
        )
    if how == "diff":
        # graphite safeDiff: first NON-null value (name order) minus the
        # sum of the remaining non-null values — a null in the first
        # series does not null the result
        first = F.min_by(
            "value", F.when(F.col("value").isNotNull(), F.col("metric"))
        )
        return first - (_fsum("value") - first)
    raise TargetSyntaxError(f"unknown aggregate function {how!r}")


def _combine(df: DataFrame, label: str, how: str) -> DataFrame:
    """Cross-series combine per timestamp (sumSeries & friends)."""
    return df.groupBy("ts").agg(_agg_expr(how).alias("value")).select(
        F.lit(label).alias("metric"), "ts", "value"
    )


def _summarize(df: DataFrame, step: int, how: str, bucket=None) -> DataFrame:
    b = (
        bucket if bucket is not None else (F.col("ts") - F.col("ts") % step)
    ).alias("ts")
    g = df.groupBy("metric", b)
    if how == "sum":
        agg = _fsum("value")
    elif how in ("avg", "average"):
        agg = _fsum("value") / F.count("value")
    elif how == "max":
        agg = F.max("value")
    elif how == "min":
        agg = F.min("value")
    elif how == "last":
        agg = F.max_by("value", "ts")
    else:
        raise TargetSyntaxError(f"bad summarize function {how!r}")
    return g.agg(agg.alias("value")).select("metric", "ts", "value")


def _moving_median_expr(n: int):
    """Nearest-rank median of the trailing n-row frame: a stored value,
    no interpolation (engine-exact like percentileOfSeries)."""
    return F.expr(
        "element_at(array_sort(collect_list(value) "
        f"OVER (PARTITION BY metric ORDER BY ts "
        f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)), "
        "greatest(cast(ceil(size(collect_list(value) "
        f"OVER (PARTITION BY metric ORDER BY ts "
        f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)) * 0.5) "
        "as int), 1))"
    )


def _sw(n: int | None = None):
    """Per-series sliding row frame.  When the input is a COMBINED
    series (post-sumSeries/asPercent the metric key is a literal and
    Catalyst folds the partition away), this window runs on one
    partition — deliberately accepted: a render timeline is bounded by
    time-range/step (graphite's maxDataPoints contract), so the frame
    is render-bounded like the capped series ranks, NOT
    corpus-proportional.  Per-metric inputs keep the metric partition
    and parallelize across series as usual."""
    w = Window.partitionBy("metric").orderBy("ts")
    return w.rowsBetween(-(n - 1), 0) if n else w


def _xff_gate(val, w, n: int, xff: float | None):
    """graphite 1.1 moving-function xFilesFactor: the point is None
    unless >= xff of the window's n slots hold a known value."""
    if not xff:
        return val
    return F.when(
        F.count("value").over(w) >= float(xff) * n, val
    )


def _moving_avg(df: DataFrame, n: int, xff: float | None = None) -> DataFrame:
    w = _sw(int(n))
    # ordered frame: plain float64 sum IS the naive time-order fold
    val = F.sum("value").over(w) / F.count("value").over(w)
    return df.select(
        "metric", "ts", _xff_gate(val, w, n, xff).alias("value")
    )


def _top_by_avg(df: DataFrame, n: int) -> DataFrame:
    # distributed top-N (TakeOrderedAndProject), NOT a partition-less
    # row_number window: the per-series aggregate is one row per metric,
    # but a global rank window would single-partition on a
    # millions-of-series glob; orderBy().limit() keeps n per partition
    # then merges
    ser = df.groupBy("metric").agg(
        (_fsum("value") / F.count("value")).alias("_avg")
    )
    keep = ser.orderBy(F.desc("_avg"), F.asc("metric")).limit(int(n))
    return _keep_series(df, keep)


def _sort_by_total(df: DataFrame, n: int | None) -> DataFrame:
    if n is None:
        # sortByTotal without a limit: DataFrames carry no row order and
        # no caller consumes a rank column, so reordering the full list
        # is the identity here (limit(sortByTotal(...)) composes through
        # _SORT_ORDERS instead) — ranking millions of series through a
        # global window for nothing is the scale bug this avoids
        return df.select("metric", "ts", "value")
    tot = df.groupBy("metric").agg(_fsum("value").alias("_tot"))
    keep = tot.orderBy(F.desc("_tot"), F.asc("metric")).limit(int(n))
    return _keep_series(df, keep)


def _alias_by_node(df: DataFrame, *nodes: int) -> DataFrame:
    parts = F.split(F.col("metric"), r"\.")
    label = F.concat_ws(
        ".", *[F.element_at(parts, int(n) + 1) for n in nodes]
    )
    return df.withColumn("metric", label)


def _percentile_of_series(df: DataFrame, p: float, label: str) -> DataFrame:
    """Nearest-rank percentile across series per timestamp.

    NULL slots (gap-filled frames) are excluded before ranking —
    graphite's percentileOfSeries ignores None values, and counting
    them would both shift the nearest-rank index and risk selecting a
    NULL value."""
    w = Window.partitionBy("ts")
    rk = df.filter(F.col("value").isNotNull()).select(
        "ts", "value",
        F.row_number().over(w.orderBy("value", "metric")).alias("_rn"),
        F.count("*").over(w).alias("_n"),
    )
    target = F.ceil(F.col("_n") * float(p) / 100.0).cast("long")
    return rk.filter(F.col("_rn") == F.greatest(target, F.lit(1))).select(
        F.lit(label).alias("metric"), "ts", F.col("value")
    )


def _series_stat(func: str):
    """Per-series scalar statistic (one row per metric after groupBy) —
    the key function behind filterSeries/highest/lowest/aggregateLine."""
    if func in ("average", "avg"):
        return _fsum("value") / F.count("value")
    if func in ("sum", "total"):
        return _fsum("value")
    if func == "max":
        return F.max("value")
    if func == "min":
        return F.min("value")
    if func in ("current", "last"):
        return F.max_by("value", F.when(F.col("value").isNotNull(), F.col("ts")))
    if func == "stddev":
        return F.stddev_pop("value")
    if func == "count":
        return F.count("value").cast("double")
    if func == "median":
        return _agg_expr("median")
    raise TargetSyntaxError(f"unknown series statistic {func!r}")


def _keep_series(df: DataFrame, keep: DataFrame) -> DataFrame:
    """Restrict ``df`` to the metrics in ``keep`` (a tiny one-column
    frame — always broadcast: series count is bounded, points are not)."""
    return df.join(F.broadcast(keep.select("metric")), "metric").select(
        "metric", "ts", "value"
    )


def _name_ranks(df: DataFrame, what: str) -> DataFrame:
    """Sorted-name 1-based ranks for positional series pairing
    (asPercent multi-total, *SeriesLists).  Pairing needs a DENSE rank
    over every name, which a partition-less row_number window would
    single-partition at scale — instead the name list is
    driver-collected under the MAX_QUERY_SERIES guard (pairing lists
    are tens of series by the render contract; the same guarded-collect
    shape aliasQuery/applyByNode already use) and broadcast back as a
    literal (metric, _rk) table."""
    names = sorted(
        r["metric"]
        for r in df.select("metric")
        .distinct()
        .limit(MAX_QUERY_SERIES + 1)
        .collect()
    )
    if len(names) > MAX_QUERY_SERIES:
        raise TargetSyntaxError(
            f"{what}: over {MAX_QUERY_SERIES} series in a positional "
            f"pairing list; narrow the glob or raise "
            f"whisper_spark.render.MAX_QUERY_SERIES"
        )
    return df.sparkSession.createDataFrame(
        [(nm, i + 1) for i, nm in enumerate(names)],
        "metric string, _rk int",
    )


def _rank_series(df: DataFrame, n: int, func: str, ascending: bool) -> DataFrame:
    """Keep the n series ranked best by a per-series statistic
    (highest/lowest/highestAverage/... share this one shape)."""
    stat = df.groupBy("metric").agg(_series_stat(func).alias("_s"))
    order = (
        [F.asc("_s"), F.asc("metric")] if ascending
        else [F.desc("_s"), F.asc("metric")]
    )
    # TakeOrderedAndProject, not a global rank window (see _top_by_avg)
    keep = stat.orderBy(*order).limit(int(n))
    return _keep_series(df, keep)


def _graphite_pct_rank(p, n):
    """graphite getPercentile's nearest-rank index (1-based Column):
    rank = int(p/100 * (len+1)), clamped to [1, len]."""
    raw = F.floor(F.lit(float(p)) / 100.0 * (n + 1)).cast("long")
    return F.least(F.greatest(raw, F.lit(1)), n)


def _boolish(a) -> bool:
    """Boolean render-target argument: graphite targets write true/false
    as bare words, which the tokenizer reads as Paths."""
    if isinstance(a, Path):
        return a.glob.lower() == "true"
    if isinstance(a, str):
        return a.lower() == "true"
    return bool(a)


# graphite's sort functions order the series LIST; frames are unordered
# sets, so the order materializes where list position matters: `limit`
# (and CLI output) consults the child sort via this table.
_SORT_ORDERS = {
    "sortByTotal": ("sum", False),
    "sortByMaxima": ("max", False),
    "sortByMinima": ("min", True),
    "sortByName": (None, True),
}


def _tag_value(tag: str):
    """Value of ``tag`` in a carbon tagged-metric name
    (``name;key1=v1;key2=v2``).  The pseudo-tag ``name`` is the part
    before the first ';'.  Missing tags read as '' (graphite's
    behavior for formatting/grouping)."""
    if tag == "name":
        return F.substring_index(F.col("metric"), ";", 1)
    return F.regexp_extract(F.col("metric"), ";" + re.escape(tag) + "=([^;]*)", 1)


_TAG_EXPR = re.compile(r"^([^=~!]+)(!?=~?)(.*)$")


def _tag_filter(expr: str):
    """One seriesByTag filter expression -> boolean Column.
    Operators: = exact, != not-equal, =~ regex (anchored at start,
    graphite semantics), !=~ negated regex."""
    m = _TAG_EXPR.match(expr.strip())
    if not m:
        raise TargetSyntaxError(f"seriesByTag: bad expression {expr!r}")
    tag, op, val = m.group(1).strip(), m.group(2), m.group(3)
    v = _tag_value(tag)
    if op == "=":
        return v == val
    if op == "!=":
        return v != val
    if op == "=~":
        return v.rlike("^" + val)
    if op == "!=~":
        return ~v.rlike("^" + val)
    raise TargetSyntaxError(f"seriesByTag: bad operator in {expr!r}")


def _series_step_col(df: DataFrame) -> DataFrame:
    """Annotate each row with its series' native step (seconds between
    consecutive points), derived from the data itself: the minimum
    positive ts delta per metric.  Two windows on the same partition key
    → one shuffle.  Single-point series (no delta) fall back to 60s —
    graphite's conventional finest step."""
    w_ord = Window.partitionBy("metric").orderBy("ts")
    with_delta = df.withColumn(
        "_delta", F.col("ts") - F.lag("ts").over(w_ord)
    )
    w_all = Window.partitionBy("metric")
    return with_delta.withColumn(
        "_step", F.coalesce(F.min("_delta").over(w_all), F.lit(60))
    ).drop("_delta")


def _evaluate(node, source: DataFrame, text: str, step: int | None = None) -> DataFrame:
    if isinstance(node, Path):
        return TS.filter_metrics(source, node.glob).select("metric", "ts", "value")
    if not isinstance(node, Call):
        raise TargetSyntaxError(f"cannot evaluate literal {node!r}")

    name, args = node.name, node.args

    def series(i=0) -> DataFrame:
        if i >= len(args):
            raise TargetSyntaxError(f"{name}: missing series argument")
        return _evaluate(args[i], source, text, step)

    def need(i: int, what: str):
        if i >= len(args):
            raise TargetSyntaxError(f"{name}: missing argument {i} ({what})")
        return args[i]

    label = f"{name}({', '.join(map(repr, args))})"

    def window_points(ws) -> int:
        """graphite's moving-* windowSize: a point count, or a duration
        string converted at the series step (threaded fetch step, else
        60s — the same convention as exponentialMovingAverage)."""
        if isinstance(ws, str):
            return max(1, parse_duration(ws) // (step or 60))
        n = int(ws)
        if n < 1:
            raise TargetSyntaxError(
                f"{name}: windowSize must be >= 1, got {ws!r}"
            )
        return n

    def all_series(start=0) -> DataFrame:
        """Union every series argument from ``start`` on — graphite's
        combine functions accept N seriesLists, not just one."""
        dfs = [
            _evaluate(a, source, text, step)
            for a in args[start:]
            if isinstance(a, (Path, Call))
        ]
        if not dfs:
            raise TargetSyntaxError(f"{name}: needs at least one series")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    if name in ("sumSeries", "sum"):
        return _combine(all_series(), label, "sum")
    if name in ("averageSeries", "avg"):
        return _combine(all_series(), label, "avg")
    if name == "maxSeries":
        return _combine(all_series(), label, "max")
    if name == "minSeries":
        return _combine(all_series(), label, "min")
    if name == "rangeOfSeries":
        return (
            all_series()
            .groupBy("ts")
            .agg((F.max("value") - F.min("value")).alias("value"))
            .select(F.lit(label).alias("metric"), "ts", "value")
        )
    if name == "countSeries":
        return (
            all_series()
            .groupBy("ts")
            .agg(F.count("value").cast("double").alias("value"))
            .select(F.lit(label).alias("metric"), "ts", "value")
        )
    if name == "stddevSeries":
        # population stddev across series per timestamp (graphite uses
        # the population form)
        return (
            all_series()
            .groupBy("ts")
            .agg(F.stddev_pop("value").alias("value"))
            .select(F.lit(label).alias("metric"), "ts", "value")
        )
    if name == "diffSeries":
        # first seriesList minus the sum of the rest; None others count
        # as 0, a None minuend stays None (graphite safeDiff)
        first = (
            series()
            .groupBy("ts")
            .agg(_fsum("value").alias("_a"))
        )
        rest = (
            all_series(1)
            .groupBy("ts")
            .agg(_fsum("value").alias("_b"))
        )
        return (
            first.join(rest, "ts", "left")
            .select(
                F.lit(label).alias("metric"), "ts",
                (F.col("_a") - F.coalesce(F.col("_b"), F.lit(0.0))).alias("value"),
            )
        )
    if name == "divideSeries":
        dividend = series().groupBy("ts").agg(_fsum("value").alias("_a"))
        divisor = series(1).groupBy("ts").agg(_fsum("value").alias("_b"))
        return (
            dividend.join(divisor, "ts", "left")
            .select(
                F.lit(label).alias("metric"), "ts",
                F.when(
                    F.col("_b").isNotNull() & (F.col("_b") != 0.0),
                    F.col("_a") / F.col("_b"),
                ).alias("value"),
            )
        )
    if name == "multiplySeries":
        prod = all_series().groupBy("ts").agg(
            F.product("value").alias("value"), F.count("value").alias("_n")
        )
        n_series = len(args)
        # graphite safeMul: a slot where ANY series is unknown yields
        # None — gate on KNOWN values, not rows: a dense frame carries
        # explicit null rows, which must not satisfy the gate
        return prod.select(
            F.lit(label).alias("metric"), "ts",
            F.when(F.col("_n") == n_series, F.col("value")).alias("value"),
        )
    if name == "summarize":
        bucket = parse_duration(need(1, "interval"))
        how = args[2] if len(args) > 2 else "sum"
        if len(args) > 3 and _boolish(args[3]):
            # alignToFrom=true: buckets anchored at each series' own
            # start instead of the epoch — smartSummarize's alignment
            w = Window.partitionBy("metric")
            df = series().withColumn("_t0", F.min("ts").over(w))
            b = (
                F.col("_t0")
                + ((F.col("ts") - F.col("_t0"))
                   - (F.col("ts") - F.col("_t0")) % bucket)
            )
            return _summarize(df, bucket, how, bucket=b)
        return _summarize(series(), bucket, how)
    if name == "hitcount":
        bucket = parse_duration(need(1, "interval"))
        base = series()
        if step is not None:
            # caller threaded the fetch step through (CLI render path) —
            # multiply by it directly, no extra window needed
            base = base.withColumn("_step", F.lit(step))
        else:
            base = _series_step_col(base)
        scaled = base.withColumn(
            "value",
            F.col("value") * F.col("_step"),
        ).select("metric", "ts", "value")
        return _summarize(scaled, bucket, "sum")
    if name == "movingAverage":
        xf = float(args[2]) if len(args) > 2 else None
        return _moving_avg(series(), window_points(need(1, "windowSize")), xf)
    if name in ("movingSum", "movingMax", "movingMin", "movingMedian"):
        n = window_points(need(1, "windowSize"))
        xf = float(args[2]) if len(args) > 2 else None
        w = _sw(n)
        if name == "movingSum":
            val = F.sum("value").over(w)
        elif name == "movingMax":
            val = F.max("value").over(w)
        elif name == "movingMin":
            val = F.min("value").over(w)
        else:
            val = _moving_median_expr(n)
        return series().select(
            "metric", "ts", _xff_gate(val, w, n, xf).alias("value")
        )
    if name == "asPercent":
        # one-arg: share of the per-ts total across the list; two-arg:
        # against a constant, or against another seriesList's per-ts sum
        df = series()
        if len(args) > 1 and isinstance(args[1], (int, float)):
            tot = F.lit(float(args[1]))
        elif len(args) > 1:
            tot_df = series(1)
            # graphite pairs a MULTI-series total list one-to-one with
            # the series list (sorted-name pairing); only a 1-series
            # total divides every series (one bounded driver probe to
            # tell the cases apart)
            multi_total = (
                len(tot_df.select("metric").distinct().take(2)) > 1
            )
            if multi_total:
                def ranked(d, col):
                    names = _name_ranks(d, "asPercent")
                    return d.join(F.broadcast(names), "metric").select(
                        *( ["metric"] if col == "_a" else [] ),
                        "_rk", "ts", F.col("value").alias(col),
                    )
                a = ranked(df, "_a")
                b = ranked(tot_df, "_b")
                return a.join(b, ["_rk", "ts"], "left").select(
                    "metric", "ts",
                    F.when(
                        F.col("_b").isNotNull() & (F.col("_b") != 0.0),
                        F.col("_a") / F.col("_b") * 100.0,
                    ).alias("value"),
                )
            totals = tot_df.groupBy("ts").agg(_fsum("value").alias("_tot"))
            return (
                df.join(totals, "ts", "left")
                .select(
                    "metric", "ts",
                    F.when(
                        F.col("_tot").isNotNull() & (F.col("_tot") != 0.0),
                        F.col("value") / F.col("_tot") * 100.0,
                    ).alias("value"),
                )
            )
        else:
            # unordered per-ts partition: sorted fold for determinism
            w = Window.partitionBy("ts")
            tot = _fsum_win(w)
        return df.select(
            "metric", "ts",
            F.when(tot != 0.0, F.col("value") / tot * 100.0).alias("value"),
        )
    if name == "offsetToZero":
        w = Window.partitionBy("metric")
        return series().select(
            "metric", "ts",
            (F.col("value") - F.min("value").over(w)).alias("value"),
        )
    if name == "derivative":
        return (
            TS.derivative(series(), ["metric"], out_col="_d")
            .select("metric", "ts", F.col("_d").alias("value"))
        )
    if name == "nonNegativeDerivative":
        mv = float(args[1]) if len(args) > 1 else None
        return (
            TS.derivative(series(), ["metric"], out_col="_d",
                          non_negative=True, max_value=mv)
            .select("metric", "ts", F.col("_d").alias("value"))
        )
    if name == "keepLastValue":
        if len(args) > 1:
            # limit = max gap length to fill: graphite fills a run of
            # Nones ONLY when the whole run is <= limit slots (longer
            # gaps stay broken, not prefix-filled).  Gap length needs the
            # next known slot (or series end, for trailing gaps) — same
            # row-index windows as interpolate's limit.
            gap_limit = int(args[1])
            w = Window.partitionBy("metric").orderBy("ts")
            wp = w.rowsBetween(Window.unboundedPreceding, 0)
            wn = w.rowsBetween(0, Window.unboundedFollowing)
            wall = Window.partitionBy("metric")
            df = series().withColumn("_idx", F.row_number().over(w))
            known_idx = F.when(F.col("value").isNotNull(), F.col("_idx"))
            ctx = df.select(
                "metric", "ts", "value", "_idx",
                F.last("value", ignorenulls=True).over(wp).alias("_pv"),
                F.last(known_idx, ignorenulls=True).over(wp).alias("_pidx"),
                F.first(known_idx, ignorenulls=True).over(wn).alias("_nidx"),
                F.max("_idx").over(wall).alias("_maxidx"),
            )
            gap_len = (
                F.coalesce(F.col("_nidx"), F.col("_maxidx") + 1)
                - F.col("_pidx") - 1
            )
            return ctx.select(
                "metric", "ts",
                F.when(F.col("value").isNotNull(), F.col("value"))
                .when(gap_len <= gap_limit, F.col("_pv"))
                .alias("value"),
            )
        return TS.keep_last_value(series(), ["metric"])
    if name == "integral":
        # ordered running frame: plain float64 running sum = graphite's
        # time-order accumulation at full precision
        out = TS.integral(series(), ["metric"], out_col="_r")
        return out.select(
            "metric", "ts", F.col("_r").alias("value")
        )
    if name == "timeShift":
        # graphite parseTimeOffset: no sign or '-' means "back in time"
        # (yesterday's data drawn at the present -> ts moves FORWARD);
        # an explicit '+' looks ahead -> ts moves back
        raw = need(1, "timeShift")
        ahead = isinstance(raw, str) and raw.strip().startswith("+")
        shift = abs(parse_duration(raw))
        return TS.time_shift(series(), -shift if ahead else shift)
    if name == "scale":
        return series().withColumn("value", F.col("value") * float(need(1, "factor")))
    if name == "offset":
        return series().withColumn("value", F.col("value") + float(need(1, "factor")))
    if name == "absolute":
        return series().withColumn("value", F.abs(F.col("value")))
    if name == "removeAboveValue":
        return series().withColumn(
            "value", F.when(F.col("value") <= float(need(1, "n")), F.col("value"))
        )
    if name == "removeBelowValue":
        return series().withColumn(
            "value", F.when(F.col("value") >= float(need(1, "n")), F.col("value"))
        )
    if name == "highestAverage":
        return _top_by_avg(series(), int(need(1, "n")))
    if name == "sortByTotal":
        return _sort_by_total(series(), None)
    if name == "limit":
        # graphite's limit keeps the FIRST n series of the list — name
        # order for a glob fetch, or the child sort function's order when
        # the argument is sortByTotal/sortByName/sortByMaxima/sortByMinima
        n = int(need(1, "n"))
        child = args[0] if args else None
        if isinstance(child, Call) and child.name in _SORT_ORDERS:
            func, asc = _SORT_ORDERS[child.name]
            if func is not None:
                return _rank_series(series(), n, func, asc)
        if isinstance(child, Call) and child.name == "sortBy":
            func = str(child.args[1]) if len(child.args) > 1 else "average"
            reverse = _boolish(child.args[2]) if len(child.args) > 2 else False
            return _rank_series(series(), n, func, not reverse)
        # first-n-by-name via TakeOrderedAndProject, not a global rank
        # window (see _top_by_avg)
        keep = (
            series().select("metric").distinct().orderBy("metric").limit(n)
        )
        return _keep_series(series(), keep)
    if name == "exponentialMovingAverage":
        # graphite-web semantics: the 2nd arg is a WINDOW SIZE (number of
        # points, or a duration string), and alpha = 2/(windowSize+1) —
        # NOT a raw alpha.  Duration windows need the series step to
        # convert to points: use the threaded fetch step when available,
        # else 60s (graphite's conventional finest step).
        ws = need(1, "windowSize")
        if isinstance(ws, str):
            n = max(1, parse_duration(ws) // (step or 60))
        else:
            n = int(ws)
            if n < 1:
                raise TargetSyntaxError(
                    f"exponentialMovingAverage: windowSize must be >= 1, got {ws!r}"
                )
        alpha = 2.0 / (n + 1.0)
        out = TS.ewma(series(), ["metric"], alpha=alpha)
        return out.select("metric", "ts", F.col("ewma").alias("value"))
    if name == "groupByNode":
        node_idx = int(need(1, "node"))
        method = args[2] if len(args) > 2 else "average"
        out = TS.group_by_node(series(), node_idx, method=method, float_fold=True)
        return out.select("metric", "ts", "value")
    if name == "alias":
        return _series_label(series(), need(1, "newName"))
    if name == "aliasByNode":
        return _alias_by_node(series(), *args[1:])
    if name == "percentileOfSeries":
        return _percentile_of_series(series(), float(need(1, "n")), label)
    if name == "transformNull":
        default = float(args[1]) if len(args) > 1 else 0.0
        if len(args) > 2 and isinstance(args[2], (Path, Call)):
            # 3-arg form: only fill slots where the referenceSeries list
            # has at least one known (non-null) value — graphite-web's
            # `any(v is not None for v in x)` across the reference list;
            # a reference slot of exactly 0.0 DOES enable the fill
            ref = (
                _evaluate(args[2], source, text, step)
                .groupBy("ts")
                .agg((F.count("value") > 0).alias("_ref"))
            )
            return (
                series()
                .join(ref, "ts", "left")
                .select(
                    "metric", "ts",
                    F.when(
                        F.col("value").isNull()
                        & F.coalesce(F.col("_ref"), F.lit(False)),
                        F.lit(default),
                    ).otherwise(F.col("value")).alias("value"),
                )
            )
        return series().withColumn(
            "value", F.coalesce(F.col("value"), F.lit(default))
        )
    if name == "isNonNull":
        return series().withColumn(
            "value", F.col("value").isNotNull().cast("double")
        )
    if name == "invert":
        return series().withColumn(
            "value",
            F.when(F.col("value") != 0.0, F.lit(1.0) / F.col("value")),
        )
    if name in ("logarithm", "log"):
        base = float(args[1]) if len(args) > 1 else 10.0
        return series().withColumn(
            "value",
            F.when(F.col("value") > 0.0, F.log(base, F.col("value"))),
        )
    if name == "sigmoid":
        return series().withColumn(
            "value", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("value")))
        )
    if name == "logit":
        return series().withColumn(
            "value",
            F.when(
                (F.col("value") > 0.0) & (F.col("value") < 1.0),
                F.log(F.col("value") / (F.lit(1.0) - F.col("value"))),
            ),
        )
    if name == "exp":
        return series().withColumn("value", F.exp(F.col("value")))
    if name == "squareRoot":
        return series().withColumn(
            "value", F.when(F.col("value") >= 0.0, F.sqrt(F.col("value")))
        )
    if name == "pow":
        return series().withColumn(
            "value", F.pow(F.col("value"), F.lit(float(need(1, "factor"))))
        )
    if name == "powSeries":
        # graphite's powSeries is a CROSS-SERIES fold, not pow-by-constant:
        # at each ts, fold pow left-to-right over the series in list
        # (= metric-name) order; any None poisons the slot (safePow).
        vals = F.expr(
            "transform(array_sort(collect_list(struct(metric, value))), "
            "s -> s.value)"
        )
        folded = F.expr(
            "aggregate(slice(_vs, 2, size(_vs) - 1), _vs[0], "
            "(acc, x) -> power(acc, x))"
        )
        return (
            all_series()
            .groupBy("ts")
            .agg(vals.alias("_vs"))
            .select(F.lit(label).alias("metric"), "ts", folded.alias("value"))
        )
    if name == "perSecond":
        # nonNegativeDerivative divided by the per-slot time delta
        mv = float(args[1]) if len(args) > 1 else None
        d = TS.derivative(series(), ["metric"], out_col="_d",
                          non_negative=True, max_value=mv)
        w = Window.partitionBy("metric").orderBy("ts")
        return d.select(
            "metric", "ts",
            (F.col("_d") / (F.col("ts") - F.lag("ts").over(w))).alias("value"),
        )
    if name == "delay":
        steps = int(need(1, "steps"))
        w = Window.partitionBy("metric").orderBy("ts")
        return series().select(
            "metric", "ts", F.lag("value", steps).over(w).alias("value")
        )
    if name in (
        "averageAbove", "averageBelow", "currentAbove", "currentBelow",
        "maximumAbove", "maximumBelow", "minimumAbove", "minimumBelow",
    ):
        n = float(need(1, "n"))
        df = series()
        if name.startswith("average"):
            stat = (_fsum("value") / F.count("value")).alias("_s")
        elif name.startswith("current"):
            stat = F.max_by("value", F.when(F.col("value").isNotNull(), F.col("ts"))).alias("_s")
        elif name.startswith("maximum"):
            stat = F.max("value").alias("_s")
        else:
            stat = F.min("value").alias("_s")
        keep = df.groupBy("metric").agg(stat)
        cond = F.col("_s") >= n if name.endswith("Above") else F.col("_s") <= n
        return df.join(
            F.broadcast(keep.filter(cond).select("metric")), "metric"
        ).select("metric", "ts", "value")
    if name in ("highestCurrent", "lowestCurrent", "highestMax", "lowestAverage"):
        n = int(need(1, "n"))
        df = series()
        if name == "highestMax":
            stat = F.max("value").alias("_s")
        elif name == "lowestAverage":
            stat = (_fsum("value") / F.count("value")).alias("_s")
        else:
            stat = F.max_by(
                "value", F.when(F.col("value").isNotNull(), F.col("ts"))
            ).alias("_s")
        ranked = df.groupBy("metric").agg(stat)
        order = (
            [F.asc("_s"), F.asc("metric")]
            if name.startswith("lowest")
            else [F.desc("_s"), F.asc("metric")]
        )
        # TakeOrderedAndProject, not a global rank window (see _top_by_avg)
        keep = ranked.orderBy(*order).limit(n)
        return _keep_series(df, keep)
    if name == "nPercentile":
        # per-series constant line at the nearest-rank percentile
        p = float(need(1, "n"))
        w = Window.partitionBy("metric")
        rk = series().filter(F.col("value").isNotNull()).select(
            "metric", "ts", "value",
            F.row_number().over(w.orderBy("value", "ts")).alias("_rn"),
            F.count("*").over(w).alias("_n"),
        )
        target = F.greatest(
            F.ceil(F.col("_n") * p / 100.0).cast("long"), F.lit(1)
        )
        thr = rk.filter(F.col("_rn") == target).select(
            "metric", F.col("value").alias("_p")
        )
        return (
            series()
            .join(F.broadcast(thr), "metric")
            .select("metric", "ts", F.col("_p").alias("value"))
        )
    if name == "aliasSub":
        pat, repl = str(need(1, "search")), str(need(2, "replace"))
        return series().withColumn(
            "metric", F.regexp_replace("metric", pat, repl)
        )
    if name in (
        "holtWintersForecast",
        "holtWintersConfidenceBands",
        "holtWintersAberration",
    ):
        # graphite-web holtwinters.py public defaults: alpha=0.1,
        # beta=0.0035, gamma=0.1, one-day season at the series step
        season = max(1, 86400 // (step or 60))
        hw = TS.holt_winters(
            series(), ["metric"], alpha=0.1, beta=0.0035, gamma=0.1,
            season_length=season, band_k=3.0,
        )
        if name == "holtWintersForecast":
            return hw.select("metric", "ts", F.col("forecast").alias("value"))
        if name == "holtWintersConfidenceBands":
            up = hw.select(
                F.concat(F.lit("upper("), "metric", F.lit(")")).alias("metric"),
                "ts", F.col("upper").alias("value"),
            )
            lo = hw.select(
                F.concat(F.lit("lower("), "metric", F.lit(")")).alias("metric"),
                "ts", F.col("lower").alias("value"),
            )
            return up.unionByName(lo)
        # aberration: how far the value strays OUTSIDE the bands
        return hw.select(
            "metric", "ts",
            F.when(F.col("value") > F.col("upper"),
                   F.col("value") - F.col("upper"))
            .when(F.col("value") < F.col("lower"),
                  F.col("value") - F.col("lower"))
            .otherwise(F.lit(0.0))
            .alias("value"),
        )
    if name in ("exclude", "grep"):
        pat = str(need(1, "pattern"))
        cond = F.col("metric").rlike(pat)
        return series().filter(~cond if name == "exclude" else cond)
    if name in ("sortByName", "sortByMaxima", "sortByMinima"):
        # frames are unordered sets: the sort itself is a passthrough,
        # and the order materializes in `limit` (above) / CLI output
        # (sortByTotal has its own earlier branch)
        return series()
    if name == "mostDeviant":
        return _rank_series(series(), int(need(1, "n")), "stddev", False)
    if name in ("highest", "lowest"):
        n = int(args[1]) if len(args) > 1 else 1
        func = str(args[2]) if len(args) > 2 else "average"
        return _rank_series(series(), n, func, name == "lowest")
    if name == "filterSeries":
        func = str(need(1, "func"))
        op = str(need(2, "operator"))
        thr = float(need(3, "threshold"))
        stat = series().groupBy("metric").agg(_series_stat(func).alias("_s"))
        conds = {
            "=": F.col("_s") == thr, "!=": F.col("_s") != thr,
            ">": F.col("_s") > thr, ">=": F.col("_s") >= thr,
            "<": F.col("_s") < thr, "<=": F.col("_s") <= thr,
        }
        if op not in conds:
            raise TargetSyntaxError(f"filterSeries: unknown operator {op!r}")
        return _keep_series(series(), stat.filter(conds[op]))
    if name == "averageOutsidePercentile":
        # keep series whose average falls outside the [100-n, n]
        # percentile band of all series' averages (graphite getPercentile
        # nearest-rank over the average list)
        p = float(need(1, "n"))
        if p < 50.0:
            p = 100.0 - p
        df = series()
        # the band bounds are two nearest-rank selections over the
        # one-row-per-series average list; a partition-less rank window
        # here would single-partition on a huge glob, so instead: one
        # distributed count of the (checkpointed) aggregate, then each
        # bound as a TakeOrderedAndProject — max of the first k ascending
        # IS the value at rank k
        avgs = df.groupBy("metric").agg(
            (_fsum("value") / F.count("value")).alias("_avg")
        ).localCheckpoint()
        n_series = avgs.count()
        if n_series == 0:
            return _keep_series(df, avgs)

        def _bound(pct: float) -> float:
            k = min(
                max(int(math.floor(pct / 100.0 * (n_series + 1))), 1),
                n_series,
            )
            return avgs.orderBy("_avg", "metric").limit(k).agg(
                F.max("_avg")
            ).first()[0]

        lo, hi = _bound(100.0 - p), _bound(p)
        return _keep_series(
            df, avgs.filter(~((F.col("_avg") > F.lit(lo)) & (F.col("_avg") < F.lit(hi))))
        )
    if name == "removeBetweenPercentile":
        # keep series with at least one point outside the per-timestamp
        # [100-n, n] percentile band across series
        p = float(need(1, "n"))
        if p < 50.0:
            p = 100.0 - p
        df = series()
        vals = df.filter(F.col("value").isNotNull())
        w = Window.partitionBy("ts")
        rk = vals.select(
            "metric", "ts", "value",
            F.row_number().over(w.orderBy("value", "metric")).alias("_rn"),
            F.count("*").over(w).alias("_n"),
        )
        band = rk.groupBy("ts").agg(
            F.max(
                F.when(F.col("_rn") == _graphite_pct_rank(100.0 - p, F.col("_n")),
                       F.col("value"))
            ).alias("_lo"),
            F.max(
                F.when(F.col("_rn") == _graphite_pct_rank(p, F.col("_n")),
                       F.col("value"))
            ).alias("_hi"),
        )
        keep = (
            vals.join(band, "ts")
            .filter(~((F.col("value") > F.col("_lo")) & (F.col("value") < F.col("_hi"))))
            .select("metric")
            .distinct()
        )
        return _keep_series(df, keep)
    if name == "aggregate":
        how = str(need(1, "func"))
        if len(args) > 2:
            # graphite 1.1: aggregate(list, func, xFilesFactor) nulls a
            # point unless >= xff of the list's series have a value
            # there.  Series count is one bounded driver probe.
            xff = float(args[2])
            df = series()
            n_series = df.select("metric").distinct().count()
            return (
                df.groupBy("ts")
                .agg(
                    _agg_expr(how).alias("_v"),
                    F.count("value").alias("_k"),
                )
                .select(
                    F.lit(label).alias("metric"), "ts",
                    F.when(
                        F.col("_k") >= float(xff) * n_series, F.col("_v")
                    ).alias("value"),
                )
            )
        return _combine(series(), label, how)
    if name == "aggregateLine":
        # per-series horizontal line at the series statistic
        func = str(args[1]) if len(args) > 1 else "average"
        df = series()
        stat = df.groupBy("metric").agg(_series_stat(func).alias("_s"))
        return (
            df.join(F.broadcast(stat), "metric")
            .select(
                F.concat(F.lit("aggregateLine("), "metric",
                         F.lit(f", '{func}')")).alias("metric"),
                "ts", F.col("_s").alias("value"),
            )
        )
    if name == "groupByNodes":
        # generic groupByNode: key = the named node positions joined by
        # '.', one groupBy((key, ts)) — re-key, narrow shuffle
        method = str(need(1, "callback"))
        nodes = [int(a) for a in args[2:]]
        if not nodes:
            raise TargetSyntaxError("groupByNodes: needs at least one node")
        parts = F.split(F.col("metric"), r"\.")
        key = F.concat_ws(".", *[F.element_at(parts, n + 1) for n in nodes])
        return (
            series()
            .groupBy(key.alias("metric"), "ts")
            .agg(_agg_expr(method).alias("value"))
            .select("metric", "ts", "value")
        )
    if name == "aliasByMetric":
        parts = F.split(F.col("metric"), r"\.")
        return series().withColumn("metric", F.element_at(parts, -1))
    if name in (
        "sumSeriesWithWildcards", "averageSeriesWithWildcards",
        "multiplySeriesWithWildcards", "aggregateWithWildcards",
    ):
        # drop the wildcard node positions from each name, then combine
        # the series that collapse onto the same reduced name
        if name == "aggregateWithWildcards":
            method = str(need(1, "func"))
            positions = [int(a) for a in args[2:]]
        else:
            method = {"sum": "sum", "ave": "avg", "mul": "multiply"}[name[:3]]
            positions = [int(a) for a in args[1:]]
        pos_sql = ",".join(str(p) for p in positions) or "-1"
        reduced = F.expr(
            "concat_ws('.', filter(transform(split(metric, '\\\\.'), "
            f"(x, i) -> IF(i IN ({pos_sql}), NULL, x)), x -> x IS NOT NULL))"
        )
        return (
            series()
            .groupBy(reduced.alias("metric"), "ts")
            .agg(_agg_expr(method).alias("value"))
            .select("metric", "ts", "value")
        )
    if name == "weightedAverage":
        # sum(avg_i * weight_i) / sum(weight_i) per ts, pairing the two
        # seriesLists on the identity nodes
        nodes = [int(a) for a in args[2:]]
        if not nodes:
            raise TargetSyntaxError("weightedAverage: needs node positions")
        parts = F.split(F.col("metric"), r"\.")
        key = F.concat_ws(".", *[F.element_at(parts, n + 1) for n in nodes])
        a = series(0).select(key.alias("_k"), "ts", F.col("value").alias("_a"))
        b = series(1).select(key.alias("_k"), "ts", F.col("value").alias("_w"))
        prod = a.join(b, ["_k", "ts"])
        return (
            prod.groupBy("ts")
            .agg(
                (
                    _fsum(F.col("_a") * F.col("_w")) / _fsum("_w")
                ).alias("value")
            )
            .select(F.lit(label).alias("metric"), "ts", "value")
        )
    if name in (
        "divideSeriesLists", "diffSeriesLists", "multiplySeriesLists",
        "sumSeriesLists", "aggregateSeriesLists",
    ):
        # pairwise combine of two equal-length lists, pairing by name
        # order (the order a glob fetch produces)
        if name == "aggregateSeriesLists":
            op = str(need(2, "func"))
        else:
            op = {"div": "divide", "dif": "diff", "mul": "multiply",
                  "sum": "sum"}[name[:3]]

        def ranked(df, col):
            names = _name_ranks(df, name)
            return df.join(F.broadcast(names), "metric").select(
                F.col("metric").alias(col + "m"), "_rk", "ts",
                F.col("value").alias(col),
            )
        a = ranked(series(0), "_a")
        b = ranked(series(1), "_b")
        va, vb = F.col("_a"), F.col("_b")
        if op == "divide":
            val = F.when(vb.isNotNull() & (vb != 0.0), va / vb)
        elif op in ("diff", "subtract"):
            val = va - vb
        elif op == "multiply":
            val = va * vb
        elif op in ("sum", "add"):
            val = va + vb
        else:
            raise TargetSyntaxError(f"{name}: unknown func {op!r}")
        lbl = "divideSeries" if op == "divide" else f"{op}Series"
        return a.join(b, ["_rk", "ts"]).select(
            F.concat(F.lit(lbl + "("), "_am", F.lit(","), "_bm",
                     F.lit(")")).alias("metric"),
            "ts",
            val.alias("value"),
        )
    if name == "integralByInterval":
        # running sum that resets at each interval boundary; None counts
        # as 0 inside the running sum (graphite keeps the accumulator)
        step_s = parse_duration(need(1, "intervalUnit"))
        bucket = F.col("ts") - F.col("ts") % step_s
        w = (
            Window.partitionBy("metric", bucket)
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return series().select(
            "metric", "ts",
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).over(w)
            .alias("value"),
        )
    if name == "smartSummarize":
        # summarize with buckets aligned to each series' own start,
        # not the epoch
        step_s = parse_duration(need(1, "interval"))
        how = args[2] if len(args) > 2 else "sum"
        w = Window.partitionBy("metric")
        df = series().withColumn("_t0", F.min("ts").over(w))
        bucket = (
            F.col("_t0")
            + ((F.col("ts") - F.col("_t0")) - (F.col("ts") - F.col("_t0")) % step_s)
        )
        # _summarize's dispatch, not _agg_expr's: within one series,
        # 'last' must resolve by time, not by metric-name list order
        return _summarize(df, step_s, how, bucket=bucket)
    if name == "timeStack":
        # overlay N shifted copies: shift i moves data i*unit forward so
        # history lines up under the present
        unit = parse_duration(need(1, "timeShiftUnit"))
        start = int(need(2, "timeShiftStart"))
        end = int(need(3, "timeShiftEnd"))
        if end <= start:
            raise TargetSyntaxError("timeStack: timeShiftEnd must be > start")
        base = series()
        out = None
        for shft in range(start, end):
            piece = TS.time_shift(base, shft * unit).select(
                F.concat(F.lit(f"timeShift("), "metric",
                         F.lit(f", {shft})")).alias("metric"),
                "ts", "value",
            )
            out = piece if out is None else out.unionByName(piece)
        return out
    if name == "timeSlice":
        # epoch-second bounds (graphite's at-style time strings reduce to
        # epochs before evaluation; the engine takes them directly)
        lo = int(need(1, "startSliceAt"))
        hi = int(args[2]) if len(args) > 2 else None
        df = series().filter(F.col("ts") >= lo)
        return df.filter(F.col("ts") <= hi) if hi is not None else df
    if name == "stdev":
        # moving population stddev over a trailing row window
        n = window_points(need(1, "points"))
        return series().select(
            "metric", "ts",
            F.stddev_pop("value").over(_sw(n)).alias("value"),
        )
    if name == "linearRegression":
        # least-squares fit per series over its full range, evaluated at
        # every slot; x is centered on the series start for fp stability
        df = series()
        pts = df.filter(F.col("value").isNotNull())
        w = Window.partitionBy("metric")
        centered = pts.withColumn("_x", (F.col("ts") - F.min("ts").over(w)).cast("double"))
        mom = centered.groupBy("metric").agg(
            F.count("*").cast("double").alias("_n"),
            F.min("ts").alias("_t0"),
            F.sum("_x").alias("_sx"),
            F.sum("value").alias("_sy"),
            F.sum(F.col("_x") * F.col("value")).alias("_sxy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        )
        den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        slope = F.when(
            den != 0.0,
            (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / den,
        )
        fit = mom.select(
            "metric", "_t0", slope.alias("_b"),
            ((F.col("_sy") - slope * F.col("_sx")) / F.col("_n")).alias("_a"),
        )
        return df.join(F.broadcast(fit), "metric").select(
            F.concat(F.lit("linearRegression("), "metric", F.lit(")"))
            .alias("metric"),
            "ts",
            (F.col("_a") + F.col("_b") * (F.col("ts") - F.col("_t0"))).alias("value"),
        )
    if name == "changed":
        # 1 when the value differs from the previous slot, else 0
        w = Window.partitionBy("metric").orderBy("ts")
        prev = F.lag("value").over(w)
        return series().select(
            "metric", "ts",
            F.when(prev.isNull(), 0.0)
            .when(F.col("value").isNotNull() & (F.col("value") != prev), 1.0)
            .otherwise(0.0)
            .alias("value"),
        )
    if name == "interpolate":
        # linear fill of interior gaps; optional limit = max gap length
        # in slots.  Forward/backward window scans over ONE series
        # shuffle (same pattern as the store's interpolate view).
        gap_limit = int(args[1]) if len(args) > 1 else None
        w = Window.partitionBy("metric").orderBy("ts")
        wp = w.rowsBetween(Window.unboundedPreceding, 0)
        wn = w.rowsBetween(0, Window.unboundedFollowing)
        df = series().withColumn("_idx", F.row_number().over(w))
        known_ts = F.when(F.col("value").isNotNull(), F.col("ts"))
        known_idx = F.when(F.col("value").isNotNull(), F.col("_idx"))
        ctx = df.select(
            "metric", "ts", "value",
            F.last("value", ignorenulls=True).over(wp).alias("_pv"),
            F.last(known_ts, ignorenulls=True).over(wp).alias("_pts"),
            F.last(known_idx, ignorenulls=True).over(wp).alias("_pidx"),
            F.first("value", ignorenulls=True).over(wn).alias("_nv"),
            F.first(known_ts, ignorenulls=True).over(wn).alias("_nts"),
            F.first(known_idx, ignorenulls=True).over(wn).alias("_nidx"),
        )
        fill = F.col("_pv") + (F.col("_nv") - F.col("_pv")) * (
            F.col("ts") - F.col("_pts")
        ) / (F.col("_nts") - F.col("_pts"))
        ok = F.col("_pv").isNotNull() & F.col("_nv").isNotNull()
        if gap_limit is not None:
            ok = ok & ((F.col("_nidx") - F.col("_pidx") - 1) <= gap_limit)
        return ctx.select(
            "metric", "ts",
            F.when(F.col("value").isNotNull(), F.col("value"))
            .when(ok, fill)
            .alias("value"),
        )
    if name in ("round", "roundFunction"):
        # roundFunction = graphite's pre-1.1 name for round
        precision = int(args[1]) if len(args) > 1 else 0
        # bround = HALF_EVEN, matching python3 round() in graphite
        return series().withColumn("value", F.bround(F.col("value"), precision))
    if name in ("pieAverage", "pieMaximum", "pieMinimum"):
        # graphite's pie-mode reducers: each series collapses to ONE
        # scalar (avg/max/min of its values).  Pie mode has no time
        # axis; the row keeps the series' LAST timestamp so the output
        # stays on the (metric, ts, value) frame contract
        stat = _series_stat(
            {"pieAverage": "average", "pieMaximum": "max",
             "pieMinimum": "min"}[name]
        )
        return (
            series()
            .groupBy("metric")
            .agg(stat.alias("value"), F.max("ts").alias("ts"))
            .select("metric", "ts", "value")
        )
    if name == "minMax":
        w = Window.partitionBy("metric")
        vmin, vmax = F.min("value").over(w), F.max("value").over(w)
        return series().select(
            "metric", "ts",
            F.when(vmax != vmin, (F.col("value") - vmin) / (vmax - vmin))
            .alias("value"),
        )
    if name == "substr":
        # trim the dotted name to nodes [start, stop) — graphite slices
        # the path, with python-style omitted stop = end
        start = int(need(1, "start"))
        stop = int(args[2]) if len(args) > 2 else 0
        parts = F.split(F.col("metric"), r"\.")
        if stop:
            sliced = F.slice(parts, start + 1, stop - start)
        else:
            sliced = F.slice(parts, start + 1, F.size(parts) - start)
        return series().withColumn("metric", F.concat_ws(".", sliced))
    if name in ("removeAbovePercentile", "removeBelowPercentile"):
        # null out points beyond the series' own nth-percentile value
        # (graphite getPercentile nearest-rank per series)
        p = float(need(1, "n"))
        df = series()
        w = Window.partitionBy("metric")
        rk = df.filter(F.col("value").isNotNull()).select(
            "metric",
            "value",
            F.row_number().over(w.orderBy("value", "ts")).alias("_rn"),
            F.count("*").over(w).alias("_cnt"),
        )
        thr = rk.filter(
            F.col("_rn") == _graphite_pct_rank(p, F.col("_cnt"))
        ).select("metric", F.col("value").alias("_thr"))
        df = df.join(F.broadcast(thr), "metric", "left")
        keep = (
            F.col("value") <= F.col("_thr")
            if name == "removeAbovePercentile"
            else F.col("value") >= F.col("_thr")
        )
        return df.select(
            "metric", "ts", F.when(keep, F.col("value")).alias("value")
        )
    if name == "fallbackSeries":
        # second seriesList when the first matches nothing (one bounded
        # emptiness probe — a 1-row take, not a full count)
        primary = series(0)
        return primary if primary.take(1) else series(1)
    if name == "unique":
        # collapse series lists that name the same metric twice
        # (overlapping globs in a multi-arg call)
        return all_series().distinct()
    if name == "sortBy":
        # generic sort: passthrough data-wise; limit() reads func/reverse
        # off the AST like the other sort functions
        if len(args) > 1:
            _series_stat(str(args[1]))  # validate the key function early
        return series()
    if name == "movingWindow":
        # graphite 1.1's generic moving window: movingAverage/Sum/Max/...
        # are the specializations; 4th arg = xFilesFactor
        n = window_points(need(1, "windowSize"))
        how = str(args[2]) if len(args) > 2 else "average"
        xf = float(args[3]) if len(args) > 3 else None
        w = _sw(n)
        if how in ("average", "avg"):
            return _moving_avg(series(), n, xf)
        if how == "sum":
            val = F.sum("value").over(w)
        elif how == "max":
            val = F.max("value").over(w)
        elif how == "min":
            val = F.min("value").over(w)
        elif how == "stddev":
            val = F.stddev_pop("value").over(w)
        elif how == "count":
            val = F.count("value").over(w).cast("double")
        elif how == "range":
            val = F.max("value").over(w) - F.min("value").over(w)
        elif how == "last":
            val = F.last("value", ignorenulls=True).over(w)
        elif how == "median":
            val = _moving_median_expr(n)
        else:
            raise TargetSyntaxError(f"movingWindow: unknown func {how!r}")
        return series().select(
            "metric", "ts", _xff_gate(val, w, n, xf).alias("value")
        )
    if name in ("consolidateBy", "cumulative"):
        # data passthrough: the consolidation method is display-pipeline
        # metadata, honored when a maxDataPoints budget forces coarsening
        # (cmd_render reads it off the AST via consolidation_method)
        if name == "consolidateBy" and len(args) > 1:
            how = str(args[1])
            if how not in ("sum", "average", "avg", "max", "min", "last"):
                raise TargetSyntaxError(f"consolidateBy: unknown func {how!r}")
        return series()
    if name == "applyByNode":
        # evaluate a template once per node-prefix: applyByNode(
        # servers.*.disk.*, 1, 'divide(%.free, %.total)').  The prefix
        # list is driver-collected — bounded by the render chart
        # contract (tens of series) and ENFORCED by MAX_QUERY_SERIES: a
        # glob matching 100k prefixes would launch 100k driver-side
        # sub-evaluations, so it errors fast instead (graphite itself
        # is per-series here).
        node_i = int(need(1, "nodeNum"))
        template = str(need(2, "templateFunction"))
        newname = str(args[3]) if len(args) > 3 else None
        prefix = F.concat_ws(
            ".", F.slice(F.split(F.col("metric"), r"\."), 1, node_i + 1)
        )
        prefixes = sorted(
            r["p"]
            for r in series()
            .select(prefix.alias("p"))
            .distinct()
            .limit(MAX_QUERY_SERIES + 1)
            .collect()
        )
        if len(prefixes) > MAX_QUERY_SERIES:
            raise TargetSyntaxError(
                f"applyByNode: over {MAX_QUERY_SERIES} node prefixes "
                f"matched (one sub-target evaluation each); narrow the "
                f"glob or raise whisper_spark.render.MAX_QUERY_SERIES"
            )
        out = None
        for p in prefixes:
            sub = _evaluate(
                parse_target(template.replace("%", p)), source, text, step
            )
            if newname:
                sub = sub.withColumn("metric", F.lit(newname.replace("%", p)))
            out = sub if out is None else out.unionByName(sub)
        if out is None:
            raise TargetSyntaxError("applyByNode: no series matched")
        return out
    if name == "useSeriesAbove":
        # for series peaking above the threshold, substitute search ->
        # replace in the name and draw THOSE series from the store frame
        val = float(need(1, "value"))
        search, replace = str(need(2, "search")), str(need(3, "replace"))
        keep = (
            series()
            .groupBy("metric")
            .agg(F.max("value").alias("_m"))
            .filter(F.col("_m") > val)
            .select(F.regexp_replace("metric", search, replace).alias("metric"))
        )
        return source.join(F.broadcast(keep), "metric").select(
            "metric", "ts", "value"
        )
    if name == "seriesByTag":
        # graphite 1.1 tag queries over carbon tagged names
        # (name;key=value;...): every expression must match (AND)
        if not args:
            raise TargetSyntaxError("seriesByTag: needs expressions")
        cond = None
        for a in args:
            c = _tag_filter(str(a))
            cond = c if cond is None else (cond & c)
        return source.filter(cond).select("metric", "ts", "value")
    if name == "aliasByTags":
        tags = [str(a) for a in args[1:]]
        if not tags:
            raise TargetSyntaxError("aliasByTags: needs tag names")
        return series().withColumn(
            "metric", F.concat_ws(".", *[_tag_value(t) for t in tags])
        )
    if name == "groupByTags":
        method = str(need(1, "callback"))
        tags = [str(a) for a in args[2:]]
        if not tags:
            raise TargetSyntaxError("groupByTags: needs tag names")
        key = F.concat_ws(".", *[_tag_value(t) for t in tags])
        return (
            series()
            .groupBy(key.alias("metric"), "ts")
            .agg(_agg_expr(method).alias("value"))
            .select("metric", "ts", "value")
        )
    if name == "removeEmptySeries":
        # drop series with no values; with xFilesFactor, series below
        # that known-fraction are dropped too
        xff = float(args[1]) if len(args) > 1 else 0.0
        df = series()
        keep = (
            df.groupBy("metric")
            .agg(
                F.count("value").alias("_k"), F.count("*").alias("_n")
            )
            .filter(
                (F.col("_k") > 0)
                & (F.col("_k") >= F.col("_n") * F.lit(xff))
            )
        )
        return _keep_series(df, keep)
    if name == "scaleToSeconds":
        # value * seconds/step: normalize per-slot quantities to a
        # per-N-seconds rate; step from the threaded fetch step, else
        # derived per series from ts deltas
        seconds = float(need(1, "seconds"))
        df = series()
        if step is not None:
            return df.withColumn(
                "value", F.col("value") * (seconds / float(step))
            )
        df = _series_step_col(df)
        return df.select(
            "metric", "ts",
            (F.col("value") * seconds / F.col("_step")).alias("value"),
        )
    if name in (
        "constantLine", "threshold", "identity", "timeFunction", "time",
        "sinFunction", "sin", "randomWalkFunction", "randomWalk",
    ):
        # generators: one value per distinct timestamp of the source
        # frame (the evaluation context stands in for the render range)
        spine = source.select("ts").distinct()
        if name in ("identity", "timeFunction", "time"):
            lbl = str(need(0, "name"))
            return spine.select(
                F.lit(lbl).alias("metric"), "ts",
                F.col("ts").cast("double").alias("value"),
            )
        if name in ("sinFunction", "sin"):
            lbl = str(need(0, "name"))
            amp = float(args[1]) if len(args) > 1 else 1.0
            return spine.select(
                F.lit(lbl).alias("metric"), "ts",
                (F.sin(F.col("ts").cast("double")) * amp).alias("value"),
            )
        if name in ("randomWalkFunction", "randomWalk"):
            # graphite sums random.random()-0.5 per slot; an engine query
            # must be reproducible, so the per-slot uniform comes from a
            # ts hash (deterministic walk, same distribution) instead of
            # a process-seeded RNG — documented divergence
            lbl = str(need(0, "name"))
            u = (
                F.conv(F.substring(F.md5(F.col("ts").cast("string")), 1, 8), 16, 10)
                .cast("double") / F.lit(4294967295.0)
            )
            w = Window.orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
            return spine.select(
                F.lit(lbl).alias("metric"), "ts",
                F.sum(u - 0.5).over(w).alias("value"),
            )
        val = float(need(0, "value"))
        lbl = (
            str(args[1])
            if name == "threshold" and len(args) > 1
            else str(val)
        )
        return spine.select(
            F.lit(lbl).alias("metric"), "ts",
            F.lit(val).alias("value"),
        )
    if name == "verticalLine":
        # marker at one instant: graphite draws a 2-point [1.0, 1.0]
        # series spanning zero time; the frame carries one (ts, 1.0) row.
        # Accepts an epoch int or an ABSOLUTE at-style time; relative
        # forms would need a pinned now (queries must stay reproducible)
        raw_ts = need(0, "ts")
        if isinstance(raw_ts, int):
            ts_at = raw_ts
        else:
            t = str(raw_ts).strip().lower()
            if t.startswith(("now", "+", "-")) or t in (
                "midnight", "noon", "teatime", "yesterday", "today",
                "tomorrow",
            ):
                raise TargetSyntaxError(
                    "verticalLine: relative at-style times need a "
                    "pinned now — pass an epoch or absolute time"
                )
            ts_at = parse_at_time(t, 0)
        lbl = str(args[1]) if len(args) > 1 else ""
        return source.sparkSession.createDataFrame(
            [(lbl, ts_at, 1.0)], "metric string, ts long, value double"
        )
    if name == "group":
        # flat union of every seriesList argument
        return all_series()
    if name == "add":
        # graphite 1.1 alias family: add(seriesList, constant) == offset
        return series().withColumn(
            "value", F.col("value") + float(need(1, "constant"))
        )
    if name in ("mapSeries", "map"):
        # mapSeries groups series by node for a following reduceSeries;
        # frames are unordered sets, so the grouping itself is carried by
        # the names — data passthrough (reduceSeries re-derives the keys)
        need(1, "mapNodes")
        return series()
    if name in ("reduceSeries", "reduce"):
        # reduceSeries(mapSeries(...), 'asPercent', reduceNode,
        # 'used', 'total'): for each name-prefix key, pair the series
        # whose reduceNode-th node matches each matcher, and apply the
        # 2-arg (or fold) reduce function.  One groupBy((key, ts)) with
        # per-matcher conditional aggregates — a single narrow shuffle,
        # no per-key driver loop.
        how = str(need(1, "reduceFunction"))
        node_i = int(need(2, "reduceNode"))
        matchers = [str(a) for a in args[3:]]
        if len(matchers) < 2:
            raise TargetSyntaxError("reduceSeries: needs >= 2 reduceMatchers")
        parts = F.split(F.col("metric"), r"\.")
        node = F.element_at(parts, node_i + 1)
        key = F.concat(
            F.concat_ws(".", F.slice(parts, 1, node_i)),
            F.lit(".reduce." + how),
        )
        aggs = [
            F.max(F.when(node == m, F.col("value"))).alias(f"_v{i}")
            for i, m in enumerate(matchers)
        ]
        g = (
            series()
            .filter(node.isin(matchers))
            .groupBy(key.alias("metric"), "ts")
            .agg(*aggs)
        )
        a, b = F.col("_v0"), F.col("_v1")
        if how in ("asPercent", "divideSeries"):
            val = F.when(b.isNotNull() & (b != 0.0), a / b)
            if how == "asPercent":
                val = val * 100.0
        elif how == "diffSeries":
            rest = sum(
                (F.coalesce(F.col(f"_v{i}"), F.lit(0.0))
                 for i in range(1, len(matchers))),
                F.lit(0.0),
            )
            val = a - rest
        elif how == "sumSeries":
            # safeSum: None only when EVERY matched value is unknown —
            # a slot of all-null matches must not fabricate 0.0 (same
            # known-value rule as the multiplySeries gate)
            any_known = F.lit(False)
            for i in range(len(matchers)):
                any_known = any_known | F.col(f"_v{i}").isNotNull()
            val = F.when(
                any_known,
                sum(
                    (F.coalesce(F.col(f"_v{i}"), F.lit(0.0))
                     for i in range(len(matchers))),
                    F.lit(0.0),
                ),
            )
        elif how == "multiplySeries":
            prod = F.lit(1.0)
            ok = F.lit(True)
            for i in range(len(matchers)):
                prod = prod * F.col(f"_v{i}")
                ok = ok & F.col(f"_v{i}").isNotNull()
            val = F.when(ok, prod)
        else:
            raise TargetSyntaxError(
                f"reduceSeries: unsupported reduceFunction {how!r}"
            )
        return g.select("metric", "ts", val.alias("value"))
    if name == "cactiStyle":
        # legend annotation: append Current/Max/Min to each name, names
        # left-justified to the longest (graphite's cacti-like legend).
        # Values pass through untouched; the stats frame is per-series
        # (bounded) and broadcast.
        df = series()
        stats = df.groupBy("metric").agg(
            F.max_by(
                "value", F.when(F.col("value").isNotNull(), F.col("ts"))
            ).alias("_cur"),
            F.max("value").alias("_max"),
            F.min("value").alias("_min"),
        )
        width = stats.agg(F.max(F.length("metric")).alias("_w"))

        def fmt(c):
            return F.coalesce(F.format_string("%.2f", c), F.lit("nan"))

        lbl = F.format_string(
            "%s Current:%s Max:%s Min:%s",
            F.rpad(F.col("metric"), F.col("_w").cast("int"), " "),
            fmt(F.col("_cur")), fmt(F.col("_max")), fmt(F.col("_min")),
        )
        tagged_stats = stats.crossJoin(F.broadcast(width)).select(
            "metric", lbl.alias("_lbl")
        )
        return df.join(F.broadcast(tagged_stats), "metric").select(
            F.col("_lbl").alias("metric"), "ts", "value"
        )
    if name == "legendValue":
        # append '(type: value)' per requested statistic to each name
        types = [str(a) for a in args[1:]]
        if not types:
            raise TargetSyntaxError("legendValue: needs value types")
        df = series()
        stats = df.groupBy("metric").agg(
            *[_series_stat(t).alias(f"_s{i}") for i, t in enumerate(types)]
        )
        lbl = F.col("metric")
        for i, t in enumerate(types):
            # Java %.6g keeps trailing zeros where python's %g drops
            # them — trim to graphite's compact form
            num = F.regexp_replace(
                F.regexp_replace(
                    F.format_string("%.6g", F.col(f"_s{i}")),
                    r"(\.\d*?)0+($|e)", r"$1$2",
                ),
                r"\.($|e)", r"$1",
            )
            lbl = F.concat(
                lbl, F.lit(f" ({t}: "),
                F.coalesce(num, F.lit("None")),
                F.lit(")"),
            )
        keyed = stats.select("metric", lbl.alias("_lbl"))
        return df.join(F.broadcast(keyed), "metric").select(
            F.col("_lbl").alias("metric"), "ts", "value"
        )
    if name == "compressPeriodicGaps":
        # drop the all-gap slots a mismatched step produces: the known
        # points keep their timestamps, the periodic NULL slots vanish
        # (the frame analog of graphite re-stepping by the detected
        # period)
        return series().filter(F.col("value").isNotNull())
    if name == "holtWintersConfidenceArea":
        # area fill is presentation; data contract == the bands
        return _evaluate(
            Call("holtWintersConfidenceBands", args), source, text, step
        )
    if name in ("setXFilesFactor", "xFilesFactor"):
        # sets the context xff consumed by aggregate/summarize defaults;
        # the engine takes explicit xff arguments, so this validates and
        # passes through
        float(need(1, "xFilesFactor"))
        return series()
    if name == "aliasQuery":
        # aliasQuery(seriesList, search, replace, newName): per series,
        # regex-rewrite the name into a target query and format that
        # target's LAST value into the new legend name.  The name list
        # is driver-collected, guarded by MAX_QUERY_SERIES; rewritten
        # targets that are PLAIN metric paths (the overwhelmingly
        # common shape) batch into ONE max_by aggregation over all of
        # them — one Spark job however many series matched.  Only
        # glob/function targets fall back to per-target evaluation
        # (each a 1-row aggregate), still bounded by the guard.
        search, replace = str(need(1, "search")), str(need(2, "replace"))
        newname = str(need(3, "newName"))
        df = series()
        names = sorted(
            r["metric"]
            for r in df.select("metric")
            .distinct()
            .limit(MAX_QUERY_SERIES + 1)
            .collect()
        )
        if len(names) > MAX_QUERY_SERIES:
            raise TargetSyntaxError(
                f"aliasQuery: over {MAX_QUERY_SERIES} series matched "
                f"(one last-value lookup each); narrow the glob or "
                f"raise whisper_spark.render.MAX_QUERY_SERIES"
            )
        if not names:
            raise TargetSyntaxError("aliasQuery: no series matched")
        targets = {nm: re.sub(search, replace, nm) for nm in names}
        plain = {
            nm: q for nm, q in targets.items()
            if re.fullmatch(r"[\w.:#\-]+", q)
        }
        lasts: dict[str, float] = {}
        if plain:
            got = {
                r["metric"]: r["_last"]
                for r in source.filter(
                    F.col("metric").isin(sorted(set(plain.values())))
                )
                .filter(F.col("value").isNotNull())
                .groupBy("metric")
                .agg(F.max_by("value", "ts").alias("_last"))
                .collect()
            }
            for nm, q in plain.items():
                if q not in got or got[q] is None:
                    raise TargetSyntaxError(
                        f"aliasQuery: no data for target {q!r}"
                    )
                lasts[nm] = got[q]
        for nm, q in targets.items():
            if nm in lasts:
                continue
            sub = _evaluate(parse_target(q), source, text, step)
            last = sub.filter(F.col("value").isNotNull()).agg(
                F.max_by("value", "ts")
            ).first()[0]
            if last is None:
                raise TargetSyntaxError(
                    f"aliasQuery: no data for target {q!r}"
                )
            lasts[nm] = last
        rename = F.create_map(
            *[
                F.lit(x)
                for nm in names
                for x in (nm, newname % lasts[nm])
            ]
        )
        return df.select(
            rename[F.col("metric")].alias("metric"), "ts", "value"
        )
    if name in (
        "alpha", "color", "dashed", "drawAsInfinite", "lineWidth",
        "secondYAxis", "stacked", "areaBetween",
    ):
        # display-attribute functions: graphite attaches render options
        # to the series; the data contract is a passthrough
        return series()
    raise TargetSyntaxError(f"unknown function {name!r}")


def consolidation_method(node) -> str:
    """The consolidation method a target declares for maxDataPoints
    coarsening: graphite evaluates inner-to-outer and each consolidateBy
    overwrites the series metadata, so the OUTERMOST call wins;
    ``cumulative`` is consolidateBy('sum').  Default 'average'."""
    if isinstance(node, Call):
        if node.name == "cumulative":
            return "sum"
        if node.name == "consolidateBy" and len(node.args) > 1:
            return str(node.args[1])
        for a in node.args:
            m = consolidation_method(a)
            if m != "average":
                return m
    return "average"


def consolidate(
    df: DataFrame, max_points: int, step: int, how: str = "average"
) -> tuple[DataFrame, int]:
    """graphite's maxDataPoints auto-consolidation: coarsen a series
    frame so no series exceeds ``max_points`` — step' = range/budget
    rounded UP to a multiple of the native step, then one summarize
    groupBy.  Returns (frame, effective_step); a frame already under
    budget passes through.  The bounds lookup is one 2-value aggregate
    (bounded driver data, same precedent as the session now-pin).
    ``df`` is read twice, by the bounds and by the summarize, so it is
    computed once into a local checkpoint first."""
    df = df.localCheckpoint()
    lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
    if lo is None:
        return df, step
    cstep = ((hi - lo + step) + max_points * step - 1) // (max_points * step) * step
    if cstep <= step:
        return df, step
    # buckets anchored at the RANGE start, not the epoch: graphite chunks
    # from the series start, and epoch alignment can spill one extra
    # bucket (max_points+1 output rows) whenever lo % cstep != 0
    bucket = F.lit(lo) + ((F.col("ts") - lo) - (F.col("ts") - lo) % cstep)
    return _summarize(df, cstep, how, bucket=bucket), cstep


def evaluate_target(
    source: DataFrame, target: str, step: int | None = None
) -> DataFrame:
    """Evaluate a graphite render target over a series frame.

    ``source`` must carry ``(metric STRING, ts LONG, value DOUBLE)`` —
    e.g. a store fetch timeline or any rollup view.  Returns the same
    shape.  ``step``: the fetch step in seconds, when known (the CLI
    render path passes the step ``store.fetch`` returns) — used by
    step-dependent functions (``hitcount``'s rate→count multiply,
    ``exponentialMovingAverage``'s duration-window→points conversion).
    When omitted, those functions derive a per-series step from the
    data's ts deltas (hitcount) or assume 60s (EMA duration windows)."""
    return _evaluate(parse_target(target), source, target, step)


FUNCTIONS = [
    "sumSeries", "sum", "averageSeries", "avg", "maxSeries", "minSeries",
    "summarize", "hitcount", "movingAverage", "derivative",
    "nonNegativeDerivative", "keepLastValue", "integral", "timeShift",
    "scale", "offset", "absolute", "removeAboveValue", "removeBelowValue",
    "highestAverage", "sortByTotal", "limit", "exponentialMovingAverage",
    "groupByNode", "alias", "aliasByNode", "percentileOfSeries",
    "holtWintersForecast", "holtWintersConfidenceBands",
    "holtWintersAberration",
    "rangeOfSeries", "countSeries", "stddevSeries", "diffSeries",
    "divideSeries", "multiplySeries",
    "transformNull", "isNonNull", "invert", "logarithm", "squareRoot",
    "pow", "perSecond", "delay",
    "averageAbove", "averageBelow", "currentAbove", "currentBelow",
    "maximumAbove", "maximumBelow", "minimumAbove", "minimumBelow",
    "highestCurrent", "lowestCurrent", "highestMax", "lowestAverage",
    "nPercentile", "aliasSub",
    "movingSum", "movingMax", "movingMin", "movingMedian",
    "asPercent", "offsetToZero",
    "exclude", "grep", "sortByName", "sortByMaxima", "sortByMinima",
    "mostDeviant", "highest", "lowest", "filterSeries",
    "averageOutsidePercentile", "removeBetweenPercentile",
    "aggregate", "aggregateLine", "groupByNodes", "aliasByMetric",
    "sumSeriesWithWildcards", "averageSeriesWithWildcards",
    "aggregateWithWildcards", "weightedAverage", "divideSeriesLists",
    "integralByInterval", "smartSummarize", "timeStack", "timeSlice",
    "stdev", "linearRegression", "changed", "interpolate", "round",
    "minMax", "constantLine", "threshold", "identity", "timeFunction",
    "movingWindow", "consolidateBy", "cumulative",
    "substr", "removeAbovePercentile", "removeBelowPercentile",
    "fallbackSeries", "unique", "sortBy", "multiplySeriesWithWildcards",
    "applyByNode", "useSeriesAbove",
    "seriesByTag", "aliasByTags", "groupByTags",
    "diffSeriesLists", "multiplySeriesLists", "sumSeriesLists",
    "aggregateSeriesLists",
    "log", "removeEmptySeries", "scaleToSeconds",
    "sigmoid", "logit", "exp",
    "group", "add", "powSeries", "mapSeries", "map", "reduceSeries",
    "reduce", "cactiStyle", "legendValue", "compressPeriodicGaps",
    "holtWintersConfidenceArea", "setXFilesFactor", "xFilesFactor",
    "sinFunction", "sin", "randomWalkFunction", "randomWalk", "time",
    "verticalLine", "alpha", "color", "dashed", "drawAsInfinite",
    "lineWidth", "secondYAxis", "stacked", "areaBetween", "aliasQuery",
    "roundFunction", "pieAverage", "pieMaximum", "pieMinimum",
]
