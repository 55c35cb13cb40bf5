"""Deterministic full-precision float sums (round-6 engine convention).

Through round 5 the engine made multi-row float sums order-independent
by casting every addend to ``decimal(25,6)`` — which ROUNDS to 1e-6 and
silently diverges from graphite float semantics whenever the inputs are
full-precision doubles (sqrt/log/pow/divide outputs; round-5 verdict,
reproduced in tests/test_render_decimal_regression.py).  The decimal
route remains correct ONLY for values that are exactly representable in
6 decimals (the raw testdata columns); everything derived goes through
these folds instead:

* :func:`fsum` — unordered groups: fold the value-SORTED array
  left-to-right in float64.  Deterministic under any partial-aggregation
  or row order, full precision.  Canonical order is by value (graphite
  sums in series-list order; the difference is final-ulp rounding
  only).  Mirrors bit-exactly in DuckDB via :func:`FSUM`.
* ordered window frames need NO helper on the Spark side: Spark
  evaluates frames by adding rows in frame order, so a plain float64
  ``SUM().over(w)`` IS the naive time-order fold.  DuckDB's windowed
  SUM is pairwise/segment-tree and NOT bit-identical — oracle SQL must
  use :func:`FSUM_WIN` (explicit frame-order fold) instead.
* :func:`fsum_win_sorted` — windows whose frame has no deterministic
  row order (e.g. ``partitionBy(ts)`` with no ORDER BY): sorted fold
  over the window's collected values.  Mirrors via
  :func:`FSUM_WIN_SORTED`.

All forms were verified bit-identical across Spark, DuckDB, and a naive
Python loop on 2000 adversarial irrational doubles spanning 12 orders of
magnitude; on the same inputs DuckDB's windowed SUM differed from the
naive fold on 1841 of 2000 cumulative sums (PERF.md, "decimal(25,6)
quantization fix").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def fsum(col) -> Column:
    """Order-canonical float64 sum for an UNORDERED group: fold the
    value-sorted array left-to-right.  Empty group (no known values)
    -> NULL, like SUM.  NULLs are skipped (collect_list drops them)."""
    c = _c(col)
    fold = F.aggregate(
        F.array_sort(F.collect_list(c)), F.lit(0.0), lambda a, x: a + x
    )
    return F.when(F.count(c) > 0, fold)


def fsum_win_sorted(w, col) -> Column:
    """Sorted float64 fold over a window whose frame has NO deterministic
    row order (no ORDER BY)."""
    c = _c(col)
    fold = F.aggregate(
        F.array_sort(F.collect_list(c).over(w)), F.lit(0.0), lambda a, x: a + x
    )
    return F.when(F.count(c).over(w) > 0, fold)


def FSUM(expr: str) -> str:
    """DuckDB mirror of :func:`fsum` (group aggregate position)."""
    return (
        f"CASE WHEN count({expr}) > 0 THEN "
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_sort(list({expr}) FILTER ({expr} IS NOT NULL))), "
        f"(a, x) -> a + x) END"
    )


def FSUM_WIN(expr: str, win: str) -> str:
    """DuckDB frame-order float64 fold over window ``win`` — mirrors a
    Spark plain ``SUM().over(ordered_frame)`` (naive in-order fold)."""
    return (
        f"CASE WHEN count({expr}) OVER {win} > 0 THEN "
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_filter(list({expr}) OVER {win}, x -> x IS NOT NULL)), "
        f"(a, x) -> a + x) END"
    )


def FSUM_WIN_SORTED(expr: str, win: str) -> str:
    """DuckDB mirror of :func:`fsum_win_sorted` (unordered frame)."""
    return (
        f"CASE WHEN count({expr}) OVER {win} > 0 THEN "
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_sort(list_filter(list({expr}) OVER {win}, "
        f"x -> x IS NOT NULL))), (a, x) -> a + x) END"
    )
