"""Distributed exact order statistics without a global sort.

The reference engine has no quantile machinery (whisper stores points,
not distributions); this exists for the LLM-pipeline capstones — a
fluency gate at the corpus median must select the EXACT nearest-rank
value (the DuckDB oracle hashes it) without funnelling the whole
surviving corpus through a single-partition ``row_number`` window.

``exact_kth_smallest`` is the classic distributed selection: each round
buckets the remaining candidate value range into ``buckets``
sub-intervals with one distributed ``groupBy`` pass, driver-collects the
<=``buckets``-row histogram, and narrows to the sub-interval holding the
residual rank.  Every pass is a map-side-combinable aggregate; the only
driver traffic is the bounded histogram.  With 4096 buckets the range
shrinks 2^12 per round, so a handful of rounds passes double precision
and the terminal interval collapses to one representable value for any
real data; ties (many rows sharing one value) terminate immediately
because the selected bucket's data min == max.  Each round narrows to
the selected bucket's actual data min/max (collected in the same
aggregate pass), never to recomputed ``lo + bucket_id*width`` edges, so
the refined bounds always refilter exactly the population the histogram
counted — bucket assignment is monotone in the value, hence buckets are
value-contiguous and their min/max bound their membership exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_TERMINAL_DISTINCT = 100_000


def exact_kth_smallest(
    df: DataFrame,
    col: str,
    k: int,
    buckets: int = 4096,
    max_rounds: int = 12,
) -> float:
    """Exact k-th smallest (1-based, with multiplicity) value of
    ``df[col]`` (nulls ignored), computed by recursive range refinement
    — no global sort, no partition-less window, driver traffic bounded
    by ``buckets`` rows per round.

    ``df`` is scanned once per round (2-4 rounds in practice); callers
    on expensive upstream pipelines should ``localCheckpoint()`` it
    first.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    vals = df.select(F.col(col).alias("_v")).filter(F.col("_v").isNotNull())
    # fail fast on non-finite values: a NaN poisons the bucket
    # expression (floor(NaN) -> NULL group) and ±inf collapses the
    # range width to inf/0, degrading into an opaque bucket-0
    # collapse or a terminal-collect convergence error many rounds
    # later — surface the real cause on the FIRST pass instead
    # (review finding, round 9)
    _d = F.col("_v").cast("double")
    bad = F.when(
        F.isnan(_d) | (_d == F.lit(float("inf")))
        | (_d == F.lit(float("-inf"))), 1
    ).otherwise(0)
    stats = vals.agg(
        F.count("*").alias("n"), F.min("_v").alias("lo"),
        F.max("_v").alias("hi"), F.sum(bad).alias("bad"),
    ).first()
    n, lo, hi = stats["n"], stats["lo"], stats["hi"]
    if stats["bad"]:
        raise ValueError(
            f"column {col!r} holds {stats['bad']} non-finite "
            f"(NaN/±inf) values; exact_kth_smallest requires finite "
            f"input — filter or impute them first"
        )
    if k > n:
        raise ValueError(f"k={k} exceeds non-null count {n}")
    lo, hi = float(lo), float(hi)
    r = k
    for _ in range(max_rounds):
        if lo == hi:
            return lo
        width = (hi - lo) / buckets
        if width <= 0.0 or lo + width == lo:
            # interval narrower than double resolution around lo: at most
            # a few thousand representable values survive — finish exactly
            # driver-side below rather than guessing an endpoint
            break
        b = F.least(
            F.lit(buckets - 1),
            F.floor((F.col("_v") - F.lit(lo)) / F.lit(width)).cast("long"),
        )
        # One aggregate pass yields each bucket's count AND its actual data
        # min/max.  (v - lo) / width is monotone non-decreasing in v under
        # IEEE round-to-nearest, so buckets are value-contiguous: every
        # value in [bucket_min, bucket_max] maps back to the same bucket.
        # Narrowing to the selected bucket's OWN min/max therefore refilters
        # exactly the counted population — no float edge drift between the
        # histogram expression and the next round's bounds.
        hist = sorted(
            (row["b"], row["c"], row["blo"], row["bhi"])
            for row in vals.filter(
                (F.col("_v") >= F.lit(lo)) & (F.col("_v") <= F.lit(hi))
            )
            .groupBy(b.alias("b"))
            .agg(
                F.count("*").alias("c"),
                F.min("_v").alias("blo"),
                F.max("_v").alias("bhi"),
            )
            .collect()
        )
        cum = 0
        for _bucket_id, c, blo, bhi in hist:
            if cum + c >= r:
                r -= cum
                lo, hi = float(blo), float(bhi)
                break
            cum += c
        else:  # pragma: no cover - unreachable: sum of counts == population
            raise AssertionError("rank fell outside the bucket histogram")
    # interval no longer narrowable by floats: collect the (tiny)
    # surviving distinct values and finish driver-side
    tail = (
        vals.filter((F.col("_v") >= F.lit(lo)) & (F.col("_v") <= F.lit(hi)))
        .groupBy("_v")
        .agg(F.count("*").alias("c"))
        .orderBy("_v")
        .limit(_MAX_TERMINAL_DISTINCT + 1)
        .collect()
    )
    if len(tail) > _MAX_TERMINAL_DISTINCT:  # pragma: no cover
        raise AssertionError(
            "terminal interval did not converge; raise max_rounds"
        )
    cum = 0
    for row in tail:
        cum += row["c"]
        if cum >= r:
            return float(row["_v"])
    raise AssertionError("rank fell outside the terminal interval")
