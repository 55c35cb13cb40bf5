"""Planner-adjacent logic — the two decisions Catalyst cannot make for us
(SURVEY.md §4):

1. **Resolution routing** (this module): which pre-aggregated resolution
   partition serves a query.  The reference picks the coarsest sufficient
   archive per fetch (whisper.py:943-957); we generalize it to route any
   long-range aggregate to the coarsest materialized rollup whose step
   divides the requested bucket width.  After routing, Catalyst partition
   pruning on ``resolution``/``tb`` + parquet min/max ts stats bound the
   IO — the distributed replacement for whisper's O(1) ring addressing.

2. **Everything else is deliberately left to Catalyst**: predicate
   pushdown, column pruning, join strategy (broadcast hints where a side
   is provably small), partial aggregation, AQE re-planning.  No custom
   rules or strategies — the engine's operators are plain DataFrame
   transformations precisely so these stay free.
"""

from __future__ import annotations

from collections.abc import Sequence

from ..retention import ArchiveSpec


def route_resolution(
    archives: Sequence[ArchiveSpec],
    now: int,
    from_time: int,
    bucket_seconds: int | None = None,
) -> ArchiveSpec:
    """Pick the coarsest archive that can serve a query exactly.

    Without ``bucket_seconds`` this is the reference's fetch rule: the
    highest-precision archive whose retention covers ``now - from_time``
    (whisper.py:943-954).  With ``bucket_seconds`` (an aggregate query
    over fixed buckets), prefer the COARSEST archive whose step divides
    the bucket — reading 1/step-ratio as many rows gives the same result
    for divisible time aggregations (the materialized-rollup route).
    """
    diff = now - from_time
    ordered = sorted(archives, key=lambda a: a.seconds_per_point)
    covering = [a for a in ordered if a.retention >= diff] or [ordered[-1]]
    if bucket_seconds is None:
        return covering[0]
    divisible = [
        a for a in covering if bucket_seconds % a.seconds_per_point == 0
    ]
    if not divisible:
        return covering[0]
    return max(divisible, key=lambda a: a.seconds_per_point)

