r"""The 8 consolidation functions, expressed as Spark aggregate columns.

Reference semantics: whisper.py:120-131 (enum) and whisper.py:553-575
(dispatch).  In the reference these fold a Python list; here each method is
a JVM-side aggregate expression applied inside ``groupBy(metric, bucket)``,
so Catalyst gives us map-side partial aggregation for free — the property
that makes the rollup cascade scale to 100 TB (no per-metric loops).

Tie-breaking notes (the reference uses Python ``max(..., key=abs)`` /
``min(..., key=abs)``, which keep the *first* of equal-abs values in
chronological slot order — observable behavior our differential fuzzer
checks, see tests/test_store_fuzz.py):

* ``absmax``/``absmin``: on \|v\| ties the EARLIEST slot (by the ``order``
  column) wins, exactly like the reference's first-wins fold.  Without an
  ``order`` column the signed value breaks the tie (+3 beats -3 for
  absmax, -3 beats +3 for absmin) — deterministic, documented deviation.
* ``last``: the value with the greatest (ts, seq) — deterministic given the
  explicit arrival-order column our ingest carries (SURVEY.md §7 "genuinely
  hard parts" (3)).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .errors import InvalidAggregationMethod

#: enum values for parity with the reference header field
#: (reference: whisper.py:115,120-129)
AGGREGATION_TYPE_TO_METHOD = {
    1: "average",
    2: "sum",
    3: "last",
    4: "max",
    5: "min",
    6: "avg_zero",
    7: "absmax",
    8: "absmin",
}
AGGREGATION_METHOD_TO_TYPE = {v: k for k, v in AGGREGATION_TYPE_TO_METHOD.items()}

AGGREGATION_METHODS = tuple(AGGREGATION_TYPE_TO_METHOD.values())


def aggregate_column(
    method: str,
    value: Column | str,
    order: Column | str | None = None,
    expected_slots: Column | int | None = None,
) -> Column:
    """Return the aggregate ``Column`` implementing *method* over ``value``.

    ``order``: time/arrival-order column — required by ``last`` and by the
    NaN-ordering emulation of max/min/absmax/absmin (see below).
    ``expected_slots``: denominator for ``avg_zero`` — the number of
    higher-resolution slots in the interval, *not* the number of known
    values (reference: whisper.py:564-568 divides by
    ``len(neighborValues)``, the full slot list with Nones).

    NaN parity (found by differential fuzzing, tests/test_store_fuzz.py):
    the reference folds with Python ``max``/``min``, where every
    comparison against NaN is False — so NaN wins ONLY when it is the
    first value in time order, and is otherwise ignored.  Spark instead
    orders NaN above all doubles.  With an ``order`` column we reproduce
    the reference exactly: ``NaN if first-known value is NaN else the
    aggregate over non-NaN values``.  Without ``order``, Spark semantics
    apply (documented deviation).
    """
    v = F.col(value) if isinstance(value, str) else value
    o = F.col(order) if isinstance(order, str) else order

    def first_known() -> Column:
        # value of the earliest (by order) non-null slot
        return F.min(F.when(v.isNotNull(), F.struct(o, v.alias("v"))))["v"]

    def nanfold(agg: Column) -> Column:
        if o is None:
            return agg
        return F.when(F.isnan(first_known()), F.lit(float("nan"))).otherwise(agg)

    not_nan = ~F.isnan(v)
    if method == "average":
        return F.avg(v)
    if method == "sum":
        return F.sum(v)
    if method == "last":
        if o is None:
            raise ValueError("'last' requires an order column")
        # max over (order, value) struct = value carried by the max order;
        # value itself tie-breaks equal orders deterministically.
        return F.max(F.when(v.isNotNull(), F.struct(o, v.alias("v"))))["v"]
    if method == "max":
        return nanfold(F.max(F.when(not_nan, v)))
    if method == "min":
        return nanfold(F.min(F.when(not_nan, v)))
    if method == "avg_zero":
        if expected_slots is None:
            raise ValueError("'avg_zero' requires expected_slots")
        n = F.lit(expected_slots) if isinstance(expected_slots, int) else expected_slots
        return F.sum(F.coalesce(v, F.lit(0.0))) / n.cast("double")
    if method == "absmax":
        # lexicographic max over (|v|, -order, v): max abs wins, equal-abs
        # resolved to the EARLIEST slot (reference first-wins fold)
        key = [F.abs(v).alias("a")] + ([(-o).alias("no")] if o is not None else []) + [v.alias("v")]
        return nanfold(
            F.max(F.when(v.isNotNull() & not_nan, F.struct(*key)))["v"]
        )
    if method == "absmin":
        # lexicographic min over (|v|, order, v): min abs, earliest slot
        key = [F.abs(v).alias("a")] + ([o.alias("o")] if o is not None else []) + [v.alias("v")]
        return nanfold(
            F.min(F.when(v.isNotNull() & not_nan, F.struct(*key)))["v"]
        )
    raise InvalidAggregationMethod(f"Unrecognized aggregation method {method}")


def validate_aggregation_method(method: str) -> str:
    if method not in AGGREGATION_METHOD_TO_TYPE:
        raise InvalidAggregationMethod(f"Unrecognized aggregation method: {method}")
    return method
