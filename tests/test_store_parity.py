"""Differential tests: WhisperStore vs the actual reference library.

The reference implementation at /root/reference is imported as a TEST
ORACLE only — each scenario applies identical writes to a temp .wsp file
and to a WhisperStore with a pinned ``now``, then compares ``fetch``
output exactly (timeInfo tuple + value list, None-for-None).

Scenario sources: FIXTURES.md / reference test_whisper.py:555-707,795-813.
"""

import math
import os

import pytest

from tests._reference import refwhisper, requires_reference

from whisper_spark.store import WhisperStore
from whisper_spark.errors import (
    InvalidTimeInterval,
    TimestampNotCovered,
)

pytestmark = requires_reference

NOW = 1700000000  # pinned; whisper semantics depend on `now` everywhere


class Pair:
    """One (reference .wsp file, WhisperStore) pair driven in lockstep."""

    def __init__(self, spark, tmp_path, archives, xff=0.5, agg="average"):
        self.wsp = str(tmp_path / "ref.wsp")
        refwhisper.create(self.wsp, archives, xFilesFactor=xff, aggregationMethod=agg)
        self.store = WhisperStore.create(
            spark, str(tmp_path / "store"), archives, x_files_factor=xff,
            aggregation_method=agg,
        )

    def update(self, value, ts, now=NOW):
        refwhisper.update(self.wsp, value, ts, now=now)
        self.store.update("m", value, ts, now=now)

    def update_many(self, points, now=NOW):
        refwhisper.update_many(self.wsp, points, now=now)
        self.store.update_many(((t, v) for (t, v) in points), now=now, metric="m")

    def assert_fetch_equal(self, from_time, until_time=None, now=NOW, archive_step=None):
        ref = refwhisper.fetch(
            self.wsp, from_time, until_time, now=now, archiveToSelect=archive_step
        )
        got = self.store.fetch_series(
            "m", from_time=from_time, until_time=until_time, now=now,
            archive_step=archive_step,
        )
        if ref is None:
            assert got is None
            return
        (ref_info, ref_vals) = ref
        assert got is not None, f"store returned None, reference {ref_info}"
        (got_info, got_vals) = got
        assert got_info == tuple(ref_info)
        assert len(got_vals) == len(ref_vals)
        for i, (r, g) in enumerate(zip(ref_vals, got_vals)):
            if r is None or g is None:
                assert r is None and g is None, f"slot {i}: ref={r} got={g}"
            elif isinstance(r, float) and math.isnan(r):
                assert math.isnan(g), f"slot {i}: ref=NaN got={g}"
            else:
                assert g == pytest.approx(r), f"slot {i}: ref={r} got={g}"


def test_round_trip_single_archive(spark, tmp_path):
    """R2: 20 points, exact slot equality (reference test_whisper.py:555-576)."""
    import random

    rng = random.Random(42)
    pair = Pair(spark, tmp_path, [(1, 20)])
    points = [(NOW - 20 + 1 + i, rng.uniform(0, 10)) for i in range(20)]
    pair.update(points[0][1], points[0][0])
    pair.update_many(points[1:])
    pair.assert_fetch_equal(NOW - 20, NOW)
    pair.assert_fetch_equal(NOW - 19, NOW - 5)


def test_zero_length_fetch(spark, tmp_path):
    """from == until returns exactly one slot (reference test_whisper.py:371-376)."""
    pair = Pair(spark, tmp_path, [(1, 20)])
    pair.update(3.14, NOW - 1)
    pair.assert_fetch_equal(NOW - 1, NOW - 1)


def test_invalid_interval(spark, tmp_path):
    pair = Pair(spark, tmp_path, [(1, 20)])
    with pytest.raises(InvalidTimeInterval):
        pair.store.fetch("m", from_time=NOW, until_time=NOW - 10, now=NOW)


def test_future_and_expired_ranges(spark, tmp_path):
    pair = Pair(spark, tmp_path, [(1, 20)])
    pair.update(1.0, NOW - 1)
    # fully in the future -> None
    pair.assert_fetch_equal(NOW + 10, NOW + 20)
    # fully beyond retention -> None
    pair.assert_fetch_equal(NOW - 100, NOW - 50)
    # partially beyond retention -> clamped
    pair.assert_fetch_equal(NOW - 100, NOW)
    # partially in the future -> clamped to now
    pair.assert_fetch_equal(NOW - 5, NOW + 100)


def test_update_rejections(spark, tmp_path):
    """Single update rejects future + beyond-retention ts
    (reference: whisper.py:691-696, test_whisper.py:661-672)."""
    pair = Pair(spark, tmp_path, [(1, 20)])
    with pytest.raises(TimestampNotCovered):
        pair.store.update("m", 1.0, NOW + 1, now=NOW)
    with pytest.raises(TimestampNotCovered):
        pair.store.update("m", 1.0, NOW - 20, now=NOW)  # diff == maxRetention
    with pytest.raises(refwhisper.TimestampNotCovered):
        refwhisper.update(pair.wsp, 1.0, NOW + 1, now=NOW)
    with pytest.raises(refwhisper.TimestampNotCovered):
        refwhisper.update(pair.wsp, 1.0, NOW - 20, now=NOW)


def test_bulk_drops_expired_keeps_valid(spark, tmp_path):
    """update_many mixing valid + expired points silently drops the
    expired ones (reference: whisper.py:781-789)."""
    pair = Pair(spark, tmp_path, [(1, 20)])
    pair.update_many([(NOW - 100, 666.0), (NOW - 50, 666.0), (NOW - 3, 1.5), (NOW - 2, 2.5)])
    pair.assert_fetch_equal(NOW - 19, NOW)


def test_duplicate_intervals_within_batch(spark, tmp_path):
    """Duplicate aligned intervals in one bulk batch: greatest raw ts wins,
    ties to earliest submitted (reference: whisper.py:749,806-808)."""
    pair = Pair(spark, tmp_path, [(10, 20)])
    # all three align to the same 10 s slot
    pair.update_many([(NOW - 15, 1.0), (NOW - 12, 2.0), (NOW - 18, 3.0)])
    pair.assert_fetch_equal(NOW - 60, NOW)
    # identical raw ts duplicated: first submitted wins
    (tmp_path / "2").mkdir()
    pair2 = Pair(spark, tmp_path / "2", [(10, 20)])
    pair2.update_many([(NOW - 15, 7.0), (NOW - 15, 8.0)])
    pair2.assert_fetch_equal(NOW - 60, NOW)


def test_last_write_wins_across_batches(spark, tmp_path):
    pair = Pair(spark, tmp_path, [(1, 20)])
    pair.update(1.0, NOW - 5)
    pair.update(2.0, NOW - 5)  # overwrite same slot
    pair.assert_fetch_equal(NOW - 19, NOW)


def test_ring_overflow(spark, tmp_path):
    """More points than the archive holds -> only newest retained
    (reference test_whisper.py:683-707)."""
    pair = Pair(spark, tmp_path, [(1, 3)])
    pair.update_many([(NOW - 4, 4.0), (NOW - 3, 3.0), (NOW - 2, 2.0), (NOW - 1, 1.0)])
    pair.assert_fetch_equal(NOW - 3, NOW)


def test_rollup_xff_gate(spark, tmp_path):
    """Minute rollup present iff known-fraction >= xff (reference:
    whisper.py:639-640; FIXTURES.md scenario rollup_xff)."""
    for xff, k in [(0.0, 10), (0.5, 10), (0.5, 30), (0.5, 60), (1.0, 30), (1.0, 60)]:
        sub = tmp_path / f"xff{xff}k{k}"
        sub.mkdir()
        pair = Pair(spark, sub, [(1, 120), (60, 60)], xff=xff)
        base = NOW - (NOW % 60) - 60  # one whole minute interval
        pair.update_many([(base + i, float(i)) for i in range(k)])
        # fetch far enough back that the minute archive is selected
        pair.assert_fetch_equal(NOW - 3000, NOW)


@pytest.mark.parametrize(
    "agg", ["average", "sum", "last", "max", "min", "avg_zero", "absmax", "absmin"]
)
def test_rollup_aggregation_methods(spark, tmp_path, agg):
    """Each consolidation method through a real rollup cascade."""
    pair = Pair(spark, tmp_path, [(1, 120), (60, 60)], xff=0.0, agg=agg)
    base = NOW - (NOW % 60) - 120
    vals = [3.0, -4.0, 1.5, -1.5, 2.0, 7.0, -7.0]
    pair.update_many([(base + 2 * i, v) for i, v in enumerate(vals)])
    pair.assert_fetch_equal(NOW - 3000, NOW)


def test_multi_level_cascade(spark, tmp_path):
    """R3-style three-level cascade: second -> minute -> hour."""
    pair = Pair(spark, tmp_path, [(1, 3600), (60, 120), (3600, 48)], xff=0.0)
    base = NOW - (NOW % 3600) - 3600  # one whole hour
    pair.update_many([(base + i * 30, float(i)) for i in range(120)])
    pair.assert_fetch_equal(NOW - 3000, NOW)                      # second archive
    pair.assert_fetch_equal(NOW - 7000, NOW)                      # minute archive
    pair.assert_fetch_equal(NOW - 47 * 3600, NOW)                 # hour archive
    pair.assert_fetch_equal(NOW - 3000, NOW, archive_step=3600)   # forced


def test_archive_selection(spark, tmp_path):
    """Archive chosen by range age / forced granularity (reference:
    whisper.py:943-957, test_whisper.py:795-813)."""
    archives = [(1, 60), (60, 60), (3600, 24), (86400, 365)]
    pair = Pair(spark, tmp_path, archives)
    pair.update_many([(NOW - i, float(i % 100)) for i in range(0, 300, 7)])
    for from_age, step in [(30, 1), (1800, 60), (12 * 3600, 3600), (30 * 86400, 86400)]:
        res = pair.store.fetch("m", from_time=NOW - from_age, now=NOW)
        assert res is not None
        assert res[0][2] == step, f"range {from_age}s should pick step {step}"
    for forced in (1, 60, 3600, 86400):
        res = pair.store.fetch("m", from_time=NOW - 30, now=NOW, archive_step=forced)
        assert res[0][2] == forced
    pair.assert_fetch_equal(NOW - 30, NOW)
    pair.assert_fetch_equal(NOW - 1800, NOW)


def test_age_bucketed_writes_skip_higher_archives(spark, tmp_path):
    """A point older than archive0's retention lands directly in archive1
    and never back-fills archive0 (reference: whisper.py:767-789)."""
    pair = Pair(spark, tmp_path, [(1, 60), (60, 60)], xff=0.0)
    pair.update_many([(NOW - 300, 42.0), (NOW - 10, 7.0)])
    pair.assert_fetch_equal(NOW - 59, NOW)    # archive0: only the fresh point
    pair.assert_fetch_equal(NOW - 3000, NOW)  # archive1: rollup + direct write


def test_nan_round_trip(spark, tmp_path):
    """NaN is a storable value (reference test_whisper.py:454)."""
    pair = Pair(spark, tmp_path, [(1, 20)])
    pair.update(float("nan"), NOW - 2)
    pair.update(1.0, NOW - 3)
    pair.assert_fetch_equal(NOW - 19, NOW)


def test_info_and_header_mutation(spark, tmp_path):
    pair = Pair(spark, tmp_path, [(1, 60), (60, 60)])
    info = pair.store.info()
    ref = refwhisper.info(pair.wsp)
    assert info["maxRetention"] == ref["maxRetention"]
    assert info["xFilesFactor"] == pytest.approx(ref["xFilesFactor"])
    assert info["aggregationMethod"] == ref["aggregationMethod"]
    assert [(a["secondsPerPoint"], a["points"]) for a in info["archives"]] == [
        (a["secondsPerPoint"], a["points"]) for a in ref["archives"]
    ]
    old = pair.store.set_aggregation_method("sum")
    assert old == "average"
    assert pair.store.aggregation_method == "sum"
    old_xff = pair.store.set_x_files_factor(0.25)
    assert old_xff == pytest.approx(0.5)
    assert pair.store.x_files_factor == pytest.approx(0.25)


def test_compact_preserves_visible_state(spark, tmp_path):
    pair = Pair(spark, tmp_path, [(1, 120), (60, 60)], xff=0.0)
    base = NOW - (NOW % 60) - 60
    pair.update_many([(base + i, float(i)) for i in range(30)])
    pair.update(99.0, base + 5)
    before = pair.store.fetch_series("m", from_time=NOW - 119, now=NOW)
    pair.store.compact(now=NOW)
    after = pair.store.fetch_series("m", from_time=NOW - 119, now=NOW)
    assert before == after
    pair.assert_fetch_equal(NOW - 119, NOW)
