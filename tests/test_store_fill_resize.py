"""fill_from and resize on a small store, without the reference library.

Expected timelines are written out by hand from the rules of
bin/whisper-fill.py and bin/whisper-resize.py, not computed by the
store.  Every source store uses the policy 60s:10m,5m:1h (a 5 minute
interval holds 5 minute-slots) with xFilesFactor 0, so each rollup is the
plain average of the known slots under it.
"""

import os

from whisper_spark.store import WhisperStore

NOW = 1_700_002_800  # hour-aligned
POLICY = [(60, 10), (300, 12)]


def _store(spark, tmp_path, points, name="db"):
    store = WhisperStore.create(spark, str(tmp_path / name), POLICY, x_files_factor=0.0)
    df = spark.createDataFrame(
        [("m", t, float(v), i) for i, (t, v) in enumerate(points)],
        "metric string, ts long, value double, seq long",
    )
    store.update_many(df, now=NOW)
    return store


def _timeline(store, from_time, archive_step=None):
    ((frm, until, step), values) = store.fetch_series(
        "m", from_time=from_time, until_time=NOW, now=NOW, archive_step=archive_step
    )
    return dict(zip(range(frm, until, step), values))


def test_fill_fills_gaps_of_two_slots_and_keeps_present_values(spark, tmp_path):
    src = _store(spark, tmp_path, [(NOW - 60 * k, 100.0 + k) for k in range(6)], "src")
    # archive 0 shows NOW-540..NOW; dst's gaps there: NOW-540..NOW-360
    # (4 slots, nothing in src), NOW-240..NOW-180 (2 slots) and NOW-60
    # (1 slot); zero counts as a gap (whisper-fill tests ``if not v``)
    dst = _store(spark, tmp_path, [(NOW - 300, 1), (NOW - 240, 0), (NOW - 120, 4), (NOW, 6)])
    dst.fill_from(src, now=NOW)
    assert _timeline(dst, NOW - 600) == {
        **{NOW - 60 * k: None for k in range(6, 10)},
        # each filled range runs one slot past its gap, so the present
        # slot that ends a gap takes src's value (whisper-fill fetches
        # src up to and including that slot)
        NOW - 300: 105.0,
        NOW - 240: 104.0,
        NOW - 180: 103.0,
        NOW - 120: 102.0,
        # a one-slot gap is never filled
        NOW - 60: None,
        # a present value outside every filled range is kept
        NOW: 6.0,
    }


def test_resize_keeps_the_finest_data(spark, tmp_path):
    # NOW-900 is older than archive 0 and lands in archive 1 directly;
    # archive 1's NOW-300 interval holds the rollup (10 + 20) / 2 = 15
    old = _store(spark, tmp_path, [(NOW - 900, 7), (NOW - 300, 10), (NOW - 240, 20)])
    assert _timeline(old, NOW - 3600)[NOW - 300] == 15.0
    new = old.resize([(60, 20)], new_path=str(tmp_path / "new"), now=NOW)
    assert [(a.seconds_per_point, a.points) for a in new.archives] == [(60, 20)]
    # archives replay coarsest first: the minute values overwrite the
    # rollup at NOW-300, and the coarse-only point survives
    expected = {NOW - 60 * k: None for k in range(20)}
    expected.update({NOW - 900: 7.0, NOW - 300: 10.0, NOW - 240: 20.0})
    assert _timeline(new, NOW - 1200) == expected
    assert _timeline(old, NOW - 600)[NOW - 300] == 10.0


def test_resize_with_aggregate_rebins_through_the_xff_gate(spark, tmp_path):
    old = _store(spark, tmp_path, [
        (NOW - 1800, 4), (NOW - 1500, 6), (NOW - 900, 8), (NOW - 300, 10), (NOW - 240, 20),
    ])
    new = old.resize(
        [(60, 10), (600, 6)], new_path=str(tmp_path / "new"),
        x_files_factor=0.5, use_aggregate=True, now=NOW,
    )
    # the merged timeline is archive 0's slots NOW-480..NOW plus archive
    # 1's slots older than NOW-480; each 600 s bin keeps the average of
    # its known slots when known / all slots >= 0.5:
    #   [NOW-1800, NOW-1200): 4, 6 of 2 slots -> 5.0
    #   [NOW-1200, NOW-600):  8 of 2 slots    -> 8.0
    #   [NOW-600, NOW):       10, 20 of 9     -> gated out
    assert _timeline(new, NOW - 3600) == {
        NOW - 3000: None, NOW - 2400: None, NOW - 1800: 5.0,
        NOW - 1200: 8.0, NOW - 600: None, NOW: None,
    }
    # the minute archive re-bins slot by slot; NOW itself is past the
    # last bin
    expected = {NOW - 60 * k: None for k in range(10)}
    expected.update({NOW - 300: 10.0, NOW - 240: 20.0})
    assert _timeline(new, NOW - 600) == expected


def test_resize_without_a_new_path_swaps_in_place(spark, tmp_path):
    store = _store(spark, tmp_path, [(NOW - 900, 7), (NOW - 300, 10)])
    path = store.path
    assert store.resize([(60, 20)], now=NOW) is store
    assert store.path == path
    assert [(a.seconds_per_point, a.points) for a in store.archives] == [(60, 20)]
    reopened = WhisperStore.open(spark, path)
    assert [(a.seconds_per_point, a.points) for a in reopened.archives] == [(60, 20)]
    assert {t: v for t, v in _timeline(reopened, NOW - 1200).items() if v is not None} == {
        NOW - 900: 7.0, NOW - 300: 10.0,
    }
    # neither the new tree nor the old one is left beside the store
    assert os.listdir(tmp_path) == ["db"]
