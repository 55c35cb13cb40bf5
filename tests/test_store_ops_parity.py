"""Differential tests for merge/diff/fill/resize vs the reference library.

Same pattern as test_store_parity.py: identical operations on a temp .wsp
pair and a WhisperStore pair with pinned ``now``, compare observable state.
whisper-fill and whisper-resize are exercised through the reference's own
scripts/functions where importable.
"""

import math

import pytest

from tests._reference import refwhisper, requires_reference

from whisper_spark.store import WhisperStore

NOW = 1700000000


def mk_pair(spark, tmp_path, name, archives, xff=0.5, agg="average"):
    wsp = str(tmp_path / f"{name}.wsp")
    refwhisper.create(wsp, archives, xFilesFactor=xff, aggregationMethod=agg)
    store = WhisperStore.create(
        spark, str(tmp_path / f"{name}_store"), archives,
        x_files_factor=xff, aggregation_method=agg,
    )
    return wsp, store


def write_both(wsp, store, points, now=NOW):
    refwhisper.update_many(wsp, points, now=now)
    store.update_many(((t, v) for (t, v) in points), now=now, metric="m")


def assert_series_equal(ref, got, label=""):
    if ref is None:
        assert got is None
        return
    (ri, rv) = ref
    (gi, gv) = got
    assert gi == tuple(ri), label
    assert len(gv) == len(rv), label
    for i, (r, g) in enumerate(zip(rv, gv)):
        if r is None or g is None:
            assert r is None and g is None, f"{label} slot {i}: ref={r} got={g}"
        elif isinstance(r, float) and math.isnan(r):
            assert math.isnan(g), f"{label} slot {i}"
        else:
            assert g == pytest.approx(r), f"{label} slot {i}: ref={r} got={g}"


def fetch_both(wsp, store, from_time, until_time=None, now=NOW):
    ref = refwhisper.fetch(wsp, from_time, until_time, now=now)
    got = store.fetch_series("m", from_time=from_time, until_time=until_time, now=now)
    return ref, got


ARCHIVES = [(1, 120), (60, 60)]


def _sample_points(k=40, base=NOW - 100):
    import random

    rng = random.Random(7)
    return [(base + i * 2, round(rng.uniform(-5, 10), 2)) for i in range(k)]


@requires_reference
def test_merge_overwrites_dst(spark, tmp_path):
    src_wsp, src_store = mk_pair(spark, tmp_path, "src", ARCHIVES, xff=0.0)
    dst_wsp, dst_store = mk_pair(spark, tmp_path, "dst", ARCHIVES, xff=0.0)
    write_both(src_wsp, src_store, _sample_points(30, NOW - 90))
    write_both(dst_wsp, dst_store, [(NOW - 80 + i, 100.0 + i) for i in range(20)])

    refwhisper.merge(src_wsp, dst_wsp, now=NOW)
    src_store.merge_into(dst_store, now=NOW)

    ref, got = fetch_both(dst_wsp, dst_store, NOW - 119, NOW)
    assert_series_equal(ref, got, "merged second archive")
    ref, got = fetch_both(dst_wsp, dst_store, NOW - 3000, NOW)
    assert_series_equal(ref, got, "merged minute archive")


@requires_reference
def test_merge_with_window(spark, tmp_path):
    src_wsp, src_store = mk_pair(spark, tmp_path, "srcw", ARCHIVES, xff=0.0)
    dst_wsp, dst_store = mk_pair(spark, tmp_path, "dstw", ARCHIVES, xff=0.0)
    write_both(src_wsp, src_store, _sample_points(40, NOW - 110))
    refwhisper.merge(src_wsp, dst_wsp, time_from=NOW - 60, time_to=NOW - 20, now=NOW)
    src_store.merge_into(dst_store, time_from=NOW - 60, time_to=NOW - 20, now=NOW)
    ref, got = fetch_both(dst_wsp, dst_store, NOW - 119, NOW)
    assert_series_equal(ref, got, "windowed merge")


@requires_reference
def test_merge_mismatched_archives_raises(spark, tmp_path):
    _, a = mk_pair(spark, tmp_path, "ma", ARCHIVES)
    _, b = mk_pair(spark, tmp_path, "mb", [(100, 10)])
    with pytest.raises(NotImplementedError):
        a.merge_into(b, now=NOW)


@requires_reference
def test_diff_matches_reference(spark, tmp_path):
    a_wsp, a_store = mk_pair(spark, tmp_path, "da", ARCHIVES, xff=0.0)
    b_wsp, b_store = mk_pair(spark, tmp_path, "db", ARCHIVES, xff=0.0)
    pts_a = [(NOW - 50 + i, float(i)) for i in range(30)]
    pts_b = [(NOW - 50 + i, float(i if i % 3 else i + 10)) for i in range(25)]
    write_both(a_wsp, a_store, pts_a)
    refwhisper.update_many(b_wsp, pts_b, now=NOW)
    b_store.update_many(((t, v) for (t, v) in pts_b), now=NOW, metric="m")

    ref = refwhisper.diff(a_wsp, b_wsp, now=NOW)
    got = a_store.diff(b_store, now=NOW)
    assert len(got) == len(ref)
    for (ri, rdiffs, rtotal), (gi, gdf, gtotal) in zip(ref, got):
        assert gi == ri
        assert gtotal == rtotal, f"archive {ri} total"
        grows = {
            r["ts"]: (r["va"], r["vb"]) for r in gdf.collect()
        }
        assert len(grows) == len(rdiffs), f"archive {ri} diff count"
        for (ts, va, vb) in rdiffs:
            assert ts in grows
            gva, gvb = grows[ts]
            assert (gva is None) == (va is None) and (gvb is None) == (vb is None)
            if va is not None:
                assert gva == pytest.approx(va)
            if vb is not None:
                assert gvb == pytest.approx(vb)


@requires_reference
def test_diff_ignore_empty(spark, tmp_path):
    a_wsp, a_store = mk_pair(spark, tmp_path, "ia", ARCHIVES, xff=0.0)
    b_wsp, b_store = mk_pair(spark, tmp_path, "ib", ARCHIVES, xff=0.0)
    write_both(a_wsp, a_store, [(NOW - 20 + i, float(i)) for i in range(10)])
    refwhisper.update_many(b_wsp, [(NOW - 15 + i, 99.0) for i in range(10)], now=NOW)
    b_store.update_many(
        ((NOW - 15 + i, 99.0) for i in range(10)), now=NOW, metric="m"
    )
    ref = refwhisper.diff(a_wsp, b_wsp, ignore_empty=True, now=NOW)
    got = a_store.diff(b_store, ignore_empty=True, now=NOW)
    for (ri, rdiffs, rtotal), (gi, gdf, gtotal) in zip(ref, got):
        assert gtotal == rtotal
        assert gdf.count() == len(rdiffs)


@requires_reference
def test_diff_nan_is_different(spark, tmp_path):
    """NaN vs NaN must be reported as a difference (Python != semantics in
    the reference, test_whisper.py:454-478) despite Spark's NaN==NaN."""
    a_wsp, a_store = mk_pair(spark, tmp_path, "na", ARCHIVES, xff=0.0)
    b_wsp, b_store = mk_pair(spark, tmp_path, "nb", ARCHIVES, xff=0.0)
    write_both(a_wsp, a_store, [(NOW - 5, float("nan")), (NOW - 4, 1.0)])
    refwhisper.update_many(b_wsp, [(NOW - 5, float("nan")), (NOW - 4, 1.0)], now=NOW)
    b_store.update_many([(NOW - 5, float("nan")), (NOW - 4, 1.0)], now=NOW, metric="m")
    ref = refwhisper.diff(a_wsp, b_wsp, now=NOW)
    got = a_store.diff(b_store, now=NOW)
    assert got[0][1].count() == len(ref[0][1]) == 1  # the NaN slot differs


@requires_reference
def test_resize_default_and_aggregate(spark, tmp_path):
    """R5-style resize: 60s:2880 -> (60s:1440, 300s:576) with --aggregate,
    then back up (reference test_whisper.py:815-866)."""
    wsp, store = mk_pair(spark, tmp_path, "rz", [(60, 2880)], xff=0.5)
    points = [(NOW - 60 * i, float(i)) for i in range(0, 2880)]
    write_both(wsp, store, points)

    # reference resize --aggregate via its own logic is in the CLI script;
    # replicate the documented behavior check instead: counts + steps after
    # re-aggregation (test_whisper.py asserts point counts & steps)
    new = store.resize(
        [(60, 1440), (300, 576)], new_path=str(tmp_path / "rz2"),
        use_aggregate=True, now=NOW,
    )
    info = new.info()
    assert [(a["secondsPerPoint"], a["points"]) for a in info["archives"]] == [
        (60, 1440), (300, 576)
    ]
    # fine archive: dense replay of the last day
    r = new.fetch_series("m", from_time=NOW - 1440 * 60 + 60, now=NOW)
    vals = [v for v in r[1] if v is not None]
    assert len(vals) >= 1400
    # coarse archive: 5-minute bins hold 5-point averages of the source
    r2 = new.fetch_series("m", from_time=NOW - 576 * 300 + 300, now=NOW, archive_step=300)
    known = [v for v in r2[1] if v is not None]
    assert len(known) >= 500
    # values are means of 5 consecutive source values -> fractional .0/.2/...
    sample = known[len(known) // 2]
    assert abs(sample * 5 - round(sample * 5)) < 1e-6


@requires_reference
def test_resize_in_place_swap(spark, tmp_path):
    """Default-path resize replays archives finest-first; the coarse
    archive's recent rollup values then land on step-aligned slots of the
    new fine archive (age bucketing), overwriting them — the same slot
    overwrite the reference's update_many replay produces
    (bin/whisper-resize.py:199-206).  Non-aligned slots are preserved."""
    _, store = mk_pair(spark, tmp_path, "rip", [(1, 60), (60, 60)], xff=0.0)
    store.update_many([(NOW - i, float(i)) for i in range(1, 30)], now=NOW, metric="m")
    before = store.fetch_series("m", from_time=NOW - 59, now=NOW)
    bmap = dict(zip(range(before[0][0], before[0][1]), before[1]))
    store.resize([(1, 60), (60, 60), (3600, 24)], now=NOW)
    assert len(store.archives) == 3
    after = store.fetch_series("m", from_time=NOW - 59, now=NOW)
    amap = dict(zip(range(after[0][0], after[0][1]), after[1]))
    for ts, v in amap.items():
        if ts % 60 != 0:
            assert v == bmap[ts], f"non-aligned slot {ts} must be preserved"
        elif bmap[ts] is not None:
            # minute-aligned slot now carries the replayed minute rollup
            assert v is not None


@requires_reference
def test_fill_only_gaps(spark, tmp_path):
    """fill: dst keeps its data, gaps (>=2 slots) take src values
    (reference bin/whisper-fill.py semantics)."""
    src_wsp, src_store = mk_pair(spark, tmp_path, "fs", [(10, 100)], xff=0.0)
    dst_wsp, dst_store = mk_pair(spark, tmp_path, "fd", [(10, 100)], xff=0.0)
    base = NOW - (NOW % 10)
    # src: full coverage of the last 500s
    src_pts = [(base - 10 * i, 1000.0 + i) for i in range(50)]
    write_both(src_wsp, src_store, src_pts)
    # dst: coverage with a 5-slot hole and a 1-slot hole
    dst_pts = [
        (base - 10 * i, 2000.0 + i)
        for i in range(50)
        if not (10 <= i < 15) and i != 30
    ]
    write_both(dst_wsp, dst_store, dst_pts)

    dst_store.fill_from(src_store, start_from=NOW, now=NOW)

    r = dst_store.fetch_series("m", from_time=NOW - 990, now=NOW)
    got = {ts: v for ts, v in zip(range(r[0][0], r[0][1], r[0][2]), r[1])}
    # the 5-slot hole is filled from src (values 1000.x)
    for i in range(11, 15):  # interior of the hole
        assert got[base - 10 * i] == pytest.approx(1000.0 + i), f"hole slot {i}"
    # the 1-slot hole is NOT filled (single units ignored)
    assert got[base - 10 * 30] is None
    # existing dst data never overwritten away from gap boundaries
    assert got[base - 10 * 5] == pytest.approx(2000.0 + 5)


def test_fetch_federated_first_store_wins(spark, tmp_path):
    """CLUSTER_SERVERS-style merged read: per slot the first store with
    a known value wins, later stores fill its gaps only."""
    from whisper_spark.store import WhisperStore, fetch_federated

    NOW = 1700000000
    a = WhisperStore.create(spark, str(tmp_path / "fa"), [(60, 30)],
                            x_files_factor=0.0)
    b = WhisperStore.create(spark, str(tmp_path / "fb"), [(60, 30)],
                            x_files_factor=0.0)
    # a: slots -1m..-3m; b: slots -3m..-5m (overlap at -3m with a
    # different value — a must win)
    a.update_many([(NOW - 60 * i, 10.0 + i) for i in (1, 2, 3)],
                  now=NOW, metric="m")
    b.update_many([(NOW - 60 * i, 90.0 + i) for i in (3, 4, 5)],
                  now=NOW, metric="m")
    res = fetch_federated([a, b], "m", from_time=NOW - 360,
                          until_time=NOW, now=NOW)
    assert res is not None
    ((lo, hi, step), df) = res
    assert step == 60
    got = {r["ts"]: r["value"] for r in df.collect() if r["value"] is not None}
    slot = lambda i: (NOW - 60 * i) // 60 * 60  # noqa: E731
    assert got[slot(1)] == 11.0 and got[slot(2)] == 12.0
    assert got[slot(3)] == 13.0          # overlap: store a wins
    assert got[slot(4)] == 94.0 and got[slot(5)] == 95.0


def test_fetch_federated_mixed_resolutions(spark, tmp_path):
    """Stores with different schemas merge at the coarsest selected
    step: the fine store is CONSOLIDATED (averaged) onto the coarse
    grid, not dropped (graphite-web CLUSTER_SERVERS merge behavior)."""
    from whisper_spark.store import WhisperStore, fetch_federated

    NOW = 1700000000
    fine = WhisperStore.create(spark, str(tmp_path / "ff"), [(60, 120)],
                               x_files_factor=0.0)
    coarse = WhisperStore.create(spark, str(tmp_path / "fc"), [(300, 24)],
                                 x_files_factor=0.0)
    fine.update_many([(NOW - 60 * i, float(i)) for i in range(1, 20)],
                     now=NOW, metric="m")
    coarse.update_many([(NOW - 300 * i, 100.0 * i) for i in range(1, 4)],
                       now=NOW, metric="m")
    res = fetch_federated([fine, coarse], "m", from_time=NOW - 1800,
                          until_time=NOW, now=NOW)
    ((lo, hi, step), df) = res
    assert step == 300  # coarsest common step
    vals = {r["ts"]: r["value"] for r in df.collect() if r["value"] is not None}
    # expected: per 300s bucket, avg of the fine store's 60s slots in
    # that bucket (fine is store #0, so it wins every bucket it covers)
    from collections import defaultdict
    buckets = defaultdict(list)
    for i in range(1, 20):
        slot = (NOW - 60 * i) // 60 * 60
        buckets[slot // 300 * 300].append(float(i))
    expect_fine = {b: sum(v) / len(v) for b, v in buckets.items()}
    for b, v in expect_fine.items():
        assert vals[b] == pytest.approx(v), f"bucket {b}"
    # coarse-only buckets (outside the fine data) come from store #1
    coarse_slots = {(NOW - 300 * i) // 300 * 300: 100.0 * i
                    for i in range(1, 4)}
    coarse_only = set(coarse_slots) - set(expect_fine)
    for b in coarse_only:
        assert vals[b] == pytest.approx(coarse_slots[b])
    assert len(vals) == len(set(expect_fine) | set(coarse_slots) & set(vals))


def test_fetch_federated_excluded_store_logged(spark, tmp_path, caplog):
    """A store that cannot serve a forced FINER step is excluded with a
    logged reason; covering stores still answer (no silent data loss,
    no blanket exception swallowing)."""
    import logging

    from whisper_spark.errors import InvalidTimeInterval
    from whisper_spark.store import WhisperStore, fetch_federated

    NOW = 1700000000
    fine = WhisperStore.create(spark, str(tmp_path / "xf"), [(60, 60)],
                               x_files_factor=0.0)
    coarse = WhisperStore.create(spark, str(tmp_path / "xc"), [(300, 24)],
                                 x_files_factor=0.0)
    fine.update_many([(NOW - 60, 1.0), (NOW - 120, 2.0)], now=NOW, metric="m")
    coarse.update_many([(NOW - 300, 7.0)], now=NOW, metric="m")
    with caplog.at_level(logging.WARNING, logger="whisper_spark.store"):
        res = fetch_federated([coarse, fine], "m", from_time=NOW - 1800,
                              until_time=NOW, now=NOW, archive_step=60)
    assert res is not None
    ((lo, hi, step), df) = res
    assert step == 60
    got = {r["ts"]: r["value"] for r in df.collect() if r["value"] is not None}
    assert got == {(NOW - 60) // 60 * 60: 1.0, (NOW - 120) // 60 * 60: 2.0}
    assert any("excluded" in r.message and "coarser" in r.message
               for r in caplog.records)
    # an invalid interval is the CALLER's error — it must propagate,
    # not be swallowed as a per-store failure
    with pytest.raises(InvalidTimeInterval):
        fetch_federated([coarse, fine], "m", from_time=NOW,
                        until_time=NOW - 600, now=NOW)


def test_render_federated_merges_then_evaluates(spark, tmp_path):
    from whisper_spark.store import WhisperStore, render_federated

    NOW = 1700000000
    a = WhisperStore.create(spark, str(tmp_path / "ra"), [(60, 30)],
                            x_files_factor=0.0)
    b = WhisperStore.create(spark, str(tmp_path / "rb"), [(60, 30)],
                            x_files_factor=0.0)
    a.update_many([(NOW - 60, 2.0), (NOW - 120, 4.0)], now=NOW, metric="x.m")
    b.update_many([(NOW - 180, 6.0)], now=NOW, metric="x.m")
    res = render_federated(
        [a, b], "scale(x.m, 10)", from_time="now-5min", until_time="now",
        now=NOW,
    )
    assert res is not None
    out, step = res
    assert step == 60
    got = {r.ts: r.value for r in out.collect() if r.value is not None}
    assert got == {
        (NOW - 60) // 60 * 60: 20.0,
        (NOW - 120) // 60 * 60: 40.0,
        (NOW - 180) // 60 * 60: 60.0,   # filled from store b
    }


def test_fetch_federated_forced_step_uses_exact_archive(spark, tmp_path):
    """A forced COARSER archive_step must come from the store's exact
    archive at that step (raw coarse-archive data), not a consolidation
    of the auto-selected finer archive — whisper's archiveToSelect
    semantics (whisper.py:943-957)."""
    from whisper_spark.store import WhisperStore, fetch_federated

    NOW = 1700000000
    s = WhisperStore.create(spark, str(tmp_path / "two"),
                            [(60, 60), (300, 24)], x_files_factor=0.0,
                            aggregation_method="average")
    s.update_many([(NOW - 60 * i, float(i)) for i in range(1, 30)],
                  now=NOW, metric="m")
    # range covered by the fine archive -> auto-select = 60s; force 300
    res = fetch_federated([s], "m", from_time=NOW - 1500, until_time=NOW,
                          now=NOW, archive_step=300)
    ((lo, hi, step), df) = res
    assert step == 300
    got = {r["ts"]: r["value"] for r in df.collect() if r["value"] is not None}
    # values must equal the store's own forced-step fetch (the cascade-
    # rolled 5m archive), byte-for-byte
    (_ti, own) = s.fetch("m", from_time=NOW - 1500, until_time=NOW,
                         now=NOW, archive_step=300)
    want = {r["ts"]: r["value"] for r in own.collect()
            if r["value"] is not None}
    assert got == want and want

def test_fetch_federated_union_interval_same_step(spark, tmp_path):
    """Two same-step stores where the SECOND has longer retention: the
    merged interval must be the UNION of coverages — the round-5 code
    clipped to the first store's interval and silently discarded the
    wider sibling's slots (advisor finding, round 6)."""
    from whisper_spark.store import WhisperStore, fetch_federated

    NOW = 1700000000
    short = WhisperStore.create(spark, str(tmp_path / "fs"), [(60, 5)],
                                x_files_factor=0.0)
    wide = WhisperStore.create(spark, str(tmp_path / "fw"), [(60, 30)],
                               x_files_factor=0.0)
    short.update_many([(NOW - 60 * i, 10.0 + i) for i in (1, 2)],
                      now=NOW, metric="m")
    wide.update_many([(NOW - 60 * i, 90.0 + i) for i in (1, 10, 20)],
                     now=NOW, metric="m")
    res = fetch_federated([short, wide], "m", from_time=NOW - 1500,
                          until_time=NOW, now=NOW)
    assert res is not None
    ((lo, hi, step), df) = res
    assert step == 60
    got = {r["ts"]: r["value"] for r in df.collect() if r["value"] is not None}
    slot = lambda i: (NOW - 60 * i) // 60 * 60  # noqa: E731
    # first store wins its own coverage...
    assert got[slot(1)] == 11.0 and got[slot(2)] == 12.0
    # ...and the wide store's older slots are NOT clipped away
    assert got[slot(10)] == 100.0 and got[slot(20)] == 110.0
    assert lo <= slot(20) < hi
