"""Property-based differential fuzzing: random write patterns must
produce identical fetch output from WhisperStore and the reference
library, across every archive and several windows.

Hypothesis drives the input shapes; each example exercises age bucketing,
within-batch dedup, the xff gate, and the cascade early-stop on a
two-level policy.  Examples are capped (Spark jobs are ~seconds each).
"""

import math
import types
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests._reference import load_ref_script, refwhisper, requires_reference

from whisper_spark.store import WhisperStore

NOW = 1700000000


# The reference fill reads wall-clock time internally; pin it to NOW in the
# reference modules' namespaces only (not globally — Spark threads need
# real time).
_FAKE_TIME = types.SimpleNamespace(time=lambda: NOW)

points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-30, max_value=400),  # age (incl. future + expired)
        st.one_of(
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            st.just(float("nan")),
        ),
    ),
    min_size=1,
    max_size=40,
)


@pytest.fixture(scope="module")
def fuzz_tmp(tmp_path_factory):
    return tmp_path_factory.mktemp("fuzz")


_counter = [0]


@requires_reference
@settings(
    derandomize=True,
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts_src=points_strategy,
    pts_dst=points_strategy,
    window=st.sampled_from([(None, None), (NOW - 200, NOW - 50), (NOW - 1000, None)]),
)
def test_fuzz_merge_parity(spark, fuzz_tmp, pts_src, pts_dst, window):
    """merge: random src/dst contents and windows must leave dst identical
    to a reference merge (reference: whisper.py:1037-1095)."""
    _counter[0] += 1
    base = fuzz_tmp / f"merge{_counter[0]}"
    base.mkdir()
    archives = [(5, 60), (60, 30)]
    names = {}
    stores = {}
    for nm, pts in [("src", pts_src), ("dst", pts_dst)]:
        wsp = str(base / f"{nm}.wsp")
        refwhisper.create(wsp, archives, xFilesFactor=0.3, aggregationMethod="average")
        store = WhisperStore.create(
            spark, str(base / nm), archives, x_files_factor=0.3
        )
        points = [(NOW - age, v) for (age, v) in pts]
        refwhisper.update_many(wsp, points, now=NOW)
        store.update_many(list(points), now=NOW, metric="m")
        names[nm], stores[nm] = wsp, store

    (tf, tt) = window
    refwhisper.merge(names["src"], names["dst"], time_from=tf, time_to=tt, now=NOW)
    stores["src"].merge_into(stores["dst"], time_from=tf, time_to=tt, now=NOW)

    for (f, u) in [(NOW - 299, NOW), (NOW - 1799, NOW)]:
        ref = refwhisper.fetch(names["dst"], f, u, now=NOW)
        got = stores["dst"].fetch_series("m", from_time=f, until_time=u, now=NOW)
        assert got[0] == tuple(ref[0])
        for i, (r, g) in enumerate(zip(ref[1], got[1])):
            if r is None or g is None:
                assert r is None and g is None, f"merge ({f},{u}) slot {i}: {r} vs {g}"
            elif isinstance(r, float) and math.isnan(r):
                assert math.isnan(g), f"slot {i}"
            else:
                assert g == pytest.approx(r, rel=1e-12), f"slot {i}: {r} vs {g}"


@requires_reference
@settings(
    derandomize=True,
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts_src=points_strategy,
    pts_dst=points_strategy,
)
def test_fuzz_fill_parity(spark, fuzz_tmp, pts_src, pts_dst):
    """fill: random src/dst contents must leave dst identical to the
    reference's bin/whisper-fill.py ``fill_archives`` (gap-run detection,
    single-slot skip, highest-precision-first source walk)."""
    _counter[0] += 1
    base = fuzz_tmp / f"fill{_counter[0]}"
    base.mkdir()
    archives = [(5, 60), (60, 30)]
    names, stores = {}, {}
    for nm, pts in [("src", pts_src), ("dst", pts_dst)]:
        wsp = str(base / f"{nm}.wsp")
        refwhisper.create(wsp, archives, xFilesFactor=0.3, aggregationMethod="average")
        store = WhisperStore.create(spark, str(base / nm), archives, x_files_factor=0.3)
        points = [(NOW - age, v) for (age, v) in pts]
        refwhisper.update_many(wsp, points, now=NOW)
        store.update_many(list(points), now=NOW, metric="m")
        names[nm], stores[nm] = wsp, store

    ref_fill = load_ref_script("whisper-fill")
    with mock.patch.object(refwhisper, "time", _FAKE_TIME), mock.patch.object(
        ref_fill, "time", _FAKE_TIME
    ):
        ref_fill.fill_archives(names["src"], names["dst"], NOW)
    stores["dst"].fill_from(stores["src"], start_from=NOW, now=NOW)

    for (f, u) in [(NOW - 299, NOW), (NOW - 1799, NOW)]:
        ref = refwhisper.fetch(names["dst"], f, u, now=NOW)
        got = stores["dst"].fetch_series("m", from_time=f, until_time=u, now=NOW)
        assert got[0] == tuple(ref[0])
        for i, (r, g) in enumerate(zip(ref[1], got[1])):
            if r is None or g is None:
                assert r is None and g is None, f"fill ({f},{u}) slot {i}: {r} vs {g}"
            elif isinstance(r, float) and math.isnan(r):
                assert math.isnan(g), f"slot {i}"
            else:
                assert g == pytest.approx(r, rel=1e-12), f"slot {i}: {r} vs {g}"


@requires_reference
@settings(
    derandomize=True,
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=90),  # clock advance (s)
            st.one_of(
                # single-point update: (age, value)
                st.tuples(
                    st.integers(min_value=-30, max_value=400),
                    st.floats(
                        min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_infinity=False,
                    ),
                ),
                # batch update_many
                st.lists(
                    st.tuples(
                        st.integers(min_value=-30, max_value=400),
                        st.floats(
                            min_value=-1e6, max_value=1e6,
                            allow_nan=False, allow_infinity=False,
                        ),
                    ),
                    min_size=1,
                    max_size=12,
                ),
            ),
        ),
        min_size=1,
        max_size=5,
    ),
    agg=st.sampled_from(["average", "last", "absmax"]),
)
def test_fuzz_update_sequence_parity(spark, fuzz_tmp, ops, agg):
    """Interleaved single updates and batches with an advancing clock:
    exercises single-point age rejection (TimestampNotCovered), cross-batch
    LWW, rollup recompute of already-propagated intervals, and ring
    eviction as `now` moves forward (reference: whisper.py:667-737)."""
    _counter[0] += 1
    base = fuzz_tmp / f"seq{_counter[0]}"
    base.mkdir()
    archives = [(5, 60), (60, 30)]
    wsp = str(base / "ref.wsp")
    refwhisper.create(wsp, archives, xFilesFactor=0.3, aggregationMethod=agg)
    store = WhisperStore.create(
        spark, str(base / "store"), archives, x_files_factor=0.3,
        aggregation_method=agg,
    )

    now = NOW
    for (advance, op) in ops:
        now += advance
        if isinstance(op, tuple):  # single point
            (age, v) = op
            ts = now - age
            ref_err = got_err = None
            try:
                refwhisper.update(wsp, v, ts, now=now)
            except refwhisper.TimestampNotCovered as ex:
                ref_err = type(ex).__name__
            try:
                store.update("m", v, ts, now=now)
            except Exception as ex:
                got_err = type(ex).__name__
            assert got_err == ref_err, f"update({ts}) error parity"
        else:
            points = [(now - age, v) for (age, v) in op]
            refwhisper.update_many(wsp, points, now=now)
            store.update_many(list(points), now=now, metric="m")

    for (f, u) in [(now - 299, now), (now - 1799, now)]:
        ref = refwhisper.fetch(wsp, f, u, now=now)
        got = store.fetch_series("m", from_time=f, until_time=u, now=now)
        if ref is None:
            assert got is None
            continue
        assert got[0] == tuple(ref[0])
        for i, (r, g) in enumerate(zip(ref[1], got[1])):
            if r is None or g is None:
                assert r is None and g is None, f"seq ({f},{u}) slot {i}: {r} vs {g}"
            elif isinstance(r, float) and math.isnan(r):
                assert math.isnan(g), f"slot {i}"
            else:
                assert g == pytest.approx(r, rel=1e-12), f"slot {i}: {r} vs {g}"


@requires_reference
@settings(
    derandomize=True,
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts_a=points_strategy,
    pts_b=points_strategy,
    ignore_empty=st.booleans(),
)
def test_fuzz_diff_parity(spark, fuzz_tmp, pts_a, pts_b, ignore_empty):
    """diff: per-archive comparison of two random stores must report the
    same (ts, va, vb) rows and totals as the reference (whisper.py:
    1098-1149), including NaN != NaN and non-overlapping archive windows."""
    _counter[0] += 1
    base = fuzz_tmp / f"diff{_counter[0]}"
    base.mkdir()
    archives = [(5, 60), (60, 30)]
    names, stores = {}, {}
    for nm, pts in [("a", pts_a), ("b", pts_b)]:
        wsp = str(base / f"{nm}.wsp")
        refwhisper.create(wsp, archives, xFilesFactor=0.3, aggregationMethod="average")
        store = WhisperStore.create(spark, str(base / nm), archives, x_files_factor=0.3)
        points = [(NOW - age, v) for (age, v) in pts]
        refwhisper.update_many(wsp, points, now=NOW)
        store.update_many(list(points), now=NOW, metric="m")
        names[nm], stores[nm] = wsp, store

    ref = refwhisper.diff(names["a"], names["b"], ignore_empty=ignore_empty, now=NOW)
    got = stores["a"].diff(stores["b"], ignore_empty=ignore_empty, now=NOW)
    assert len(got) == len(ref)

    def cmp_cell(r, g, label):
        if r is None or g is None:
            assert r is None and g is None, label
        elif isinstance(r, float) and math.isnan(r):
            assert math.isnan(g), label
        else:
            assert g == pytest.approx(r, rel=1e-12), label

    for (ri, rdiffs, rtotal), (gi, gdf, gtotal) in zip(ref, got):
        assert gi == ri
        assert gtotal == rtotal, f"archive {ri} total"
        # single metric -> ts is unique within an archive: sort and pair up
        grows = sorted((r["ts"], r["va"], r["vb"]) for r in gdf.collect())
        rrows = sorted(rdiffs)
        assert [t for (t, _, _) in grows] == [t for (t, _, _) in rrows], f"archive {ri} ts set"
        for (ts, va, vb), (_, ga, gb) in zip(rrows, grows):
            cmp_cell(va, ga, f"archive {ri} ts {ts} va")
            cmp_cell(vb, gb, f"archive {ri} ts {ts} vb")


def _ref_resize_aggregate(old_wsp, new_wsp, new_archives, xff, agg, now):
    """Replicates bin/whisper-resize.py's --aggregate path with a pinned
    clock: merged timeline preferring the finest data (:148-163), then
    per new archive re-bin by bisect with the xff gate (:175-198)."""
    import bisect

    refwhisper.create(new_wsp, new_archives, xFilesFactor=xff, aggregationMethod=agg)
    olds = sorted(
        refwhisper.info(old_wsp)["archives"],
        key=lambda a: a["secondsPerPoint"],
        reverse=True,
    )
    for a in olds:
        ft = now - a["retention"] + a["secondsPerPoint"]
        a["data"] = refwhisper.fetch(old_wsp, ft, now, now=now)

    all_datapoints = []
    for archive in sorted(olds, key=lambda x: x["secondsPerPoint"]):
        timeinfo, values = archive["data"]
        new_datapoints = list(zip(range(*timeinfo), values))
        new_datapoints.reverse()
        if all_datapoints:
            last_timestamp = all_datapoints[-1][0]
            slice_end = 0
            for i, (timestamp, value) in enumerate(new_datapoints):
                if timestamp < last_timestamp:
                    slice_end = i
                    break
            all_datapoints += new_datapoints[slice_end:]
        else:
            all_datapoints += new_datapoints
    all_datapoints.reverse()
    oldtimestamps = [p[0] for p in all_datapoints]
    oldvalues = [p[1] for p in all_datapoints]

    for archive in refwhisper.info(new_wsp)["archives"]:
        step = archive["secondsPerPoint"]
        from_t = now - archive["retention"] + now % step
        until_t = now + now % step + step
        tps = range(from_t, until_t, step)
        newdatapoints = []
        for tinterval in zip(tps[:-1], tps[1:]):
            lefti = bisect.bisect_left(oldtimestamps, tinterval[0])
            righti = bisect.bisect_left(oldtimestamps, tinterval[1], lo=lefti)
            newvalues = oldvalues[lefti:righti]
            if newvalues:
                non_none = [x for x in newvalues if x is not None]
                if non_none and 1.0 * len(non_none) / len(newvalues) >= xff:
                    newdatapoints.append(
                        [tinterval[0], refwhisper.aggregate(agg, non_none, newvalues)]
                    )
        refwhisper.update_many(new_wsp, newdatapoints, now=now)


@requires_reference
@settings(
    derandomize=True,
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts=points_strategy,
    new_archives=st.sampled_from([[(60, 30)], [(10, 90), (60, 60)]]),
    agg=st.sampled_from(["average", "sum", "max"]),
    xff=st.sampled_from([0.0, 0.5]),
)
def test_fuzz_resize_aggregate_parity(spark, fuzz_tmp, pts, new_archives, agg, xff):
    """resize --aggregate: re-binned migration must match the reference
    script's merged-timeline + bisect + xff-gate path."""
    _counter[0] += 1
    base = fuzz_tmp / f"resizeagg{_counter[0]}"
    base.mkdir()
    archives = [(5, 60), (60, 30)]
    wsp = str(base / "old.wsp")
    refwhisper.create(wsp, archives, xFilesFactor=xff, aggregationMethod=agg)
    store = WhisperStore.create(
        spark, str(base / "old"), archives, x_files_factor=xff, aggregation_method=agg
    )
    points = [(NOW - age, v) for (age, v) in pts]
    refwhisper.update_many(wsp, points, now=NOW)
    store.update_many(list(points), now=NOW, metric="m")

    new_wsp = str(base / "new.wsp")
    _ref_resize_aggregate(wsp, new_wsp, new_archives, xff, agg, NOW)
    new_store = store.resize(
        new_archives, new_path=str(base / "new"), use_aggregate=True, now=NOW
    )

    max_ret = max(s * n for (s, n) in new_archives)
    for (f, u) in [(NOW - max_ret + 1, NOW), (NOW - 150, NOW)]:
        ref = refwhisper.fetch(new_wsp, f, u, now=NOW)
        got = new_store.fetch_series("m", from_time=f, until_time=u, now=NOW)
        assert got[0] == tuple(ref[0])
        for i, (r, g) in enumerate(zip(ref[1], got[1])):
            if r is None or g is None:
                assert r is None and g is None, f"resize-agg ({f},{u}) slot {i}: {r} vs {g}"
            elif isinstance(r, float) and math.isnan(r):
                assert math.isnan(g), f"slot {i}"
            else:
                assert g == pytest.approx(r, rel=1e-12), f"slot {i}: {r} vs {g}"


def _ref_resize_default(old_wsp, new_wsp, new_archives, xff, agg, now):
    """Replicates bin/whisper-resize.py's default (non-aggregate) path with
    a pinned clock: fetch each old archive over its retention, replay
    non-None points coarsest-first (:97 sorts secondsPerPoint descending,
    :111-115 fetch, :199-206 replay)."""
    refwhisper.create(new_wsp, new_archives, xFilesFactor=xff, aggregationMethod=agg)
    olds = sorted(
        refwhisper.info(old_wsp)["archives"],
        key=lambda a: a["secondsPerPoint"],
        reverse=True,
    )
    for a in olds:
        ft = now - a["retention"] + a["secondsPerPoint"]
        ti, vals = refwhisper.fetch(old_wsp, ft, now, now=now)
        dp = [p for p in zip(range(*ti), vals) if p[1] is not None]
        if dp:
            refwhisper.update_many(new_wsp, dp, now=now)


@requires_reference
@settings(
    derandomize=True,
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts=points_strategy,
    new_archives=st.sampled_from(
        [[(60, 30)], [(5, 30), (30, 60)], [(1, 120), (10, 90), (60, 60)]]
    ),
    agg=st.sampled_from(["average", "last", "max"]),
)
def test_fuzz_resize_parity(spark, fuzz_tmp, pts, new_archives, agg):
    """resize (default path): random contents replayed into a new schema
    must match the reference script's coarsest-first migration — finer
    data wins slot conflicts."""
    _counter[0] += 1
    base = fuzz_tmp / f"resize{_counter[0]}"
    base.mkdir()
    archives = [(5, 60), (60, 30)]
    wsp = str(base / "old.wsp")
    refwhisper.create(wsp, archives, xFilesFactor=0.3, aggregationMethod=agg)
    store = WhisperStore.create(
        spark, str(base / "old"), archives, x_files_factor=0.3, aggregation_method=agg
    )
    points = [(NOW - age, v) for (age, v) in pts]
    refwhisper.update_many(wsp, points, now=NOW)
    store.update_many(list(points), now=NOW, metric="m")

    new_wsp = str(base / "new.wsp")
    _ref_resize_default(wsp, new_wsp, new_archives, 0.3, agg, NOW)
    new_store = store.resize(new_archives, new_path=str(base / "new"), now=NOW)

    max_ret = max(s * n for (s, n) in new_archives)
    for (f, u) in [(NOW - max_ret + 1, NOW), (NOW - 150, NOW)]:
        ref = refwhisper.fetch(new_wsp, f, u, now=NOW)
        got = new_store.fetch_series("m", from_time=f, until_time=u, now=NOW)
        assert got[0] == tuple(ref[0])
        for i, (r, g) in enumerate(zip(ref[1], got[1])):
            if r is None or g is None:
                assert r is None and g is None, f"resize ({f},{u}) slot {i}: {r} vs {g}"
            elif isinstance(r, float) and math.isnan(r):
                assert math.isnan(g), f"slot {i}"
            else:
                assert g == pytest.approx(r, rel=1e-12), f"slot {i}: {r} vs {g}"


@requires_reference
@settings(
    derandomize=True,
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts=points_strategy,
    pts2=st.lists(
        st.tuples(
            st.integers(min_value=-10, max_value=350),
            st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False),
        ),
        min_size=0,
        max_size=10,
    ),
    xff=st.sampled_from([0.0, 0.3, 1.0]),
    agg=st.sampled_from(["average", "sum", "last", "max", "absmax"]),
)
def test_fuzz_write_fetch_parity(spark, fuzz_tmp, pts, pts2, xff, agg):
    _counter[0] += 1
    base = fuzz_tmp / f"case{_counter[0]}"
    base.mkdir()
    wsp = str(base / "ref.wsp")
    archives = [(5, 60), (60, 30)]  # 5s for 5min, 1m for 30min
    refwhisper.create(wsp, archives, xFilesFactor=xff, aggregationMethod=agg)
    store = WhisperStore.create(
        spark, str(base / "store"), archives, x_files_factor=xff, aggregation_method=agg
    )

    points = [(NOW - age, v) for (age, v) in pts]
    refwhisper.update_many(wsp, points, now=NOW)
    store.update_many(list(points), now=NOW, metric="m")

    # a second batch a little later: cross-batch LWW, cascade recompute of
    # already-rolled intervals, and ring eviction across batches
    if pts2:
        points2 = [(NOW + 7 - age, v) for (age, v) in pts2]
        refwhisper.update_many(wsp, points2, now=NOW + 7)
        store.update_many(list(points2), now=NOW + 7, metric="m")

    for (f, u) in [(NOW - 299, NOW), (NOW - 1799, NOW), (NOW - 150, NOW - 30)]:
        ref = refwhisper.fetch(wsp, f, u, now=NOW)
        got = store.fetch_series("m", from_time=f, until_time=u, now=NOW)
        if ref is None:
            assert got is None
            continue
        assert got[0] == tuple(ref[0]), f"timeInfo window ({f},{u})"
        assert len(got[1]) == len(ref[1])
        for i, (r, g) in enumerate(zip(ref[1], got[1])):
            if r is None or g is None:
                assert r is None and g is None, f"slot {i} of ({f},{u}): {r} vs {g}"
            elif isinstance(r, float) and math.isnan(r):
                assert math.isnan(g), f"slot {i}"
            else:
                assert g == pytest.approx(r, rel=1e-12), f"slot {i}: {r} vs {g}"


# --------------------------------------------------------------------- #
# federated heterogeneous-step consolidation (round-5 fix)
# --------------------------------------------------------------------- #


@settings(
    derandomize=True,
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts_a=st.lists(
        st.tuples(st.integers(1, 110), st.floats(-50, 50, allow_nan=False)),
        min_size=1, max_size=25, unique_by=lambda p: p[0],
    ),
    pts_b=st.lists(
        st.tuples(st.integers(1, 20), st.floats(-50, 50, allow_nan=False)),
        min_size=1, max_size=12, unique_by=lambda p: p[0],
    ),
)
def test_fuzz_federated_heterogeneous_consolidation(
    spark, fuzz_tmp, pts_a, pts_b
):
    """fetch_federated over a 60s store + a 300s store vs a pure-Python
    model of the documented semantics: each store fetches at its own
    best step, the fine timeline floor-buckets onto the coarse grid
    with an average of known slots, and per (metric, slot) the FIRST
    store with a known value wins."""
    from whisper_spark.store import WhisperStore, fetch_federated

    _counter[0] += 1
    d = fuzz_tmp / f"fed{_counter[0]}"
    fine = WhisperStore.create(spark, str(d / "fine"), [(60, 120)],
                               x_files_factor=0.0)
    coarse = WhisperStore.create(spark, str(d / "coarse"), [(300, 24)],
                                 x_files_factor=0.0)
    a = [(NOW - 60 * i, v) for (i, v) in pts_a]
    b = [(NOW - 300 * i, v) for (i, v) in pts_b]
    fine.update_many(a, now=NOW, metric="m")
    coarse.update_many(b, now=NOW, metric="m")

    res = fetch_federated([fine, coarse], "m", from_time=NOW - 6000,
                          until_time=NOW, now=NOW)
    assert res is not None
    ((lo, hi, step), df) = res
    assert step == 300
    got = {r["ts"]: r["value"] for r in df.collect() if r["value"] is not None}

    # model the FEDERATION (consolidate + first-wins merge + union
    # interval) on top of each store's own fetch output — per-store
    # fetch window/quantization semantics are reference-parity-fuzzed
    # elsewhere (test_fuzz_fetch_*), so building on fetch() here keeps
    # this a pure differential of the federated layer
    ((flo, fhi, fstep), fdf) = fine.fetch("m", NOW - 6000, NOW, now=NOW)
    ((clo, chi, cstep), cdf) = coarse.fetch("m", NOW - 6000, NOW, now=NOW)
    assert (fstep, cstep) == (60, 300)
    from collections import defaultdict
    buckets = defaultdict(list)
    for r in fdf.collect():
        if r["value"] is not None:
            buckets[r["ts"] - r["ts"] % 300].append(r["value"])
    # the engine folds each bucket's values in ASCENDING order
    model = {bk: sum(sorted(vs)) / len(vs) for bk, vs in buckets.items()}
    for r in cdf.collect():
        if r["value"] is not None:
            model.setdefault(r["ts"], r["value"])  # fine (first) wins
    # interval = UNION of coverages: fine's consolidated bounds
    # (floor-aligned lo, last-covered-bucket hi) united with coarse's
    exp_lo = min((flo // 300) * 300, clo)
    exp_hi = max(((fhi - 60) // 300) * 300 + 300, chi)
    assert (lo, hi) == (exp_lo, exp_hi)
    for ts, v in got.items():
        assert ts in model, ts
        assert v == model[ts], ts  # bit-exact: sorted-order fold
    for ts, v in model.items():
        if lo <= ts < hi:
            assert ts in got, f"model slot {ts} missing from merge"
        else:  # nothing the stores returned may be clipped away
            raise AssertionError(f"store slot {ts} outside merged interval")


# --------------------------------------------------------------------- #
# multi-policy .wsp tree import (round 5) — differential vs reference
# --------------------------------------------------------------------- #

_POLICIES = [
    ([(60, 30)], 0.0, "average"),
    ([(60, 60), (300, 24)], 0.5, "average"),
    ([(10, 120), (60, 40)], 0.0, "max"),
    ([(300, 24)], 0.0, "last"),
]


@requires_reference
@settings(
    derandomize=True,
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    assignment=st.lists(
        st.integers(0, len(_POLICIES) - 1), min_size=2, max_size=4
    ),
    data=st.data(),
)
def test_fuzz_import_wsp_tree_reference_parity(
    spark, fuzz_tmp, assignment, data
):
    """Random heterogeneous trees (reference-written .wsp files under
    random policies with random points) must import via import_wsp_tree
    such that EVERY metric's fetch matches the reference library's own
    fetch of the original file, at two window sizes."""
    from whisper_spark.sources.wsp import import_wsp_tree

    _counter[0] += 1
    root = fuzz_tmp / f"tree{_counter[0]}"
    files = {}
    for mi, pol_i in enumerate(assignment):
        (archives, xff, method) = _POLICIES[pol_i]
        m = f"ns{pol_i}.host{mi}.metric"
        p = root.joinpath(*m.split("."))
        p.parent.mkdir(parents=True, exist_ok=True)
        fp = str(p) + ".wsp"
        refwhisper.create(fp, archives, xFilesFactor=xff,
                          aggregationMethod=method)
        step = archives[0][0]
        n_pts = data.draw(st.integers(1, 20))
        pts = sorted(
            {
                (NOW - step * data.draw(st.integers(1, 50)),
                 float(data.draw(st.integers(-100, 100))))
                for _ in range(n_pts)
            }
        )
        # dedupe colliding slots (reference update_many keeps one)
        by_slot = {}
        for (t, v) in pts:
            by_slot[t - t % step] = (t, v)
        pts = sorted(by_slot.values())
        refwhisper.update_many(fp, pts, now=NOW)
        files[m] = (fp, archives)

    stores = import_wsp_tree(
        spark, str(root) + "/*/*/*.wsp", str(fuzz_tmp / f"dst{_counter[0]}"),
        root=str(root),
    )
    n_configs = len({(tuple(a), x, meth) for (a, x, meth) in
                     (_POLICIES[i] for i in assignment)})
    assert len(stores) == n_configs
    by_metric = {}
    for store in stores.values():
        for r in store._read_points().select("metric").distinct().collect():
            by_metric[r["metric"]] = store
    assert set(by_metric) == set(files)

    for m, (fp, archives) in files.items():
        store = by_metric[m]
        step = archives[0][0]
        retention = max(s * p for (s, p) in archives)
        for frm in (NOW - 10 * step, NOW - retention + 1):
            ref = refwhisper.fetch(fp, frm, NOW, now=NOW)
            got = store.fetch_series(m, from_time=frm, until_time=NOW,
                                     now=NOW)
            (ri, rv) = ref
            (gi, gv) = got
            assert gi == tuple(ri), m
            for i, (r, g) in enumerate(zip(rv, gv)):
                if r is None:
                    assert g is None, (m, i, g)
                else:
                    assert g == pytest.approx(r), (m, i, r, g)
