"""Multi-metric parity: ONE WhisperStore must behave like N separate
reference .wsp files — the engine's core consolidation claim.

Writes interleaved batches for several metrics into one store and into
per-metric reference files, then compares every metric's fetch across
archives, plus the namespace listing and a store-wide fetch.
"""

import math
import random

import pytest

from tests._reference import refwhisper, requires_reference

from whisper_spark.store import INPUT_SCHEMA, WhisperStore

pytestmark = requires_reference

NOW = 1700000000
ARCHIVES = [(5, 120), (60, 60), (300, 48)]
METRICS = ["servers.a.cpu", "servers.a.mem", "servers.b.cpu", "db.q.lat"]


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("multi")
    rng = random.Random(1234)
    wsps = {}
    for m in METRICS:
        wsps[m] = str(tmp / (m.replace(".", "_") + ".wsp"))
        refwhisper.create(wsps[m], ARCHIVES, xFilesFactor=0.2, aggregationMethod="average")
    store = WhisperStore.create(
        spark, str(tmp / "store"), ARCHIVES, x_files_factor=0.2,
        aggregation_method="average",
    )

    # three interleaved batches, mixed ages per metric (fresh, minute-old,
    # hour-old => different archives), some duplicates and gaps
    for b in range(3):
        now_b = NOW + b * 30
        rows = []
        for m in METRICS:
            for _ in range(rng.randint(10, 40)):
                age = rng.choice([rng.randint(0, 500), rng.randint(600, 3000), rng.randint(4000, 13000)])
                rows.append((m, now_b - age, round(rng.uniform(-50, 50), 3), rng.randint(0, 10**6)))
        by_metric = {}
        for (m, t, v, s) in rows:
            by_metric.setdefault(m, []).append((t, v))
        for m, pts in by_metric.items():
            refwhisper.update_many(wsps[m], pts, now=now_b)
        # one consolidated DataFrame batch for the store — the whole point
        df = store.spark.createDataFrame(rows, INPUT_SCHEMA)
        store.update_many(df, now=now_b)
    return wsps, store


def _compare(ref, got, label):
    if ref is None:
        assert got is None, label
        return
    assert got is not None, label
    assert got[0] == tuple(ref[0]), label
    for i, (r, g) in enumerate(zip(ref[1], got[1])):
        if r is None or g is None:
            assert r is None and g is None, f"{label} slot {i}: {r} vs {g}"
        elif isinstance(r, float) and math.isnan(r):
            assert math.isnan(g), f"{label} slot {i}"
        else:
            assert g == pytest.approx(r, rel=1e-12), f"{label} slot {i}: {r} vs {g}"


@pytest.mark.parametrize("metric", METRICS)
def test_each_metric_matches_its_file(pair, metric):
    wsps, store = pair
    for (f, u) in [(NOW - 590, NOW + 60), (NOW - 3590, NOW + 60), (NOW - 14000, NOW + 60)]:
        ref = refwhisper.fetch(wsps[metric], f, u, now=NOW + 60)
        got = store.fetch_series(metric, from_time=f, until_time=u, now=NOW + 60)
        _compare(ref, got, f"{metric} window ({f},{u})")


def test_namespace_listing(pair, spark):
    _, store = pair
    assert sorted(r["metric"] for r in store.metrics().collect()) == sorted(METRICS)


def test_store_wide_fetch(pair):
    """One fetch returns every metric's dense timeline at once — the
    operation N whisper files cannot do without N opens."""
    wsps, store = pair
    res = store.fetch(from_time=NOW - 3590, until_time=NOW + 60, now=NOW + 60)
    ((fi, ui, step), df) = res
    rows = df.groupBy("metric").count().collect()
    n_slots = (ui - fi) // step
    assert {r["metric"] for r in rows} == set(METRICS)
    assert all(r["count"] == n_slots for r in rows)


def test_store_wide_compact_preserves_all(pair):
    wsps, store = pair
    before = {
        m: store.fetch_series(m, from_time=NOW - 3590, until_time=NOW + 60, now=NOW + 60)
        for m in METRICS
    }
    store.compact(now=NOW + 60)
    for m in METRICS:
        after = store.fetch_series(m, from_time=NOW - 3590, until_time=NOW + 60, now=NOW + 60)
        assert after == before[m], m
