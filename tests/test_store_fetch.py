"""The store's read rule: a dense timeline where each window slot shows
the value of the latest write to its ring slot.

Whisper keeps each archive as a ring of ``points`` slots; the slot of ts
is ``ts mod span`` (span = step * points), and a write overwrites the
slot whatever ts it held (reference: whisper.py:842-856).  A fetch shows
a window ts's value only when the slot still holds that ts, and None
otherwise (whisper.py:1016-1034).  The store appends instead of
overwriting, so at read time a slot belongs to the row with the highest
batch (``wseq``), then the larger ts — the in-batch chronological write
order.

Expected values are written out by hand, except in the seeded case, which
checks ``fetch`` against a short pure-Python statement of that rule over
``store.dump()``.
"""

import random

from whisper_spark.store import WhisperStore

NOW = 1_700_000_040  # minute-aligned
SPAN = 600  # one archive of ten 60 s slots


def _store(spark, tmp_path, policy=((60, 10),), name="db"):
    return WhisperStore.create(spark, str(tmp_path / name), list(policy))


def _write(spark, store, points, now=NOW):
    df = spark.createDataFrame(
        [(m, t, float(v), i) for i, (m, t, v) in enumerate(points)],
        "metric string, ts long, value double, seq long",
    )
    store.update_many(df, now=now)


def _timeline(store, metrics, from_time, until_time=NOW, now=NOW):
    ((frm, until, step), df) = store.fetch(
        metrics, from_time=from_time, until_time=until_time, now=now
    )
    rows = sorted(tuple(r) for r in df.select("metric", "ts", "value").collect())
    return (frm, until, step), rows


def test_later_batch_one_span_older_evicts_the_in_window_point(spark, tmp_path):
    store = _store(spark, tmp_path)
    _write(spark, store, [("a", NOW + 120, 5)])  # a future point
    _write(spark, store, [("a", NOW + 120 - SPAN, 7)])  # same slot, later batch
    # read when NOW + 120 is no longer in the future: its slot holds the
    # later batch's older ts, which is outside the window
    later = NOW + 120
    (frm, until, step), rows = _timeline(store, "a", later - 300, later, now=later)
    assert (frm, until, step) == (later - 240, later + 60, 60)
    assert rows == [("a", t, None) for t in range(frm, until, step)]


def test_future_point_evicts_the_point_one_span_older(spark, tmp_path):
    store = _store(spark, tmp_path)
    _write(spark, store, [("a", NOW - 300, 1), ("a", NOW - 240, 2)])
    _write(spark, store, [("a", NOW - 300 + SPAN, 9)])
    # the same holds inside one batch: the larger ts is written last
    _write(spark, store, [("b", NOW - 240 + SPAN, 8), ("b", NOW - 240, 3)])
    (frm, until, step), rows = _timeline(store, ["a", "b"], NOW - 330)
    assert (frm, until, step) == (NOW - 300, NOW + 60, 60)
    expected = {("a", NOW - 240): 2.0}
    assert rows == sorted(
        (m, t, expected.get((m, t))) for m in "ab" for t in range(frm, until, step)
    )


def test_in_window_last_write_wins_across_batches(spark, tmp_path):
    store = _store(spark, tmp_path)
    _write(spark, store, [("a", NOW - 120, 1), ("a", NOW - 60, 4)])
    _write(spark, store, [("a", NOW - 120, 2)])
    _write(spark, store, [("a", NOW - 120 + 7, 3), ("a", NOW, 5)])  # aligns to NOW - 120
    (frm, until, step), rows = _timeline(store, "a", NOW - 150)
    assert (frm, until, step) == (NOW - 120, NOW + 60, 60)
    assert rows == [("a", NOW - 120, 3.0), ("a", NOW - 60, 4.0), ("a", NOW, 5.0)]


def test_fetch_all_metrics_gives_a_stored_metric_without_window_points_nulls(
    spark, tmp_path
):
    store = _store(spark, tmp_path)
    _write(spark, store, [("a", NOW - 60, 1), ("b", NOW - 540, 2)])
    (frm, until, step), rows = _timeline(store, None, NOW - 180)
    assert (frm, until, step) == (NOW - 120, NOW + 60, 60)
    assert rows == sorted(
        [("a", NOW - 120, None), ("a", NOW - 60, 1.0), ("a", NOW, None)]
        + [("b", t, None) for t in range(frm, until, step)]
    )


def test_absent_requested_metric_gets_null_rows(spark, tmp_path):
    store = _store(spark, tmp_path)
    _write(spark, store, [("a", NOW - 60, 1)])
    (frm, until, step), rows = _timeline(store, ["zz", "a"], NOW - 180)
    assert rows == sorted(
        [("a", NOW - 120, None), ("a", NOW - 60, 1.0), ("a", NOW, None)]
        + [("zz", t, None) for t in range(frm, until, step)]
    )
    # a store with no data at all still returns the requested series
    empty = _store(spark, tmp_path, name="empty")
    assert _timeline(empty, "zz", NOW - 180)[1] == [
        ("zz", t, None) for t in range(frm, until, step)
    ]


def test_window_wider_than_the_ring_shows_only_slot_owners(spark, tmp_path):
    # archive 0 holds 12 five-second slots (a 60 s ring); a forced
    # archive_step reads it over 200 s, so window ts two spans apart share
    # a slot and only the later write shows.  This pins the store's own
    # rule: whisper itself returns only (until - from) / step mod points
    # values for such a window, a known divergence.
    store = _store(spark, tmp_path, [(5, 12), (60, 10)])
    _write(spark, store, [("a", NOW - 150, 1)], now=NOW - 100)
    _write(spark, store, [("a", NOW - 30, 2), ("a", NOW - 25, 3)])
    ((frm, until, step), df) = store.fetch(
        "a", from_time=NOW - 200, until_time=NOW, now=NOW, archive_step=5
    )
    assert (frm, until, step) == (NOW - 195, NOW + 5, 5)
    values = {ts: v for (ts, v) in df.select("ts", "value").collect()}
    assert sorted(values) == list(range(frm, until, step))
    assert {ts - NOW: v for ts, v in values.items() if v is not None} == {-30: 2.0, -25: 3.0}


def _read_rule(dump_rows, metrics, step, span, frm, until):
    """Per (metric, ts mod span) of one resolution, the stored row with
    the largest (wseq, ts) holds the slot; a window ts shows that row's
    value if the row is that ts, and None otherwise.  ``metrics`` None
    means every stored metric."""
    if metrics is None:
        metrics = {r["metric"] for r in dump_rows}
    owner = {}
    for r in dump_rows:
        if r["resolution"] != step:
            continue
        key = (r["metric"], r["ts"] % span)
        if key not in owner or (r["wseq"], r["ts"]) > owner[key][:2]:
            owner[key] = (r["wseq"], r["ts"], r["value"])
    out = []
    for m in metrics:
        for t in range(frm, until, step):
            w = owner.get((m, t % span))
            out.append((m, t, w[2] if w is not None and w[1] == t else None))
    return sorted(out)


def test_fetch_matches_the_read_rule_on_random_stores(spark, tmp_path):
    # history older than the window, future points up to 1.5 spans of
    # archive 0 ahead, windows ending well before NOW (so the rows
    # between one span back and the window are stored but hold none of
    # its slots), zero-length windows, and explicit metric lists
    rng = random.Random(20261018)
    policy = [(60, 10), (300, 6)]
    for k in range(4):
        store = _store(spark, tmp_path, policy, name=f"db{k}")
        for _batch in range(rng.randint(2, 4)):
            _write(spark, store, [
                (m, NOW - rng.randint(-900, 1700), rng.randint(0, 9))
                for m in ("a", "b") for _ in range(rng.randint(0, 8))
            ])
        if k == 2:
            store.compact(now=NOW)
        dump = store.dump().collect()
        for fetch in range(5):
            frm = NOW - rng.randint(0, 1800)
            until = rng.choice([
                rng.randint(frm, NOW),
                min(frm + rng.randint(0, 240), NOW),
                frm,
            ])
            metrics = [None, ["a"], ["b", "zz"], ["a", "b"]][(k + fetch) % 4]
            (fi, ui, step), rows = _timeline(store, metrics, frm, until)
            span = next(a.retention for a in store.archives if a.seconds_per_point == step)
            assert rows == _read_rule(dump, metrics, step, span, fi, ui), (
                k, frm, until, metrics)
