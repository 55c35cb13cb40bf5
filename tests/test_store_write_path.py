"""The store's write paths: rollup cascade values, one commit per batch,
one parquet file per (resolution, tb) bucket per write, and an atomic
policy file.

Expected rows are written out by hand from whisper's rules (reference:
whisper.py:578-664 propagate, :740-875 update_many), not computed by the
store.  Every store here uses the policy 60s:10m,5m:1h,1h:1d: a 5 minute
interval holds 5 minute-slots, an hour holds 12 five-minute slots.
"""

import glob
import os
import re

import pytest

from whisper_spark import store as store_mod
from whisper_spark.errors import CorruptWhisperFile
from whisper_spark.sources.wsp import (
    export_wsp,
    import_wsp,
    import_wsp_tree,
    wsp_headers,
)
from whisper_spark.store import WhisperStore

H = 1_699_999_200  # hour-aligned
NOW = H + 3000  # archive 0 covers ts >= H + 2400, archive 1 ts >= H - 600
POLICY = [(60, 10), (300, 12), (3600, 24)]


def _store(spark, tmp_path, xff, name="db"):
    return WhisperStore.create(spark, str(tmp_path / name), POLICY, x_files_factor=xff)


def _rows(store):
    return sorted(
        tuple(r)
        for r in store._read_points()
        .select("metric", "resolution", "ts", "value", "wseq")
        .collect()
    )


def _write(spark, store, points, now=NOW):
    df = spark.createDataFrame(
        [(m, t, float(v), i) for i, (m, t, v) in enumerate(points)],
        "metric string, ts long, value double, seq long",
    )
    store.update_many(df, now=now)


def test_cascade_stops_per_metric_at_the_xff_gate(spark, tmp_path):
    store = _store(spark, tmp_path, 0.5)
    # batch 1: six of twelve 5-minute slots of hour H for both metrics,
    # old enough to land directly in archive 1 -> 6/12 passes into hour H
    _write(spark, store, [(m, H + 300 * k, 10 * (k + 1) * s)
                          for m, s in (("a", 1), ("b", 10)) for k in range(6)])
    # batch 2: a fills all 5 minute-slots of H+2400 (5/5 passes level 1,
    # then hour H has 7/12 known); b fills 2 (2/5 < 0.5: b's cascade stops
    # at level 1, so hour H is not recomputed for b although 6/12 would pass)
    _write(spark, store, [("a", H + 2400 + 60 * k, 5 + k) for k in range(5)]
           + [("b", H + 2400, 7), ("b", H + 2460, 9)])
    assert _rows(store) == sorted(
        [("a", 60, H + 2400 + 60 * k, 5.0 + k, 2) for k in range(5)]
        + [("a", 300, H + 300 * k, 10.0 * (k + 1), 1) for k in range(6)]
        + [("a", 300, H + 2400, 7.0, 2)]  # avg(5..9)
        + [("a", 3600, H, 35.0, 1)]  # avg(10..60)
        + [("a", 3600, H, 31.0, 2)]  # avg(10..60, 7) = 217 / 7
        + [("b", 60, H + 2400, 7.0, 2), ("b", 60, H + 2460, 9.0, 2)]
        + [("b", 300, H + 300 * k, 100.0 * (k + 1), 1) for k in range(6)]
        + [("b", 3600, H, 350.0, 1)]  # avg(100..600)
    )


def test_old_point_lands_in_archive_1_and_cascades(spark, tmp_path):
    store = _store(spark, tmp_path, 0.0)
    # H+1007 is 1993 s old: past archive 0's 600 s, so it is written raw
    # into archive 1 at H+900 and starts its own cascade into archive 2,
    # where hour H also sees this batch's rollup of H+2700
    _write(spark, store, [("a", H + 1007, 4), ("a", H + 2700, 2)])
    assert _rows(store) == [
        ("a", 60, H + 2700, 2.0, 1),
        ("a", 300, H + 900, 4.0, 1),
        ("a", 300, H + 2700, 2.0, 1),
        ("a", 3600, H, 3.0, 1),  # avg(4, 2)
    ]
    ((_f, _u, step), df) = store.fetch("a", H, until_time=NOW, now=NOW, archive_step=300)
    got = {r["ts"]: r["value"] for r in df.collect() if r["value"] is not None}
    assert (step, got) == (300, {H + 900: 4.0, H + 2700: 2.0})


def test_direct_write_overwrites_the_same_batchs_rollup(spark, tmp_path):
    store = _store(spark, tmp_path, 0.0)
    # at now = H+3120 archive 0 starts at H+2520, inside the 5 minute
    # interval H+2400: H+2460 goes raw into archive 1's slot H+2400, the
    # later minutes roll up into the same slot.  Whisper commits archive 0
    # (and its rollups) first, then archive 1's points overwrite the slot.
    _write(spark, store, [("a", H + 2460, 10)]
           + [("a", H + 2460 + 60 * k, k) for k in (1, 2, 3)], now=H + 3120)
    assert _rows(store) == [
        ("a", 60, H + 2520, 1.0, 1),
        ("a", 60, H + 2580, 2.0, 1),
        ("a", 60, H + 2640, 3.0, 1),
        ("a", 300, H + 2400, 10.0, 1),
        ("a", 3600, H, 10.0, 1),
    ]


def test_resend_in_a_later_batch_rerolls_touched_intervals(spark, tmp_path):
    store = _store(spark, tmp_path, 0.0)
    _write(spark, store, [("a", H + 2400 + 60 * k, k + 1) for k in range(5)])
    # re-send of slot H+2460 (raw ts inside the slot) with a new value
    _write(spark, store, [("a", H + 2465, 12)])
    assert _rows(store) == sorted(
        [("a", 60, H + 2400 + 60 * k, k + 1.0, 1) for k in range(5)]
        + [("a", 60, H + 2460, 12.0, 2)]
        + [("a", 300, H + 2400, 3.0, 1), ("a", 300, H + 2400, 5.0, 2)]  # avg(1,12,3,4,5)
        + [("a", 3600, H, 3.0, 1), ("a", 3600, H, 5.0, 2)]
    )
    ((_f, _u, _s), df) = store.fetch("a", H, until_time=NOW, now=NOW, archive_step=300)
    assert {r["ts"]: r["value"] for r in df.collect()}[H + 2400] == 5.0


def test_future_point_is_accepted_and_cascades(spark, tmp_path):
    store = _store(spark, tmp_path, 0.0)
    # H+3120 is 120 s in the future: update_many keeps it in archive 0
    # (reference: the age test never rejects age < 0)
    _write(spark, store, [("a", H + 3120, 8), ("a", H + 2940, 2)])
    assert _rows(store) == [
        ("a", 60, H + 2940, 2.0, 1),
        ("a", 60, H + 3120, 8.0, 1),
        ("a", 300, H + 2700, 2.0, 1),
        ("a", 300, H + 3000, 8.0, 1),
        ("a", 3600, H, 5.0, 1),  # avg(2, 8)
    ]


def test_failure_inside_the_cascade_leaves_the_store_unchanged(
    spark, tmp_path, monkeypatch
):
    store = _store(spark, tmp_path, 0.0)
    _write(spark, store, [("a", H + 2400, 1)])
    before = _rows(store)
    real, calls = store_mod.xff_rollup, []

    def failing(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("rollup failed")
        return real(*args, **kwargs)

    monkeypatch.setattr(store_mod, "xff_rollup", failing)
    with pytest.raises(RuntimeError, match="rollup failed"):
        _write(spark, store, [("a", H + 2460, 2), ("b", H + 2700, 3)])
    assert len(calls) == 2
    assert _rows(store) == before


def test_cascade_reads_ring_slots_without_a_per_ts_collapse(
    spark, tmp_path, monkeypatch
):
    store = _store(spark, tmp_path, 0.0)
    _write(spark, store, [("a", H + 2400, 1)])
    plans, real = [], WhisperStore._ring_visible

    def ring_visible(self, rows, archive):
        out = real(self, rows, archive)
        plans.append((rows._jdf.queryExecution().analyzed().toString(),
                      out._jdf.queryExecution().analyzed().toString()))
        return out

    monkeypatch.setattr(WhisperStore, "_ring_visible", ring_visible)
    _write(spark, store, [("a", H + 2460, 2)])
    # one slot-rule read per cascade level
    assert len(plans) == 2
    for rows, out in plans:
        # the slot rule reads the stored and in-flight rows directly: no
        # last-write-wins aggregate on (metric, resolution, ts) before it
        assert not re.search(r"Aggregate \[metric#\d+, resolution#\d+L?, ts#\d+L?\]", rows)
        assert re.search(r"Aggregate \[metric#\d+, pmod\(ts#\d+L?, ", out), out


def test_update_many_holds_no_cache_entry_at_the_append(spark, tmp_path, monkeypatch):
    store = _store(spark, tmp_path, 0.0)
    _write(spark, store, [("a", H + 2400, 1)])
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    seen, real = [], WhisperStore._append

    def append(self, df):
        seen.append((cache.numCachedEntries(),
                     df._jdf.queryExecution().analyzed().toString()))
        return real(self, df)

    monkeypatch.setattr(WhisperStore, "_append", append)
    # archive 0 and archive 1 points, cascading through both lower levels
    _write(spark, store, [("a", H + 2460, 2), ("a", H + 1200, 3), ("b", H + 2700, 4)])
    assert len(seen) == 1
    (entries, plan), = seen
    # the batch's intermediates are checkpoints, not CacheManager entries
    # another plan on the session could match while the append runs
    assert entries == before
    assert "InMemoryRelation" not in plan, plan
    assert cache.numCachedEntries() == before


def test_update_many_checkpoints_stay_small(spark, tmp_path, monkeypatch):
    store = _store(spark, tmp_path, 0.0)
    _write(spark, store, [("a", H + 2400, 1)])
    memory = spark.sparkContext._jsc.sc().env().memoryManager()
    before = memory.storageMemoryUsed()
    seen, real = [], WhisperStore._append

    def append(self, df):
        seen.append(memory.storageMemoryUsed() - before)
        return real(self, df)

    monkeypatch.setattr(WhisperStore, "_append", append)
    _write(spark, store, [("a", H + 2460, 2), ("a", H + 1200, 3), ("b", H + 2700, 4)])
    # every checkpoint of the batch is live at the append.  They hold
    # storage memory by the session's memory page: these four rows took
    # 1.4 MB with 1 MB pages, 66 MB with Spark's default (64 MB on 4 cores)
    assert seen and seen[0] < 16 << 20, seen


def test_one_append_per_batch(spark, tmp_path, monkeypatch):
    appends, batches = [], []
    real_append, real_write = WhisperStore._append, WhisperStore._write_assigned

    def append(self, *args):
        appends.append(1)
        return real_append(self, *args)

    def write(self, *args):
        batches.append(1)
        return real_write(self, *args)

    monkeypatch.setattr(WhisperStore, "_append", append)
    monkeypatch.setattr(WhisperStore, "_write_assigned", write)
    src = _store(spark, tmp_path, 0.0, "src")
    # points in archive 0 and archive 1, cascading through both levels
    _write(spark, src, [("a", H + 2400, 1), ("a", H + 1200, 2), ("b", H + 2700, 3)])
    assert (len(batches), len(appends)) == (1, 1)

    dst = _store(spark, tmp_path, 0.0, "dst")
    src.merge_into(dst, now=NOW)
    # one batch per archive, each committed by one append
    assert (len(batches), len(appends)) == (4, 4)
    ((_f, _u, _s), df) = dst.fetch("a", H - 1, until_time=NOW, now=NOW, archive_step=3600)
    assert [r["value"] for r in df.collect() if r["value"] is not None] == [1.5]


def _files_per_bucket(store):
    buckets = glob.glob(os.path.join(store._points_path, "resolution=*", "tb=*"))
    assert buckets
    return {b: len(glob.glob(os.path.join(b, "*.parquet"))) for b in buckets}


def _carbon_flush(spark, tmp_path):
    """One update_many of 200 series x 30 ten-second points."""
    store = WhisperStore.create(spark, str(tmp_path / "flush"), "10s:6h,1m:7d,1h:2y")
    _write(spark, store, [(f"s{i}", NOW - 10 * k, i + k) for i in range(200)
                          for k in range(30)])
    return store


def test_update_many_writes_one_file_per_bucket(spark, tmp_path):
    counts = _files_per_bucket(_carbon_flush(spark, tmp_path))
    assert set(counts.values()) == {1}, counts


def test_import_wsp_writes_one_file_per_bucket(spark, tmp_path):
    src = _carbon_flush(spark, tmp_path)
    tree = str(tmp_path / "tree")
    assert export_wsp(src, tree) == 200
    dst = import_wsp(spark, tree, str(tmp_path / "imported"), root=tree)
    counts = _files_per_bucket(dst)
    assert set(counts.values()) == {1}, counts
    assert dst._read_points().select("metric").distinct().count() == 200


def test_export_wsp_leaves_a_null_slot_empty(spark, tmp_path):
    src = _store(spark, tmp_path, 0.5, name="src")
    src.update_many(spark.createDataFrame(
        [("a", NOW - 180, 1.0), ("a", NOW - 120, 2.0), ("a", NOW - 60, None),
         ("c", NOW - 60, None)],
        "metric string, ts long, value double",
    ), now=NOW)
    tree = str(tmp_path / "tree")
    # a metric whose live values are all NULL still gets its file
    assert export_wsp(src, tree) == 2
    assert sorted(os.listdir(tree)) == ["a.wsp", "c.wsp"]
    dst = import_wsp(spark, tree, str(tmp_path / "imported"), root=tree)
    assert dst.fetch_series("a", from_time=NOW - 240, now=NOW) == (
        (NOW - 180, NOW + 60, 60), [1.0, 2.0, None, None]
    )


def test_truncated_wsp_import_leaves_no_store(spark, tmp_path, monkeypatch):
    src = _store(spark, tmp_path, 0.5, name="src")
    _write(spark, src, [("a", NOW - 60, 1), ("b", NOW - 60, 2)])
    tree = str(tmp_path / "tree")
    assert export_wsp(src, tree) == 2
    bad = os.path.join(tree, "b.wsp")
    with open(bad, "rb") as f:
        whole = f.read()
    with open(bad, "wb") as f:
        f.write(whole[: len(whole) // 2])
    dst = str(tmp_path / "imported")
    with pytest.raises(CorruptWhisperFile) as err:
        import_wsp(spark, tree, dst, root=tree)
    assert err.value.path.endswith("b.wsp")
    assert not os.path.exists(dst)
    # the header is intact, so info() still reports it
    hdr = {r["metric"]: r for r in wsp_headers(spark, tree, root=tree).collect()}
    assert hdr["b"]["corrupt"].endswith("b.wsp") and hdr["a"]["corrupt"] is None
    assert hdr["b"]["archives"] == hdr["a"]["archives"]
    # the tree import raises too, and leaves nothing cached
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with pytest.raises(CorruptWhisperFile):
        import_wsp_tree(spark, tree, str(tmp_path / "tree_imported"), root=tree)
    assert cache.numCachedEntries() == before

    with open(bad, "wb") as f:
        f.write(whole)
    # a failing data write removes what the import made, and only that
    def failing_append(self, df):
        raise OSError("disk full")

    kept = tmp_path / "existing" / "points" / "keep.txt"
    kept.parent.mkdir(parents=True)
    kept.write_text("not the import's")
    with monkeypatch.context() as m:
        m.setattr(WhisperStore, "_append", failing_append)
        with pytest.raises(OSError, match="disk full"):
            import_wsp(spark, tree, dst, root=tree)
        with pytest.raises(OSError, match="disk full"):
            import_wsp(spark, tree, str(kept.parent.parent), root=tree)
    assert not os.path.exists(dst)
    assert kept.read_text() == "not the import's"
    assert sorted(os.listdir(kept.parent.parent)) == ["points"]

    store = import_wsp(spark, tree, dst, root=tree)
    assert sorted(tuple(r) for r in store.fetch(None, NOW - 120, NOW, now=NOW)[1]
                  .where("value IS NOT NULL").collect()) == [
        ("a", NOW - 60, 1.0), ("b", NOW - 60, 2.0)]


def test_failed_create_leaves_no_policy(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "db")

    def failing_dump(*args, **kwargs):
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(store_mod.json, "dump", failing_dump)
        with pytest.raises(OSError, match="disk full"):
            WhisperStore.create(spark, path, POLICY)
    assert os.listdir(path) == []
    WhisperStore.create(spark, path, POLICY)
    assert WhisperStore.open(spark, path).archives[0].seconds_per_point == 60


def test_failed_tree_import_leaves_no_store(spark, tmp_path, monkeypatch):
    tree = str(tmp_path / "tree")
    # two header configs: the tree imports as two stores
    for name, xff, metric in (("src0", 0.0, "a"), ("src5", 0.5, "b")):
        src = _store(spark, tmp_path, xff, name=name)
        _write(spark, src, [(metric, NOW - 60, 1)])
        assert export_wsp(src, tree) == 1
    real, calls = WhisperStore._append, []

    def append(self, df):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("disk full")
        return real(self, df)

    dst = tmp_path / "imported"
    with monkeypatch.context() as m:
        m.setattr(WhisperStore, "_append", append)
        with pytest.raises(OSError, match="disk full"):
            import_wsp_tree(spark, tree, str(dst), root=tree)
    assert len(calls) == 2
    assert not dst.exists() or os.listdir(dst) == []
    stores = import_wsp_tree(spark, tree, str(dst), root=tree)
    assert sorted(stores) == ["policy-0000", "policy-0001"]
    assert sorted(r["metric"] for s in stores.values() for r in s.metrics().collect()) == [
        "a", "b"]
