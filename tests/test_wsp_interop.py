"""Differential tests for the .wsp connector (sources/wsp.py): files
created by the ACTUAL reference library import losslessly, and exported
files read back byte-semantically through the reference's own fetch.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from tests._reference import refwhisper, requires_reference

from whisper_spark.sources.wsp import (
    export_wsp,
    import_wsp,
    read_wsp,
    wsp_headers,
)
from whisper_spark.store import WhisperStore

NOW = 1700000000
ARCHIVES = [(60, 30), (300, 24)]


def _mk_ref_tree(tmp_path, metrics=("servers.web1.cpu", "servers.db.cpu")):
    root = tmp_path / "whisper_root"
    for m in metrics:
        p = root.joinpath(*m.split("."))
        p.parent.mkdir(parents=True, exist_ok=True)
        fp = str(p) + ".wsp"
        refwhisper.create(fp, ARCHIVES, xFilesFactor=0.5,
                          aggregationMethod="average")
        base = 10.0 if m.endswith("web1.cpu") else 100.0
        pts = [(NOW - 60 * i, base + i) for i in range(1, 25)]
        refwhisper.update_many(fp, pts, now=NOW)
    return str(root)


@requires_reference
def test_read_wsp_matches_reference_slots(spark, tmp_path):
    root = _mk_ref_tree(tmp_path)
    df = read_wsp(spark, os.path.join(root, "servers", "*", "*.wsp"), root=root)
    got = {
        (r.metric, r.resolution, r.ts): r.value for r in df.collect()
    }
    # every non-empty slot the reference wrote is present, named by tree path
    fp = os.path.join(root, "servers", "web1", "cpu.wsp")
    (_t, vals) = refwhisper.fetch(fp, NOW - 25 * 60, NOW, now=NOW)
    n_known = sum(1 for v in vals if v is not None)
    fine = [k for k in got if k[0] == "servers.web1.cpu" and k[1] == 60]
    assert len(fine) == n_known == 24
    hdr = {r.metric: r for r in wsp_headers(spark, root + "/servers/*/*.wsp",
                                            root=root).collect()}
    h = hdr["servers.db.cpu"]
    assert h.aggregation_method == "average"
    assert [(a["seconds_per_point"], a["points"]) for a in h.archives] == [
        (60, 30), (300, 24)
    ]


@requires_reference
def test_import_wsp_fetch_parity(spark, tmp_path):
    root = _mk_ref_tree(tmp_path)
    store = import_wsp(spark, root + "/servers/*/*.wsp",
                       str(tmp_path / "imported"), root=root)
    for m, fp in (
        ("servers.web1.cpu", os.path.join(root, "servers", "web1", "cpu.wsp")),
        ("servers.db.cpu", os.path.join(root, "servers", "db", "cpu.wsp")),
    ):
        for frm in (NOW - 20 * 60, NOW - 100 * 60):
            ref = refwhisper.fetch(fp, frm, NOW, now=NOW)
            got = store.fetch_series(m, from_time=frm, until_time=NOW, now=NOW)
            (ri, rv) = ref
            (gi, gv) = got
            assert gi == tuple(ri)
            for i, (r, g) in enumerate(zip(rv, gv)):
                if r is None:
                    assert g is None, (m, i, g)
                else:
                    assert g == pytest.approx(r), (m, i, r, g)


@requires_reference
def test_export_wsp_reference_reads_it_back(spark, tmp_path):
    store = WhisperStore.create(
        spark, str(tmp_path / "src"), ARCHIVES, x_files_factor=0.5,
        aggregation_method="max",
    )
    for m, base in (("a.b.cpu", 5.0), ("a.b.mem", 50.0)):
        store.update_many(
            [(NOW - 60 * i, base + i) for i in range(1, 25)],
            now=NOW, metric=m,
        )
    out = str(tmp_path / "exported")
    n = export_wsp(store, out)
    assert n == 2
    for m in ("a.b.cpu", "a.b.mem"):
        fp = os.path.join(out, *m.split(".")) + ".wsp"
        info = refwhisper.info(fp)
        assert info["aggregationMethod"] == "max"
        assert [(a["secondsPerPoint"], a["points"]) for a in info["archives"]] \
            == ARCHIVES
        for frm in (NOW - 20 * 60, NOW - 100 * 60):
            ref = refwhisper.fetch(fp, frm, NOW, now=NOW)
            got = store.fetch_series(m, from_time=frm, until_time=NOW, now=NOW)
            (ri, rv) = ref
            (gi, gv) = got
            assert gi == tuple(ri)
            for i, (r, g) in enumerate(zip(rv, gv)):
                if g is None:
                    assert r is None, (m, i, r)
                elif isinstance(g, float) and math.isnan(g):
                    assert r is None or math.isnan(r)
                else:
                    assert r == pytest.approx(g), (m, i, r, g)


def test_wsp_round_trip_preserves_live_rows(spark, tmp_path):
    store = WhisperStore.create(
        spark, str(tmp_path / "rt_src"), ARCHIVES, x_files_factor=0.0,
        aggregation_method="sum",
    )
    store.update_many(
        [(NOW - 60 * i, float(i)) for i in range(1, 40)], now=NOW, metric="x.y"
    )
    out = str(tmp_path / "rt_files")
    export_wsp(store, out)
    back = import_wsp(spark, out + "/x/*.wsp", str(tmp_path / "rt_back"),
                      root=out)
    a = store._lww(store._read_points()).select("metric", "resolution", "ts", "value")
    b = back._lww(back._read_points()).select("metric", "resolution", "ts", "value")
    # export applies ring visibility, so b ⊆ a and b holds every slot a
    # fetch would surface: compare via the visible sets
    for spec in store.archives:
        va = store._ring_visible(
            store._lww(store._read_points()).filter(
                F.col("resolution") == spec.seconds_per_point
            ), spec,
        )
        vb = back._ring_visible(
            back._lww(back._read_points()).filter(
                F.col("resolution") == spec.seconds_per_point
            ), spec,
        )
        assert sorted(map(tuple, va.collect())) == sorted(map(tuple, vb.collect()))
    assert b.count() <= a.count()


@requires_reference
@pytest.mark.parametrize(
    "archives,agg,xff,n_pts,stride",
    [
        ([(60, 10)], "last", 0.0, 40, 60),      # ring wraps 4x: eviction
        ([(30, 20), (120, 10), (600, 6)], "average", 0.25, 60, 30),
        ([(60, 30)], "min", 0.5, 25, 90),       # sparse: gaps in the ring
    ],
)
def test_wsp_export_parity_random_configs(
    spark, tmp_path, archives, agg, xff, n_pts, stride
):
    """Seeded point sets (incl. NaN) through export -> the reference
    library's fetch must equal our own fetch at every archive."""
    import random

    rng = random.Random(hash((tuple(archives), n_pts)))
    store = WhisperStore.create(
        spark, str(tmp_path / "s"), archives, x_files_factor=xff,
        aggregation_method=agg,
    )
    pts = [
        (
            NOW - stride * i,
            float("nan") if rng.random() < 0.1 else rng.uniform(-50, 50),
        )
        for i in range(1, n_pts + 1)
    ]
    store.update_many(pts, now=NOW, metric="fuzz.m")
    out = str(tmp_path / "x")
    assert export_wsp(store, out) == 1
    fp = os.path.join(out, "fuzz", "m.wsp")
    for spp, points in archives:
        frm = NOW - spp * points + 1
        ref = refwhisper.fetch(fp, frm, NOW, now=NOW, archiveToSelect=spp)
        got = store.fetch_series(
            "fuzz.m", from_time=frm, until_time=NOW, now=NOW, archive_step=spp
        )
        (ri, rv) = ref
        (gi, gv) = got
        assert gi == tuple(ri), (spp, gi, ri)
        for i, (r, g) in enumerate(zip(rv, gv)):
            if g is None:
                assert r is None, (spp, i, r)
            elif isinstance(g, float) and math.isnan(g):
                assert r is not None and math.isnan(r), (spp, i, r)
            else:
                assert r == pytest.approx(g), (spp, i, r, g)


@requires_reference
@pytest.mark.parametrize(
    "archives,agg,n_pts,stride",
    [
        ([(60, 12)], "max", 50, 60),              # heavy ring wrap
        ([(30, 40), (300, 12)], "sum", 80, 45),   # cross-archive ages
        ([(120, 10), (600, 6), (3600, 4)], "last", 30, 300),
    ],
)
def test_wsp_import_parity_random_configs(
    spark, tmp_path, archives, agg, n_pts, stride
):
    """Reference-written random files (seeded values incl. NaN) import
    losslessly: our fetch equals the reference's at every archive."""
    import random

    rng = random.Random(hash((tuple(archives), n_pts, stride)))
    root = tmp_path / "w"
    root.mkdir()
    fp = str(root / "fz.wsp")
    refwhisper.create(fp, archives, xFilesFactor=0.3, aggregationMethod=agg)
    pts = [
        (
            NOW - stride * i,
            float("nan") if rng.random() < 0.08 else rng.uniform(-99, 99),
        )
        for i in range(1, n_pts + 1)
    ]
    refwhisper.update_many(fp, pts, now=NOW)
    store = import_wsp(spark, fp, str(tmp_path / "imp"), root=str(root))
    for spp, points in archives:
        frm = NOW - spp * points + 1
        ref = refwhisper.fetch(fp, frm, NOW, now=NOW, archiveToSelect=spp)
        got = store.fetch_series(
            "fz", from_time=frm, until_time=NOW, now=NOW, archive_step=spp
        )
        (ri, rv) = ref
        (gi, gv) = got
        assert gi == tuple(ri), (spp, gi, ri)
        for i, (r, g) in enumerate(zip(rv, gv)):
            if r is None:
                assert g is None, (spp, i, g)
            elif isinstance(r, float) and math.isnan(r):
                assert g is not None and math.isnan(g), (spp, i, g)
            else:
                assert g == pytest.approx(r), (spp, i, r, g)


@requires_reference
def test_cli_import_export_round_trip(spark, tmp_path, capsys):
    from whisper_spark import cli

    root = _mk_ref_tree(tmp_path, metrics=("apps.api.rps",))
    assert (
        cli.main(
            [
                "import-wsp", os.path.join(root, "apps", "*", "*.wsp"),
                str(tmp_path / "cli_store"), "--root", root,
            ]
        )
        == 0
    )
    assert "imported 1 metric(s)" in capsys.readouterr().out
    assert (
        cli.main(
            ["export-wsp", str(tmp_path / "cli_store"),
             str(tmp_path / "cli_out")]
        )
        == 0
    )
    assert "exported 1 .wsp file(s)" in capsys.readouterr().out
    fp = os.path.join(str(tmp_path / "cli_out"), "apps", "api", "rps.wsp")
    ref = refwhisper.fetch(fp, NOW - 20 * 60, NOW, now=NOW)
    orig = refwhisper.fetch(
        os.path.join(root, "apps", "api", "rps.wsp"),
        NOW - 20 * 60, NOW, now=NOW,
    )
    assert ref[0] == orig[0]
    for r, o in zip(ref[1], orig[1]):
        if o is None:
            assert r is None
        else:
            assert r == pytest.approx(o)


def test_metric_name_strips_any_uri_scheme():
    """binaryFiles returns scheme-qualified paths on cluster
    filesystems; metric naming must survive hdfs:///s3a:// roots, not
    just file: (review finding, round 5)."""
    from whisper_spark.sources.wsp import _metric_name

    for pre in ("file:", "hdfs://namenode:8020", "s3a://bucket"):
        assert _metric_name(
            f"{pre}/data/tree/a/b/c.wsp", f"{pre}/data/tree"
        ) == "a.b.c"
    # mixed: scheme-qualified file path, bare root (relpath still sane)
    assert _metric_name("file:/data/tree/x/y.wsp", "/data/tree") == "x.y"
    assert _metric_name("/data/tree/x/y.wsp", None) == "y"


def test_is_posix_path_respects_default_fs(spark):
    """Scheme-less paths must NOT mean driver-local on a cluster whose
    fs.defaultFS is HDFS — read_wsp('/data/tree/*.wsp') there would
    silently glob the driver's disk (wrong/missing data, not an
    error).  POSIX fast path: explicit file: URIs, or scheme-less
    paths when the Hadoop default filesystem is local (review
    finding, round 9)."""
    from whisper_spark.sources.wsp import _is_posix_path

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    orig = conf.get("fs.defaultFS", "file:///")
    try:
        conf.set("fs.defaultFS", "file:///")
        assert _is_posix_path("/data/tree/*.wsp", spark)
        assert _is_posix_path("file:/data/tree/*.wsp", spark)
        assert not _is_posix_path("hdfs://nn:8020/tree/*.wsp", spark)
        conf.set("fs.defaultFS", "hdfs://nn:8020")
        # the scheme-less path now resolves to HDFS -> binaryFiles
        assert not _is_posix_path("/data/tree/*.wsp", spark)
        # explicit file: URI stays local regardless of defaultFS
        assert _is_posix_path("file:/data/tree/*.wsp", spark)
        assert not _is_posix_path("s3a://bucket/tree", spark)
    finally:
        conf.set("fs.defaultFS", orig)


def _write_min_wsp(path, points, spp=60, slots=5):
    """A minimal one-archive .wsp file packed by hand (average, xff
    0.5): ``points`` fill the first ring slots in order."""
    import struct as _struct

    path.parent.mkdir(parents=True, exist_ok=True)
    header = _struct.pack("!2LfL", 1, spp * slots, 0.5, 1)
    offset = len(header) + _struct.calcsize("!3L")
    header += _struct.pack("!3L", offset, spp, slots)
    ring = b"".join(_struct.pack("!Ld", ts, v) for ts, v in points)
    ring += b"\0" * (_struct.calcsize("!Ld") * (slots - len(points)))
    path.write_bytes(header + ring)


def test_posix_tree_scan_slices_by_path_count(spark, tmp_path, monkeypatch):
    """A POSIX tree scan ships each task its slice of the path list: a
    small tree gets two slices a core (or one a file), and a larger
    tree one slice per ``_PATHS_PER_SLICE`` paths."""
    from whisper_spark.sources import wsp

    root = tmp_path / "tree"
    root.mkdir()
    n = 40
    for i in range(n):
        (root / f"m{i}.wsp").write_bytes(b"")
    pat = str(root / "*.wsp")

    def slice_sizes():
        return wsp._wsp_files_rdd(spark, pat).glom().map(len).collect()

    sizes = slice_sizes()
    assert sum(sizes) == n
    assert len(sizes) == min(2 * spark.sparkContext.defaultParallelism, n)

    # more paths than two slices a core of _PATHS_PER_SLICE each
    monkeypatch.setattr(wsp, "_PATHS_PER_SLICE", 1)
    assert slice_sizes() == [1] * n


def test_glob_contract_matches_binary_files(spark, tmp_path):
    """binaryFiles parity of the POSIX listing, on hand-packed files:
    ``{a,b}`` alternation, the ``.``/``_`` hidden-name filter under a
    glob and under a directory path, a directory path listing its
    visible files without recursing, the empty-dir and no-match
    contracts, one row per slot for a bare ``root/**`` (a directory
    and its files both match), and a ``file:`` URI reading like the
    bare path."""
    from whisper_spark.sources.wsp import _expand_alternation

    assert _expand_alternation("/t/{a,b}/*.wsp") == [
        "/t/a/*.wsp", "/t/b/*.wsp"]
    assert _expand_alternation("/t/{a,{b,c}x}/f") == [
        "/t/a/f", "/t/bx/f", "/t/cx/f"]
    assert _expand_alternation("/t/plain") == ["/t/plain"]
    assert _expand_alternation("/t/{unbalanced") == ["/t/{unbalanced"]

    root = tmp_path / "tree"
    for i, rel in enumerate(("a/m1.wsp", "b/m2.wsp", "c/m3.wsp",
                             "a/deep/m4.wsp", "top.wsp")):
        _write_min_wsp(root / rel, [(NOW - 60 * (i + 1), float(i)),
                                    (NOW, 10.0 + i)])
    for rel in ("a/.hidden.wsp", "a/_SUCCESS", "b/_tmp.wsp"):
        (root / rel).write_bytes(b"not a whisper file")

    def metrics(pat):
        return sorted({r["metric"] for r in
                       read_wsp(spark, pat, root=str(root)).collect()})

    assert metrics(str(root / "{a,b}" / "*.wsp")) == ["a.m1", "b.m2"]
    # a glob that hits .x and _x names keeps only the visible file
    assert metrics(str(root / "a" / "{.,_,m}*")) == ["a.m1"]
    # a glob hit on a directory (a/deep) means its visible files
    assert metrics(str(root / "*" / "*")) == [
        "a.deep.m4", "a.m1", "b.m2", "c.m3"]
    # a directory path: visible files only, no recursion into a/deep
    assert metrics(str(root / "a")) == ["a.m1"]
    hdrs = wsp_headers(spark, str(root / "a"), root=str(root)).collect()
    assert [r["metric"] for r in hdrs] == ["a.m1"]

    # empty existing dir -> empty DataFrame; nothing matches -> error
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_wsp(spark, str(empty)).count() == 0
    with pytest.raises(FileNotFoundError, match="matches no files"):
        read_wsp(spark, str(tmp_path / "nope" / "*.wsp")).count()

    rows = [tuple(r) for r in
            read_wsp(spark, str(root / "**"), root=str(root)).collect()]
    keys = [(m, res, ts) for (m, res, ts, _v) in rows]
    assert len(keys) == len(set(keys)) == 10
    assert {m for (m, _r, _t) in keys} == {
        "a.m1", "b.m2", "c.m3", "a.deep.m4", "top"}

    pat = str(root / "*" / "*.wsp")
    bare = sorted(map(tuple, read_wsp(spark, pat, root=str(root)).collect()))
    uri = sorted(map(tuple, read_wsp(spark, "file:" + pat,
                                     root=str(root)).collect()))
    assert uri == bare and len(bare) == 6


@requires_reference
def test_import_wsp_tree_two_policies_round_trip(spark, tmp_path):
    """A heterogeneous tree (two storage-schemas policies) migrates in
    one import_wsp_tree call: files auto-group by header config, each
    group lands in its own policy store, every metric fetch-matches the
    reference, and exporting back yields files the reference's own
    fetch reads identically (judge task 5, round 5)."""
    from whisper_spark.sources.wsp import import_wsp_tree

    root = tmp_path / "tree"
    pol_a = dict(archives=[(60, 30)], xff=0.5, method="average")
    pol_b = dict(archives=[(10, 120), (60, 40)], xff=0.0, method="max")
    files = {}
    for m, pol, base in (
        ("servers.web1.cpu", pol_a, 10.0),
        ("servers.db.cpu", pol_a, 100.0),
        ("apps.api.reqs", pol_b, 1000.0),
    ):
        p = root.joinpath(*m.split("."))
        p.parent.mkdir(parents=True, exist_ok=True)
        fp = str(p) + ".wsp"
        refwhisper.create(fp, pol["archives"], xFilesFactor=pol["xff"],
                          aggregationMethod=pol["method"])
        step = pol["archives"][0][0]
        refwhisper.update_many(
            fp, [(NOW - step * i, base + i) for i in range(1, 25)], now=NOW
        )
        files[m] = (fp, pol)

    stores = import_wsp_tree(
        spark, str(root) + "/*/*/*.wsp", str(tmp_path / "dst"),
        root=str(root),
    )
    assert len(stores) == 2  # one store per distinct header config
    by_metric = {}
    for store in stores.values():
        for r in store._read_points().select("metric").distinct().collect():
            by_metric[r["metric"]] = store
    assert set(by_metric) == set(files)
    # policy isolation: the two servers.* metrics share a store
    assert by_metric["servers.web1.cpu"] is by_metric["servers.db.cpu"]
    assert by_metric["apps.api.reqs"] is not by_metric["servers.db.cpu"]

    for m, (fp, pol) in files.items():
        store = by_metric[m]
        assert [(a.seconds_per_point, a.points) for a in store.archives] \
            == pol["archives"]
        assert store.aggregation_method == pol["method"]
        step = pol["archives"][0][0]
        for frm in (NOW - 20 * step, NOW - 1000 * step):
            (ri, rv) = refwhisper.fetch(fp, frm, NOW, now=NOW)
            (gi, gv) = store.fetch_series(m, from_time=frm, until_time=NOW,
                                          now=NOW)
            assert gi == tuple(ri)
            for i, (r, g) in enumerate(zip(rv, gv)):
                if r is None:
                    assert g is None, (m, i, g)
                else:
                    assert g == pytest.approx(r), (m, i, r, g)

    # round-trip: export every policy store back to .wsp and fetch the
    # exported files through the REFERENCE library itself
    for name, store in stores.items():
        out = str(tmp_path / "exported" / name)
        export_wsp(store, out)
        for m in [k for k, v in by_metric.items() if v is store]:
            fp_new = os.path.join(out, *m.split(".")) + ".wsp"
            fp_old, pol = files[m]
            step = pol["archives"][0][0]
            frm = NOW - 30 * step
            (oi, ov) = refwhisper.fetch(fp_old, frm, NOW, now=NOW)
            (ni, nv) = refwhisper.fetch(fp_new, frm, NOW, now=NOW)
            assert tuple(oi) == tuple(ni)
            assert ov == nv, m


@requires_reference
def test_import_wsp_tree_then_federated_read(spark, tmp_path):
    """The full migration story: heterogeneous tree -> import_wsp_tree
    -> fetch_federated serves the policy stores as ONE namespace,
    consolidating the finer policy onto the common step (round-5
    federated fix + multi-policy import working together)."""
    from whisper_spark.sources.wsp import import_wsp_tree
    from whisper_spark.store import fetch_federated

    root = tmp_path / "tree"
    # fine policy: 1m slots; coarse policy: 5m slots
    for m, archives, base, step in (
        ("apps.api.reqs", [(60, 60)], 100.0, 60),
        ("servers.web1.cpu", [(300, 24)], 500.0, 300),
    ):
        p = root.joinpath(*m.split("."))
        p.parent.mkdir(parents=True, exist_ok=True)
        fp = str(p) + ".wsp"
        refwhisper.create(fp, archives, xFilesFactor=0.0,
                          aggregationMethod="average")
        refwhisper.update_many(
            fp, [(NOW - step * i, base + i) for i in range(1, 13)], now=NOW
        )
    stores = import_wsp_tree(
        spark, str(root) + "/*/*/*.wsp", str(tmp_path / "dst"),
        root=str(root),
    )
    res = fetch_federated(list(stores.values()), None,
                          from_time=NOW - 3000, until_time=NOW, now=NOW)
    assert res is not None
    ((lo, hi, step), df) = res
    assert step == 300  # coarsest policy wins; fine store consolidates
    got = {(r["metric"], r["ts"]): r["value"] for r in df.collect()
           if r["value"] is not None}
    metrics = {m for (m, _t) in got}
    assert metrics == {"apps.api.reqs", "servers.web1.cpu"}
    # coarse store values arrive verbatim on its own grid
    for i in range(1, 10):
        slot = (NOW - 300 * i) // 300 * 300
        assert got[("servers.web1.cpu", slot)] == pytest.approx(500.0 + i)


@requires_reference
def test_fleet_migrate_bench_query_matches_oracle(spark):
    """ws_wsp_fleet_migrate (the bench-flagged migration composite:
    synthesize reference-format tree -> read_wsp import -> 5m rollup
    with the xff gate -> per-metric fetch stats) matches its DuckDB
    closed-form oracle bit-for-bit at sf0.001, and the synthesized
    files are REAL whisper binaries the reference library reads."""
    import importlib.util
    import os

    import duckdb

    checker = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "check_correctness.py",
    )
    spec = importlib.util.spec_from_file_location("cc_fleet", checker)
    CC = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(CC)

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in CC.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    r = CC.run_one(spark, con, "ws_wsp_fleet_migrate", sf_dir, verbose=True)
    con.close()
    assert r["status"] == "OK", r

    # the tree is genuine reference format: open one file with the
    # actual reference library and check header + a point
    from whisper_spark.queries import _WSP_FLEET_BASE, _wsp_fleet_root

    root = _wsp_fleet_root(spark, 50)  # cached from the run above
    info = refwhisper.info(os.path.join(root, "g0", "m7.wsp"))
    assert info["aggregationMethod"] == "average"
    assert info["archives"][0]["secondsPerPoint"] == 60
    # now = BASE+900 keeps slot 0 inside the 960s retention AFTER the
    # reference's exclusive from-quantization (fromInterval + step)
    until = _WSP_FLEET_BASE + 15 * 60
    (_s, _e, step), vals = refwhisper.fetch(
        os.path.join(root, "g0", "m7.wsp"),
        _WSP_FLEET_BASE - 120, until, now=until)
    known = [v for v in vals if v is not None]
    assert len(known) == 8 + 7 % 8  # file 7 holds 15 points
    assert known[0] == ((7 * 7 + 0 * 13) % 997) / 4.0
