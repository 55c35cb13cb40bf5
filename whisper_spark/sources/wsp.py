"""Reference ``.wsp`` binary files as a Spark source and sink — the
migration path between a graphite whisper tree and this engine.

A reference-stack user switches over by importing their existing
storage directory (``import_wsp``), and can switch back — or feed
legacy dashboards — by exporting any store as a tree of files the
reference library reads byte-for-byte (``export_wsp``).

On-disk format (reference whisper.py:113-118, public):

* metadata ``!2LfL``: (aggregationType u32, maxRetention u32,
  xFilesFactor f32, archiveCount u32) — 16 bytes
* per archive ``!3L``: (offset, secondsPerPoint, points) — 12 bytes
* point ``!Ld``: (interval u32, value f64) — 12 bytes; interval 0
  marks an empty ring slot (whisper.py:1026-1031 treats stale/zero
  intervals as gaps)

Both directions are distributed: the reader lists POSIX trees with a
driver glob (see :func:`_wsp_files_rdd`; remote schemes use
``binaryFiles``), parses header+ring executor-side, and the writer
repartitions by metric so each task packs complete files.  Files are
per-metric and small (16 + 12·archives + 12·Σpoints bytes), so the
driver never materializes point data.
"""

from __future__ import annotations

import os
import shutil
import struct
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import CorruptWhisperFile

METADATA_FMT = "!2LfL"
ARCHIVE_FMT = "!3L"
POINT_FMT = "!Ld"
METADATA_SIZE = struct.calcsize(METADATA_FMT)
ARCHIVE_SIZE = struct.calcsize(ARCHIVE_FMT)
POINT_SIZE = struct.calcsize(POINT_FMT)

#: reference whisper.py:121-130 aggregationTypeToMethod
AGG_NUM_TO_METHOD = {
    1: "average", 2: "sum", 3: "last", 4: "max", 5: "min",
    6: "avg_zero", 7: "absmax", 8: "absmin",
}
METHOD_TO_AGG_NUM = {v: k for k, v in AGG_NUM_TO_METHOD.items()}

# At most this many paths ride in one task of a POSIX tree scan: a task
# carries its slice of the path list, and Spark warns above ~1 MB a task
# (about 12k paths of ~85 bytes).
_PATHS_PER_SLICE = 1024

WSP_POINTS_SCHEMA = "metric string, resolution long, ts long, value double"
WSP_HEADER_SCHEMA = (
    "metric string, aggregation_method string, max_retention long, "
    "x_files_factor double, "
    "archives array<struct<seconds_per_point:long, points:long>>, "
    "corrupt string"
)


#: <scheme>:[//authority] prefix of a Hadoop filesystem URI.  Manual
#: regex, NOT urlparse: metric path segments may legally contain '#'
#: and '?' (graphite names allow '#'), which urlparse would truncate
#: as fragment/query.
_SCHEME_RE = None


def _strip_scheme(path: str) -> str:
    """Drop any ``<scheme>:`` / ``<scheme>://authority`` prefix (file:,
    hdfs://nn:8020, s3a://bucket, ...) so relpath math over
    ``binaryFiles`` paths works on every filesystem — preserving ``#``
    and ``?`` characters inside the path itself."""
    import re

    global _SCHEME_RE
    if _SCHEME_RE is None:
        _SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:(//[^/]*)?(?=/)")
    return _SCHEME_RE.sub("", path)


def _metric_name(path: str, root: str | None) -> str:
    """Filesystem path -> dotted metric name (graphite tree layout:
    ``<root>/a/b/c.wsp`` is metric ``a.b.c``; without a root, the
    basename)."""
    p = _strip_scheme(path)
    rel = os.path.relpath(p, _strip_scheme(root)) if root else os.path.basename(p)
    if rel.endswith(".wsp"):
        rel = rel[:-4]
    return rel.replace(os.sep, ".")


def _header_complete(blob: bytes) -> bool:
    """True when ``blob`` holds its whole header: the metadata and the
    archive table."""
    return len(blob) >= METADATA_SIZE and len(blob) >= (
        METADATA_SIZE + struct.unpack_from(METADATA_FMT, blob, 0)[3] * ARCHIVE_SIZE
    )


def _parse_header(blob: bytes):
    aggr, max_ret, xff, count = struct.unpack_from(METADATA_FMT, blob, 0)
    archives = []
    off = METADATA_SIZE
    for _ in range(count):
        a_off, spp, pts = struct.unpack_from(ARCHIVE_FMT, blob, off)
        off += ARCHIVE_SIZE
        archives.append((a_off, spp, pts))
    return aggr, max_ret, xff, archives


def _is_posix_path(path: str, spark: SparkSession | None = None) -> bool:
    """True when ``path`` denotes the LOCAL filesystem: an explicit
    ``file:`` URI, or a scheme-less path on a session whose Hadoop
    ``fs.defaultFS`` is local.  A scheme-less path on a cluster whose
    default filesystem is ``hdfs://`` (or s3a, ...) resolves to THAT
    filesystem — treating it as driver-local would silently glob the
    driver's disk and return wrong/missing data instead of an error,
    so those take the ``binaryFiles`` path.  (The reference engine
    requires POSIX file semantics — graphite storage dirs are
    local/NFS mounts executors reach as shared filesystems, the same
    contract :func:`export_wsp` documents for its output dir — which
    is why the local fast path exists at all.)"""
    if path.startswith("file:"):
        return True
    if _strip_scheme(path) != path:
        return False  # explicit non-file scheme (hdfs://, s3a://, ...)
    if spark is None:
        return True
    try:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///")
    except Exception:  # non-JVM session stub in unit tests
        return True
    return default_fs.startswith("file:")


def _expand_alternation(pattern: str) -> list[str]:
    """Expand Hadoop-glob ``{a,b}`` alternation (which Python's glob
    lacks) into the cross product of plain glob patterns."""
    i = pattern.find("{")
    if i < 0:
        return [pattern]
    depth = 0
    for j in range(i, len(pattern)):
        if pattern[j] == "{":
            depth += 1
        elif pattern[j] == "}":
            depth -= 1
            if depth == 0:
                break
    else:
        return [pattern]  # unbalanced: treat literally, like Hadoop
    body = pattern[i + 1:j]
    parts, buf, depth = [], "", 0
    for ch in body:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(buf)
            buf = ""
        else:
            buf += ch
    parts.append(buf)
    out = []
    for part in parts:
        for rest in _expand_alternation(pattern[:i] + part
                                        + pattern[j + 1:]):
            out.append(rest)
    return out


def _visible(p: str) -> bool:
    """FileInputFormat's hidden-file filter: names starting with
    ``.`` or ``_`` are excluded from listings (binaryFiles parity)."""
    base = os.path.basename(p.rstrip("/"))
    return not base.startswith((".", "_"))


def _glob_tagged(pattern: str):
    """Evaluate ONE plain glob pattern (alternation already expanded)
    into tagged hits: ``("D", dir)`` for every directory the pattern
    matches, ``("F", file)`` for every visible file it denotes — a
    matched directory contributing its visible files non-recursively
    (binaryFiles semantics).  Unsorted (``iglob``): the caller's dedup
    and partitioning ignore order."""
    import glob as _glob

    for h in _glob.iglob(pattern, recursive=True):
        if os.path.isdir(h):
            yield ("D", h)
            for e in os.scandir(h):
                if e.is_file() and _visible(e.path):
                    yield ("F", e.path)
        elif _visible(h):
            yield ("F", h)


def _wsp_files_rdd(spark: SparkSession, path: str):
    """(path, blob) pairs for every file under a tree/glob, partitioned
    for PER-FILE parse parallelism.

    ``binaryFiles`` is the wrong scan shape for whisper trees: it packs
    whole files into splits by byte size, so a 100k-file tree of tiny
    ring files (16 B header + 12 B/slot) collapses into ONE split — and
    Spark's PortableDataStream re-deserializes the full split's path
    list per record, making that single task O(files^2) (measured: a
    100k-file split burned >800 s of one core before finishing).  POSIX
    trees (the only place reference whisper trees live — the executors
    reach the same shared filesystem, the contract :func:`export_wsp`
    documents) are therefore listed driver-side through
    :func:`_glob_tagged` (metadata only), the deduped path list is
    parallelized, and executors open the files.  Paths are deduped
    because a bare ``tree/**`` matches a directory AND its files, which
    would otherwise read those files twice.  Non-POSIX schemes
    (hdfs://, s3a://...) keep the ``binaryFiles`` fallback — Hadoop's
    listing is already distributed namenode work — spread across
    executors after the scan."""
    sc = spark.sparkContext

    def read_files(it):
        for p in it:
            with open(p, "rb") as f:
                yield p, f.read()

    if _is_posix_path(path, spark):
        paths, matched_dir, seen = [], False, set()
        for pat in _expand_alternation(_strip_scheme(path)):
            for tag, p in _glob_tagged(pat):
                if tag == "D":
                    # binaryFiles semantics: a directory means its
                    # visible files (non-recursive)
                    matched_dir = True
                elif p not in seen:
                    seen.add(p)
                    paths.append(p)
        if not paths:
            if matched_dir:
                # binaryFiles contract: an existing-but-empty dir is
                # an EMPTY scan, not an error
                return sc.parallelize([], 1)
            # ...while a pattern matching nothing at all is one
            # (reader-agnostic text: this lists any binary tree,
            # not just .wsp files)
            raise FileNotFoundError(
                f"input path does not exist or matches no files: "
                f"{path!r}"
            )
        n_slices = min(
            max(sc.defaultParallelism * 2, -(-len(paths) // _PATHS_PER_SLICE)),
            len(paths),
        )
        return sc.parallelize(paths, n_slices).mapPartitions(read_files)
    files = sc.binaryFiles(path)
    target = sc.defaultParallelism
    if files.getNumPartitions() < target:
        files = files.repartition(target)
    return files


def read_wsp(spark: SparkSession, path: str, root: str | None = None) -> DataFrame:
    """Read a tree/glob of .wsp files into (metric, resolution, ts,
    value) rows — every non-empty ring slot of every archive."""

    def parse(item):
        p, blob = item
        metric = _metric_name(p, root)
        _aggr, _mr, _xff, archives = _parse_header(blob)
        out = []
        for a_off, spp, pts in archives:
            for i in range(pts):
                ts, v = struct.unpack_from(POINT_FMT, blob, a_off + i * POINT_SIZE)
                if ts != 0:
                    out.append((metric, spp, ts, v))
        return out

    files = _wsp_files_rdd(spark, path)
    return spark.createDataFrame(files.flatMap(parse), WSP_POINTS_SCHEMA)


def wsp_headers(spark: SparkSession, path: str, root: str | None = None) -> DataFrame:
    """One row per file: the parsed header (info() surface).  A file
    shorter than its header says has its path in ``corrupt`` (NULL for a
    sound file); its header fields are NULL only when the header itself
    is cut short."""

    def parse(item):
        p, blob = item
        if not _header_complete(blob):
            return [(_metric_name(p, root), None, None, None, None, p)]
        aggr, max_ret, xff, archives = _parse_header(blob)
        data_end = max((off + pts * POINT_SIZE for off, _s, pts in archives), default=0)
        return [(
            _metric_name(p, root),
            AGG_NUM_TO_METHOD.get(aggr, f"unknown({aggr})"),
            max_ret,
            float(xff),
            [(spp, pts) for _o, spp, pts in archives],
            p if len(blob) < data_end else None,
        )]

    files = _wsp_files_rdd(spark, path)
    return spark.createDataFrame(files.flatMap(parse), WSP_HEADER_SCHEMA)


def _header_configs(hdrs: DataFrame) -> list:
    """The distinct (aggregation_method, x_files_factor, archives)
    configs of a tree, from the header pass's one job.  Raises
    CorruptWhisperFile naming a file shorter than its header says, so
    an import fails before it creates a store."""
    rows = (
        hdrs.select("aggregation_method", "x_files_factor", "archives", "corrupt")
        .distinct()
        .collect()
    )
    bad = sorted(r["corrupt"] for r in rows if r["corrupt"] is not None)
    if bad:
        raise CorruptWhisperFile(
            f"{len(bad)} .wsp file(s) shorter than their header says, "
            f"first {bad[0]}",
            bad[0],
        )
    return rows


@contextmanager
def _undo_on_failure(spark: SparkSession):
    """Yield ``create(path, cfg)``, which creates a store from a header
    config.  If the block raises, what every such call made is removed,
    so the import can be retried: the directory when it was not there
    before, else ``policy.json`` and a ``points/`` that was not there."""
    from ..store import WhisperStore

    made = []

    def create(path: str, cfg):
        existed = (os.path.exists(path), os.path.exists(os.path.join(path, "points")))
        store = WhisperStore.create(
            spark,
            path,
            [(int(a["seconds_per_point"]), int(a["points"])) for a in cfg["archives"]],
            x_files_factor=float(cfg["x_files_factor"]),
            aggregation_method=cfg["aggregation_method"],
        )
        made.append((store, *existed))
        return store

    try:
        yield create
    except Exception:
        for store, dir_existed, points_existed in made:
            if not dir_existed:
                shutil.rmtree(store.path, ignore_errors=True)
            else:
                os.remove(os.path.join(store.path, "policy.json"))
                if not points_existed:
                    shutil.rmtree(store._points_path, ignore_errors=True)
        raise


def import_wsp(
    spark: SparkSession, path: str, dst_path: str, root: str | None = None
):
    """Create a store at ``dst_path`` from a whisper tree — the
    switchover migration.

    Every archive's slots import VERBATIM into the matching resolution
    partition (no re-aggregation: the coarse archives carry history the
    finest archive no longer has, and whisper's write-time propagation
    is not replayable from retained data).  All files must share one
    retention schema — whisper trees are per-policy subtrees
    (storage-schemas.conf), so import per subtree.  Returns the new
    WhisperStore.

    A file shorter than its header says raises CorruptWhisperFile before
    the store is created; if the data write fails, what this call made
    (the directory, or ``policy.json`` and a new ``points/``) is removed
    again, so a fixed tree imports on retry."""
    hdrs = wsp_headers(spark, path, root)
    configs = _header_configs(hdrs)
    if len(configs) != 1:
        raise ValueError(
            f"import_wsp: {len(configs)} distinct retention configs under "
            f"{path!r}; import one storage-schema subtree at a time"
        )
    with _undo_on_failure(spark) as create:
        store = create(dst_path, configs[0])
        store._append(read_wsp(spark, path, root).withColumn("wseq", F.lit(0).cast("long")))
    return store


def import_wsp_tree(
    spark: SparkSession, path: str, dst_root: str, root: str | None = None
) -> dict[str, "object"]:
    """Migrate a whole HETEROGENEOUS whisper tree in one command.

    Real reference trees mix retention policies via carbon's
    storage-schemas.conf (reference contrib/whisper-auto-resize.py:
    123-139 reads exactly that mapping), so a tree-level import cannot
    assume one config.  Files are auto-grouped by their parsed header
    (archives, aggregationMethod, xFilesFactor) and each group imports
    into its own store under ``dst_root/policy-NNNN`` — the multi-store
    layout :func:`whisper_spark.store.fetch_federated` reads as one
    namespace.

    Returns ``{policy_dir_name: WhisperStore}``, one entry per distinct
    header config (deterministic order: sorted by archive list, method,
    xff).  The parsed headers and point data are checkpointed, so the
    tree is read and struct-unpacked once, not once per policy group;
    each store's append left-semi-joins the group's metric set.  If a
    group's import fails, no store this call made is left.
    """
    hdrs = wsp_headers(spark, path, root).localCheckpoint()
    cfgs = sorted(
        _header_configs(hdrs),
        key=lambda r: (
            [(int(a["seconds_per_point"]), int(a["points"])) for a in r["archives"]],
            r["aggregation_method"],
            r["x_files_factor"],
        ),
    )
    # parsed only once the headers passed: a truncated file's points
    # would fail the parse with a bare struct error
    pts = (
        read_wsp(spark, path, root)
        .withColumn("wseq", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    out: dict[str, object] = {}
    with _undo_on_failure(spark) as create:
        for i, cfg in enumerate(cfgs):
            name = f"policy-{i:04d}"
            store = create(f"{dst_root}/{name}", cfg)
            arch_lit = F.array(
                *[
                    F.struct(
                        F.lit(a.seconds_per_point).cast("long").alias("seconds_per_point"),
                        F.lit(a.points).cast("long").alias("points"),
                    )
                    for a in store.archives
                ]
            )
            members = hdrs.filter(
                (F.col("aggregation_method") == cfg["aggregation_method"])
                & (F.col("x_files_factor") == cfg["x_files_factor"])
                & (F.col("archives") == arch_lit)
            ).select("metric")
            store._append(pts.join(members, "metric", "left_semi"))
            out[name] = store
    return out


def export_wsp(store, out_dir: str, tree: bool = True) -> int:
    """Write the store as reference-readable .wsp files, one per metric
    (graphite tree layout ``a/b/c.wsp`` when ``tree``, else flat
    ``a.b.c.wsp``).  Returns the number of files written.

    Distribution: live rows (the store's slot rule, ``_ring_visible``,
    exactly what its own fetch would see) repartition by metric, and each task
    packs its metrics' files independently.  ``out_dir`` must be
    reachable from executors (shared storage on a cluster; any local
    path on local[*])."""
    info = store.info()
    aggr_num = METHOD_TO_AGG_NUM[info["aggregationMethod"]]
    xff = float(info["xFilesFactor"])
    max_ret = int(info["maxRetention"])
    archives = [
        (int(a["secondsPerPoint"]), int(a["points"])) for a in info["archives"]
    ]

    points = store._read_points()
    rows = reduce(DataFrame.unionByName, [
        store._ring_visible(points.filter(F.col("resolution") == spec.seconds_per_point), spec)
        .withColumn("resolution", F.lit(spec.seconds_per_point))
        for spec in store.archives
    ])

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(it):
        by_metric: dict[str, dict[int, list]] = {}
        for r in it:
            levels = by_metric.setdefault(r["metric"], {})
            # a NULL that holds its slot leaves the slot empty, as fetch
            # shows it, and never becomes the base: whisper reads a base
            # ts of 0 as an empty archive
            if r["value"] is not None:
                levels.setdefault(int(r["resolution"]), []).append(
                    (int(r["ts"]), float(r["value"]))
                )
        n = 0
        header_size = METADATA_SIZE + ARCHIVE_SIZE * len(archives)
        for metric, levels in by_metric.items():
            buf = bytearray(
                header_size + POINT_SIZE * sum(p for _s, p in archives)
            )
            struct.pack_into(
                METADATA_FMT, buf, 0, aggr_num, max_ret, xff, len(archives)
            )
            a_off = header_size
            h_off = METADATA_SIZE
            for spp, pts in archives:
                struct.pack_into(ARCHIVE_FMT, buf, h_off, a_off, spp, pts)
                h_off += ARCHIVE_SIZE
                level = sorted(levels.get(spp, []))
                if level:
                    base = level[0][0]
                    for ts, v in level:
                        slot = ((ts - base) // spp) % pts
                        struct.pack_into(
                            POINT_FMT, buf, a_off + slot * POINT_SIZE, ts, v
                        )
                a_off += pts * POINT_SIZE
            rel = metric.replace(".", os.sep) if tree else metric
            fpath = os.path.join(out_dir, rel + ".wsp")
            os.makedirs(os.path.dirname(fpath) or out_dir, exist_ok=True)
            with open(fpath, "wb") as f:
                f.write(bytes(buf))
            n += 1
        yield n

    counts = (
        rows.repartition("metric")
        .rdd.mapPartitions(write_partition)
        .collect()
    )
    return sum(counts)
