"""Batch point sources — the connector surface.

The reference ingests points from argv/stdin text
(bin/whisper-update.py:29-46) and from RRD files (bin/rrd2whisper.py).
Here any ``spark.read`` source maps to the same (metric, ts, value, seq)
ingest shape; these helpers cover the common ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

POINTS_READ_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("seq", T.LongType()),
    ]
)


def read_points_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV with header metric,ts,value[,seq]."""
    df = spark.read.option("header", "true").csv(path)
    return _normalize(df)


def read_points_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines with fields metric, ts, value[, seq]."""
    return _normalize(spark.read.json(path))


def read_points_lines(spark: SparkSession, path: str) -> DataFrame:
    """Graphite line protocol ``<metric> <value> <ts>`` text files — the
    batch twin of streaming.parse_line_protocol (reference:
    bin/whisper-update.py:32-34 reads the same shape)."""
    from ..streaming.ingest import parse_line_protocol

    return parse_line_protocol(spark.read.text(path))


def read_points_pickle(spark: SparkSession, path: str) -> DataFrame:
    """Carbon's PICKLE ingest protocol as a batch source: files holding
    the payloads carbon-relay speaks on port 2004 — 4-byte big-endian
    length-prefixed frames, each a pickled ``[(metric, (ts, value)),
    ...]`` list (public carbon wire format; the line-protocol twin is
    :func:`read_points_lines`).  Bare un-framed pickles are accepted
    too.

    Unpickling is RESTRICTED: only primitive containers/scalars load
    (a custom Unpickler refuses every class lookup) — the hardening
    carbon itself needed for this protocol.  Distributed: files are
    scanned by :func:`whisper_spark.sources.wsp._wsp_files_rdd` (a
    driver-listed path list on POSIX, ``binaryFiles`` elsewhere) and
    frames are parsed executor-side.
    """
    import io
    import pickle
    import struct

    class _SafeUnpickler(pickle.Unpickler):
        def find_class(self, module, name):  # pragma: no cover - guard
            raise pickle.UnpicklingError(
                f"carbon pickle payloads may not reference classes "
                f"({module}.{name})"
            )

    def _loads(b: bytes):
        return _SafeUnpickler(io.BytesIO(b)).load()

    def parse(item):
        path_, blob = item
        payloads = []
        off = 0
        # carbon framing: !L length + payload, repeated
        while off + 4 <= len(blob):
            (n,) = struct.unpack("!L", blob[off:off + 4])
            if n == 0 or off + 4 + n > len(blob):
                # length header runs past EOF (or is zero): a truncated
                # tail / trailing garbage such as a text-mode newline —
                # stop framing; NOT an error by itself
                break
            try:
                payloads.append(_loads(blob[off + 4:off + 4 + n]))
            except Exception as exc:
                if payloads:
                    # a COMPLETE frame mid-file failed to unpickle:
                    # silently dropping it (and everything after) would
                    # make partial ingestion look like success (advisor
                    # finding, round 6) — fail loudly with the location
                    raise ValueError(
                        f"corrupt carbon pickle frame in {path_} at "
                        f"byte offset {off} (length {n}): {exc!r}; "
                        f"{len(blob) - off} framed bytes would be lost"
                    ) from exc
                # first frame undecodable -> maybe not framed at all;
                # fall through to the bare-pickle path below
                break
            off += 4 + n
        # frames parsed -> use them; nothing framed -> the file is a
        # bare pickle
        if not payloads:
            payloads = [_loads(blob)]
        out = []
        # seq is a RUNNING counter across frames: a later frame's point
        # for the same (metric, ts) must win the store's LWW dedup
        # (carbon applies frames in arrival order)
        seq = 0
        for pl in payloads:
            for (metric, (ts, value)) in pl:
                out.append((str(metric), int(ts), float(value), seq))
                seq += 1
        return out

    from .wsp import _wsp_files_rdd

    # same scan shape as the .wsp reader: paths-first for POSIX trees
    # (binaryFiles degrades quadratically on many-tiny-file splits),
    # binaryFiles fallback for remote schemes
    rdd = _wsp_files_rdd(spark, path).flatMap(parse)
    return spark.createDataFrame(rdd, POINTS_READ_SCHEMA)


def _normalize(df: DataFrame) -> DataFrame:
    cols = {c.lower(): c for c in df.columns}
    out = df.select(
        F.col(cols["metric"]).cast("string").alias("metric"),
        F.col(cols["ts"]).try_cast("long").alias("ts"),
        F.col(cols["value"]).try_cast("double").alias("value"),
        (
            F.col(cols["seq"]).try_cast("long")
            if "seq" in cols
            else F.lit(0).cast("long")
        ).alias("seq"),
    )
    return out.filter(
        F.col("metric").isNotNull() & F.col("ts").isNotNull()
    )


def rrd_fetch_to_rows(base: str, datasources, t_info, names, values):
    """Pure mapping of an ``rrdtool.fetch()`` result to (metric, ts,
    value, seq) rows — one metric per datasource, wallclock stepped from
    the fetch start (reference: bin/rrd2whisper.py:109-163).  Split out
    from :func:`read_rrd` so the mapping is testable without rrdtool."""
    (start, _end, step) = t_info
    rows = []
    t = start
    for row in values:
        for name, v in zip(names, row):
            if v is not None and name in datasources:
                rows.append((f"{base}.{name}", int(t), float(v), 0))
        t += step
    return rows


def parse_rrd_dump(text: str) -> dict:
    """Parse an ``rrdtool dump`` XML document (the public, documented
    interchange format every rrdtool install can produce) into plain
    Python — the pure fallback that closes the RRD migration path
    without the C bindings.

    Returns ``{step, lastupdate, ds: [names...], rras: [{cf,
    pdp_per_row, xff, rows: [[v-or-None per ds, ...], ...]}]}``.
    Row timestamps follow the rrdtool convention: rows are oldest-first
    and the LAST row ends at ``lastupdate - lastupdate % (step *
    pdp_per_row)`` (restore ignores the timestamp comments, so the
    computed grid is authoritative).  ``NaN`` cells parse to None
    (unknown slot)."""
    import math
    import xml.etree.ElementTree as ET

    root = ET.fromstring(text)
    step = int(root.findtext("step").strip())
    lastupdate = int(root.findtext("lastupdate").strip())
    ds = [d.findtext("name").strip() for d in root.findall("ds")]
    rras = []
    for rra in root.findall("rra"):
        xff_el = rra.find("params/xff")
        if xff_el is None:  # rrd 0001 dumps put xff at the rra level
            xff_el = rra.find("xff")
        rows = []
        for row in rra.findall("database/row"):
            vals = []
            for v in row.findall("v"):
                t = (v.text or "").strip()
                f = float(t) if t else float("nan")
                vals.append(None if math.isnan(f) else f)
            rows.append(vals)
        rras.append(
            {
                "cf": rra.findtext("cf").strip(),
                "pdp_per_row": int(rra.findtext("pdp_per_row").strip()),
                "xff": float(xff_el.text.strip()) if xff_el is not None else 0.5,
                "rows": rows,
            }
        )
    return {"step": step, "lastupdate": lastupdate, "ds": ds, "rras": rras}


def rrd_dump_to_archive_rows(base: str, info: dict, cf: str = "AVERAGE"):
    """(archives, rows): map every ``cf``-matching RRA of a parsed dump
    to whisper shape — ``archives`` = [(precision, points)] sorted
    finest-first (reference rrd2whisper.py:106-115 derives precision =
    pdp_per_row * step, points = rows), ``rows`` = (metric, resolution,
    ts, value) with one metric per datasource
    (``<base>.<datasource>``)."""
    step = info["step"]
    last = info["lastupdate"]
    archives = []
    rows = []
    for rra in info["rras"]:
        if rra["cf"].upper() != cf.upper():
            continue
        precision = rra["pdp_per_row"] * step
        n = len(rra["rows"])
        archives.append((precision, n))
        end = last - last % precision
        for i, vals in enumerate(rra["rows"]):
            ts = end - (n - 1 - i) * precision
            for name, v in zip(info["ds"], vals):
                if v is not None:
                    rows.append((f"{base}.{name}", precision, ts, v))
    archives.sort()
    return archives, rows


def read_rrd_xml(
    spark: SparkSession, path: str, cf: str = "AVERAGE"
) -> DataFrame:
    """Read an ``rrdtool dump`` XML file into (metric, resolution, ts,
    value) rows — every known slot of every ``cf``-matching RRA, the
    same shape as :func:`whisper_spark.sources.wsp.read_wsp`.  Pure
    Python: no rrdtool binding required."""
    import os

    with open(path) as f:
        info = parse_rrd_dump(f.read())
    base = os.path.basename(path).rsplit(".", 1)[0]
    if base.endswith(".rrd"):
        base = base[:-4]
    _archives, rows = rrd_dump_to_archive_rows(base, info, cf)
    return spark.createDataFrame(
        rows, "metric string, resolution long, ts long, value double"
    )


def rrd2store(
    spark: SparkSession,
    xml_path: str,
    dst_path: str,
    cf: str = "AVERAGE",
    x_files_factor: float | None = None,
):
    """The ``rrd2whisper`` migration (reference: bin/rrd2whisper.py:
    59-163) against an RRD database file — ungated, pure Python.
    Accepts EITHER an ``rrdtool dump`` XML file or a binary ``.rrd``
    (sniffed by the ``RRD\\0`` magic; both parse to the same dict):
    derive the archive list from the ``cf``-matching RRAs
    (precision = pdp_per_row * step, points = rows; xFilesFactor
    defaults to the first RRA's xff, as the reference does), create the
    store, and import every RRA's slots VERBATIM into the matching
    resolution partition (the import_wsp convention: coarse archives
    carry history the finest no longer has — no re-aggregation).

    Returns the new WhisperStore."""
    import os

    from ..store import WhisperStore

    with open(xml_path, "rb") as f:
        blob = f.read()
    if blob[:4] == b"RRD\0":
        from .rrd_binary import parse_rrd_binary

        info = parse_rrd_binary(blob)
    else:
        info = parse_rrd_dump(blob.decode())
    base = os.path.basename(xml_path).rsplit(".", 1)[0]
    if base.endswith(".rrd"):
        base = base[:-4]
    archives, rows = rrd_dump_to_archive_rows(base, info, cf)
    if not archives:
        raise ValueError(
            f"no RRA with consolidation function {cf!r} in {xml_path!r}"
        )
    if x_files_factor is None:
        x_files_factor = next(
            r["xff"] for r in info["rras"] if r["cf"].upper() == cf.upper()
        )
    method = {"AVERAGE": "average", "MAX": "max", "MIN": "min",
              "LAST": "last"}.get(cf.upper(), "average")
    store = WhisperStore.create(
        spark, dst_path, archives,
        x_files_factor=float(x_files_factor), aggregation_method=method,
    )
    pts = spark.createDataFrame(
        rows, "metric string, resolution long, ts long, value double"
    ).withColumn("wseq", F.lit(0).cast("long"))
    store._append(pts)
    return store


def read_rrd(
    spark: SparkSession, path: str, cf: str = "AVERAGE"
) -> DataFrame:
    """Read BINARY ``.rrd`` files — a single file, a tree, or a glob —
    into (metric, resolution, ts, value) rows: every known slot of
    every ``cf``-matching RRA, metrics named ``<basename>.<ds>``.

    Pure Python and DISTRIBUTED: no rrdtool binding needed (the
    reference's own migration hard-exits without it,
    bin/rrd2whisper.py:21); files are scanned with the same
    fleet-scale shape as the ``.wsp`` reader
    (:func:`whisper_spark.sources.wsp._wsp_files_rdd`: driver
    listing, open and parse executor-side) and decoded by
    :func:`whisper_spark.sources.rrd_binary.parse_rrd_binary`, which
    feeds the same :func:`rrd_dump_to_archive_rows` as the XML path so
    both produce identical rows for the same database.  32-bit-ABI
    files are rejected with a pointer at ``rrdtool dump`` +
    :func:`read_rrd_xml`."""
    import os

    from .rrd_binary import parse_rrd_binary
    from .wsp import _wsp_files_rdd

    def parse(item):
        p, blob = item
        base = os.path.basename(p)
        if base.endswith(".rrd"):
            base = base[:-4]
        _archives, rows = rrd_dump_to_archive_rows(
            base, parse_rrd_binary(blob), cf)
        return rows

    rdd = _wsp_files_rdd(spark, path).flatMap(parse)
    return spark.createDataFrame(
        rdd, "metric string, resolution long, ts long, value double"
    )
