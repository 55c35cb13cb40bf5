"""Command-line surface — one subcommand per reference tool.

``python -m whisper_spark.cli <command> ...`` mirrors the reference's
bin/ tools (whisper-create, whisper-update, whisper-fetch, whisper-dump,
whisper-info, whisper-merge, whisper-fill, whisper-diff, whisper-resize,
whisper-set-aggregation-method, whisper-set-xfilesfactor,
find-corrupt-whisper-files) and the contrib fleet tools (auto-resize ->
``reconcile``, auto-update -> ``auto-update``), with output shapes kept
close to the originals (timestamp\\tvalue lines, ``--json``, ``--pretty``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from .retention import estimate_size_bytes, parse_retention_defs
from .session import get_spark
from .store import WhisperStore


def _spark():
    return get_spark(app_name="whisper_spark_cli")


def cmd_create(args):
    if args.estimate:
        archives = parse_retention_defs(args.retentions)
        total = sum(a[1] for a in archives)
        size = estimate_size_bytes(archives)
        print(f"Estimated size: {size} bytes ({total} points, {len(archives)} archives)")
        for n in (1, 5, 10, 50, 100, 500):
            print(f"  {n}k metrics: {size * n * 1000 / 2**30:.2f} GiB (reference layout)")
        return 0
    WhisperStore.create(
        _spark(), args.path, args.retentions,
        x_files_factor=args.xFilesFactor, aggregation_method=args.aggregationMethod,
    )
    print(f"Created: {args.path}")
    return 0


def cmd_update(args):
    store = WhisperStore.open(_spark(), args.path)
    pairs = args.points or [ln.strip() for ln in sys.stdin if ln.strip()]
    now = int(time.time())
    points = []
    for i, p in enumerate(pairs):
        (ts, v) = p.split(":")
        points.append((now if ts == "N" else int(ts), float(v), i))
    if len(points) == 1:
        store.update(args.metric, points[0][1], points[0][0])
    else:
        rows = [(args.metric, t, v, i) for (t, v, i) in points]
        from .store import INPUT_SCHEMA

        store.update_many(store.spark.createDataFrame(rows, INPUT_SCHEMA))
    return 0


def _at_time(val, now):
    """--from/--until value: epoch int, or graphite at-style string
    ('now-1h', 'midnight', '-7d', '17:00_20260101')."""
    if val is None:
        return None
    if isinstance(val, int) or (isinstance(val, str) and val.isdigit()):
        return int(val)
    from .render import parse_at_time

    return parse_at_time(val, now)


def cmd_fetch(args):
    store = WhisperStore.open(_spark(), args.path)
    now = args.now or int(time.time())
    until = _at_time(args.until, now) or now
    frm = _at_time(args.frm, now) or until - 86400
    if getattr(args, "out", None):
        fetched = store.fetch(
            args.metric, from_time=frm, until_time=until, now=now,
            drop=args.drop,
        )
        if fetched is None:
            print("No data in selected timerange")
            return 1
        ((start, end, step), df) = fetched
        df.write.mode("overwrite").parquet(args.out)
        print(f"{args.out}\t{start}\t{end}\t{step}")
        return 0
    res = store.fetch_series(
        args.metric, from_time=frm, until_time=until, now=now, drop=args.drop
    )
    if res is None:
        print("No data in selected timerange")
        return 1
    ((start, end, step), values) = res
    if args.json:
        print(json.dumps({"start": start, "end": end, "step": step, "values": values}))
        return 0
    t = start
    for v in values:
        ts = (
            time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t)) if args.pretty else str(t)
        )
        print(f"{ts}\t{v if v is not None else 'None'}")
        t += step
    return 0


def cmd_dump(args):
    store = WhisperStore.open(_spark(), args.path)
    info = store.info()
    print(json.dumps(info, indent=2))
    for row in store.dump().collect():
        print(
            f"{row['resolution']}: {row['metric']} {row['ts']} {row['value']} "
            f"(wseq {row['wseq']})"
        )
    return 0


def cmd_find(args):
    store = WhisperStore.open(_spark(), args.path)
    rows = store.find(args.pattern).orderBy("node").collect()
    if args.json:
        print(json.dumps([
            {"node": r["node"], "is_leaf": bool(r["is_leaf"]),
             "is_branch": bool(r["is_branch"])}
            for r in rows
        ]))
        return 0
    for r in rows:
        kind = "leaf" if r["is_leaf"] else "branch"
        if r["is_leaf"] and r["is_branch"]:
            kind = "leaf+branch"
        print(f"{r['node']}\t{kind}")
    return 0


def cmd_tags(args):
    """List tag keys (and optionally values) present in the store's
    carbon tagged metric names (graphite /tags API analog)."""
    from pyspark.sql import functions as F

    store = WhisperStore.open(_spark(), args.path)
    pairs = (
        store.metrics()
        .select(
            F.explode(
                F.slice(F.split("metric", ";"), 2, 1000)
            ).alias("kv")
        )
        .select(
            F.substring_index("kv", "=", 1).alias("tag"),
            F.substring_index("kv", "=", -1).alias("value"),
        )
    )
    if args.tag:
        rows = (
            pairs.filter(F.col("tag") == args.tag)
            .groupBy("value").count().orderBy("value").collect()
        )
        out = [{"value": r["value"], "count": r["count"]} for r in rows]
    else:
        rows = (
            pairs.groupBy("tag")
            .agg(F.countDistinct("value").alias("n_values"))
            .orderBy("tag")
            .collect()
        )
        out = [{"tag": r["tag"], "n_values": r["n_values"]} for r in rows]
    if args.json:
        print(json.dumps(out))
    else:
        for o in out:
            print("\t".join(str(v) for v in o.values()))
    return 0


def cmd_info(args):
    store = WhisperStore.open(_spark(), args.path)
    info = store.info()
    if args.field:
        if args.field not in info:
            print(f"Unknown field '{args.field}'. Valid fields are {','.join(info)}")
            return 1
        print(info[args.field])
        return 0
    print(json.dumps(info, indent=2) if args.json else info)
    return 0


def cmd_merge(args):
    spark = _spark()
    src = WhisperStore.open(spark, args.src)
    dst = WhisperStore.open(spark, args.dst)
    src.merge_into(dst, time_from=args.frm, time_to=args.until)
    return 0


def cmd_fill(args):
    spark = _spark()
    src = WhisperStore.open(spark, args.src)
    dst = WhisperStore.open(spark, args.dst)
    dst.fill_from(src)
    return 0


def cmd_diff(args):
    spark = _spark()
    a = WhisperStore.open(spark, args.path_a)
    b = WhisperStore.open(spark, args.path_b)
    res = a.diff(b, ignore_empty=args.ignore_empty, until_time=args.until, now=args.now)
    out = []
    for (idx, df, total) in res:
        rows = [
            (r["metric"], r["ts"], r["va"], r["vb"]) for r in df.collect()
        ]
        out.append({"archive": idx, "total": total, "points": rows})
    if args.json:
        print(json.dumps(out))
    elif args.summary:
        for o in out:
            print(f"archive {o['archive']}: {len(o['points'])} differing of {o['total']}")
    else:
        for o in out:
            for (m, ts, va, vb) in o["points"]:
                print(f"{o['archive']} {m} {ts} {va} {vb}")
    return 0


def cmd_resize(args):
    store = WhisperStore.open(_spark(), args.path)
    store.resize(
        args.retentions,
        new_path=args.newfile,
        x_files_factor=args.xFilesFactor,
        aggregation_method=args.aggregationMethod,
        use_aggregate=args.aggregate,
    )
    print("Resize complete")
    return 0


def cmd_set_agg(args):
    store = WhisperStore.open(_spark(), args.path)
    old = store.set_aggregation_method(args.method, args.xFilesFactor)
    print(f"Updated aggregation method: {args.path} ({args.method}, was {old})")
    return 0


def cmd_set_xff(args):
    store = WhisperStore.open(_spark(), args.path)
    old = store.set_x_files_factor(args.xff)
    print(f"Updated xFilesFactor: {args.path} ({args.xff}, was {old})")
    return 0


def cmd_find_corrupt(args):
    from .maintenance import find_corrupt

    bad = find_corrupt(_spark(), args.root, delete=args.delete)
    for (path, err) in bad:
        print(f"CORRUPT {path}: {err}")
    return 1 if bad else 0


def cmd_reconcile(args):
    from .maintenance import (
        PolicyRule,
        read_storage_schemas,
        reconcile_policies,
    )

    if getattr(args, "schemas", None):
        rules = read_storage_schemas(args.schemas, args.aggregation)
    elif args.rules:
        with open(args.rules) as f:
            rules = [PolicyRule(**r) for r in json.load(f)]
    else:
        print("reconcile: pass a rules JSON file or --schemas", file=sys.stderr)
        return 2
    report = reconcile_policies(_spark(), args.root, rules, apply=args.apply)
    print(json.dumps(report, indent=2))
    return 0


def cmd_compact(args):
    from .store import WhisperStore

    store = WhisperStore.open(_spark(), args.path)
    store.compact(now=args.now)
    print(f"compacted {args.path}")
    return 0


def cmd_auto_update(args):
    """SQL-expression variant of contrib/whisper-auto-update.py: the
    user passes ``--expr`` referencing ``ts``/``value`` columns (e.g.
    ``value * 2`` or ``CASE WHEN value < 0 THEN 0 ELSE value END``) —
    a column transform, not per-row Python."""
    from pyspark.sql import functions as F

    from .maintenance import auto_update
    from .store import WhisperStore

    store = WhisperStore.open(_spark(), args.path)
    expr = args.expr

    def update_value(ts_col, value_col):
        return F.expr(expr)

    auto_update(
        store,
        update_value,
        metrics=args.metric or None,
        from_time=args.frm,
        until_time=args.until,
        now=args.now,
    )
    print(f"auto-updated {args.path} with: {expr}")
    return 0


def cmd_import_wsp(args):
    from .sources.wsp import import_wsp, import_wsp_tree

    if args.multi_policy:
        stores = import_wsp_tree(_spark(), args.glob, args.dst, root=args.root)
        for name, store in stores.items():
            n = store.metrics().count()
            print(f"imported {n} metric(s) into {args.dst}/{name}")
        return 0
    store = import_wsp(_spark(), args.glob, args.dst, root=args.root)
    n = store.metrics().count()
    print(f"imported {n} metric(s) into {args.dst}")
    return 0


def cmd_export_wsp(args):
    from .sources.wsp import export_wsp

    store = WhisperStore.open(_spark(), args.path)
    n = export_wsp(store, args.out, tree=not args.flat)
    print(f"exported {n} .wsp file(s) to {args.out}")
    return 0


def cmd_vacuum(args):
    from .store import WhisperStore

    store = WhisperStore.open(_spark(), args.path)
    n = store.vacuum(now=args.now)
    print(f"vacuumed {args.path}: {n} expired partition dir(s) removed")
    return 0


def cmd_render(args):
    store = WhisperStore.open(_spark(), args.path)
    now = args.now or int(time.time())
    until = _at_time(args.until, now) or now
    frm = _at_time(args.frm, now) or until - 86400
    # one store.render per target: the fetch step is threaded into the
    # target and maxDataPoints consolidation applied there.  Multiple
    # targets union like graphite's &target=..&target=.. query string.
    multi = len(args.target) > 1
    per_target = []
    for target in args.target:
        rendered = store.render(
            target, from_time=frm, until_time=until, now=now,
            max_datapoints=getattr(args, "max_datapoints", None),
        )
        if rendered is None:
            print("No data in selected timerange")
            return 1
        (one, step) = rendered
        per_target.append((target, step, one.orderBy("metric", "ts").collect()))
    if getattr(args, "format", None) == "csv":
        # graphite /render?format=csv: "<series>,<YYYY-MM-DD HH:MM:SS>,<value>"
        for _t, _step, rows in per_target:
            for r in rows:
                stamp = time.strftime(
                    "%Y-%m-%d %H:%M:%S", time.gmtime(r["ts"])
                )
                v = "" if r["value"] is None else repr(r["value"])
                print(f"{r['metric']},{stamp},{v}")
        return 0
    if getattr(args, "format", None) == "raw":
        # graphite format=raw: "<series>,<start>,<end>,<step>|v1,v2,..."
        # The step is derived PER SERIES from its own ts deltas — the
        # target (summarize) or --max-datapoints consolidation may have
        # coarsened past the fetch step, and a wrong declared step would
        # pad the body with phantom Nones
        for _t, step, rows in per_target:
            series: dict[str, dict[int, float]] = {}
            for r in rows:
                series.setdefault(r["metric"], {})[r["ts"]] = r["value"]
            for m, pts in series.items():
                ts_sorted = sorted(pts)
                lo, hi = ts_sorted[0], ts_sorted[-1]
                deltas = [
                    b - a for a, b in zip(ts_sorted, ts_sorted[1:]) if b > a
                ]
                step_out = min(deltas) if deltas else step
                vals = [
                    pts.get(t) for t in range(lo, hi + step_out, step_out)
                ]
                body = ",".join(
                    "None" if v is None else repr(v) for v in vals
                )
                print(f"{m},{lo},{hi + step_out},{step_out}|{body}")
        return 0
    if args.json:
        # single target: {series: points} (original shape); several:
        # keyed by target first — transform functions keep the source
        # series name, so same-name series from different targets would
        # otherwise collide
        def pack(rows):
            series: dict[str, list] = {}
            for r in rows:
                series.setdefault(r["metric"], []).append([r["ts"], r["value"]])
            return series

        if getattr(args, "format", None) == "graphite":
            # graphite-web /render?format=json exact shape: one object
            # per series, datapoints as [value, ts] pairs, series from
            # every target concatenated in target order
            out = []
            for _t, _step, rows in per_target:
                series: dict[str, list] = {}
                for r in rows:
                    series.setdefault(r["metric"], []).append(
                        [r["value"], r["ts"]]
                    )
                out.extend(
                    {"target": m, "datapoints": pts}
                    for m, pts in series.items()
                )
            print(json.dumps(out))
            return 0
        if multi:
            print(json.dumps({t: pack(rows) for t, _step, rows in per_target}))
        else:
            print(json.dumps(pack(per_target[0][2])))
        return 0
    for t, _step, rows in per_target:
        for r in rows:
            v = r["value"] if r["value"] is not None else "None"
            prefix = f"{t}\t" if multi else ""
            print(f"{prefix}{r['metric']}\t{r['ts']}\t{v}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="whisper_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create", help="create a store (whisper-create)")
    c.add_argument("path")
    c.add_argument("retentions", nargs="+")
    c.add_argument("--xFilesFactor", type=float, default=0.5)
    c.add_argument("--aggregationMethod", default="average")
    c.add_argument("--estimate", action="store_true")
    c.set_defaults(fn=cmd_create)

    u = sub.add_parser("update", help="write points (whisper-update)")
    u.add_argument("path")
    u.add_argument("metric")
    u.add_argument("points", nargs="*", metavar="ts:value")
    u.set_defaults(fn=cmd_update)

    f = sub.add_parser("fetch", help="read a range (whisper-fetch)")
    f.add_argument("path")
    f.add_argument("metric")
    f.add_argument(
        "--from", dest="frm",
        help="epoch or graphite at-style time (now-1h, midnight, -7d)",
    )
    f.add_argument("--until", help="epoch or at-style time")
    f.add_argument("--json", action="store_true")
    f.add_argument("--pretty", action="store_true")
    f.add_argument("--drop", choices=["nulls", "zeroes", "empty"])
    f.add_argument("--now", type=int, help="pin 'now' (reproducible reads)")
    f.add_argument(
        "--out",
        help="write the dense timeline as parquet to this path instead "
        "of printing (stays distributed — no driver collect)",
    )
    f.set_defaults(fn=cmd_fetch)

    d = sub.add_parser("dump", help="raw dump (whisper-dump)")
    d.add_argument("path")
    d.set_defaults(fn=cmd_dump)

    rn = sub.add_parser(
        "render",
        help="evaluate a graphite render target over the store "
        "(graphite-web target syntax: summarize(sumSeries(a.*.b), '15min'))",
    )
    rn.add_argument("path")
    rn.add_argument("target", nargs="+")
    rn.add_argument(
        "--from", dest="frm",
        help="epoch or graphite at-style time (now-1h, midnight, -7d)",
    )
    rn.add_argument("--until", help="epoch or at-style time")
    rn.add_argument("--json", action="store_true")
    rn.add_argument(
        "--format", choices=["engine", "graphite", "csv", "raw"],
        default="engine",
        help="'graphite' (with --json): the /render?format=json shape; "
        "'csv'/'raw': graphite's text formats",
    )
    rn.add_argument("--now", type=int, help="pin 'now' (reproducible reads)")
    rn.add_argument(
        "--max-datapoints", dest="max_datapoints", type=int,
        help="graphite maxDataPoints: auto-consolidate each series to at "
        "most N points (method from consolidateBy/cumulative in the "
        "target, default average)",
    )
    rn.set_defaults(fn=cmd_render)

    cp = sub.add_parser(
        "compact",
        help="collapse LWW duplicates and drop expired rows (engine op: "
        "amortizes whisper's in-place ring overwrite)",
    )
    cp.add_argument("path")
    cp.add_argument("--now", type=int, help="pin 'now' (reproducible)")
    cp.set_defaults(fn=cmd_compact)

    iw = sub.add_parser(
        "import-wsp",
        help="migrate a reference whisper tree into a new store "
        "(every archive's slots verbatim; one storage-schema subtree "
        "per import)",
    )
    iw.add_argument("glob", help="e.g. /var/lib/graphite/whisper/servers/**/*.wsp")
    iw.add_argument("dst")
    iw.add_argument("--root", help="tree root for dotted metric naming")
    iw.add_argument(
        "--multi-policy", action="store_true",
        help="heterogeneous tree: auto-group files by header config "
        "(storage-schemas policies) into one store per config under "
        "dst/policy-NNNN",
    )
    iw.set_defaults(fn=cmd_import_wsp)

    ew = sub.add_parser(
        "export-wsp",
        help="write the store as reference-readable .wsp files "
        "(graphite tree layout), one per metric",
    )
    ew.add_argument("path")
    ew.add_argument("out")
    ew.add_argument("--flat", action="store_true",
                    help="a.b.c.wsp flat names instead of a/b/c.wsp")
    ew.set_defaults(fn=cmd_export_wsp)

    vc = sub.add_parser(
        "vacuum",
        help="delete wholly-expired (resolution, tb) partition dirs — "
        "retention enforcement without a data rewrite",
    )
    vc.add_argument("path")
    vc.add_argument("--now", type=int, help="pin 'now' (reproducible)")
    vc.set_defaults(fn=cmd_vacuum)

    au = sub.add_parser(
        "auto-update",
        help="rewrite stored values with a SQL expression over ts/value "
        "(contrib/whisper-auto-update.py analog)",
    )
    au.add_argument("path")
    au.add_argument("--expr", required=True,
                    help="SQL expression over columns ts, value")
    au.add_argument("--from", dest="frm", type=int,
                    help="range start (drives archive selection, like the "
                    "reference tool's required from/to)")
    au.add_argument("--until", type=int)
    au.add_argument("--metric", action="append",
                    help="restrict to metric(s); repeatable")
    au.add_argument("--now", type=int, help="pin 'now' (reproducible)")
    au.set_defaults(fn=cmd_auto_update)

    fd = sub.add_parser(
        "find",
        help="browse the metric namespace by dotted glob "
        "(graphite /metrics/find analog)",
    )
    fd.add_argument("path")
    fd.add_argument("pattern")
    fd.add_argument("--json", action="store_true")
    fd.set_defaults(fn=cmd_find)

    tg = sub.add_parser(
        "tags",
        help="list tag keys/values in carbon tagged metric names "
        "(graphite /tags analog)",
    )
    tg.add_argument("path")
    tg.add_argument("--tag", help="list this tag's values with counts")
    tg.add_argument("--json", action="store_true")
    tg.set_defaults(fn=cmd_tags)

    i = sub.add_parser("info", help="header info (whisper-info)")
    i.add_argument("path")
    i.add_argument("field", nargs="?")
    i.add_argument("--json", action="store_true")
    i.set_defaults(fn=cmd_info)

    m = sub.add_parser("merge", help="merge src into dst (whisper-merge)")
    m.add_argument("src")
    m.add_argument("dst")
    m.add_argument("--from", dest="frm", type=int)
    m.add_argument("--until", type=int)
    m.set_defaults(fn=cmd_merge)

    fl = sub.add_parser("fill", help="fill dst gaps from src (whisper-fill)")
    fl.add_argument("src")
    fl.add_argument("dst")
    fl.set_defaults(fn=cmd_fill)

    df_ = sub.add_parser("diff", help="compare stores (whisper-diff)")
    df_.add_argument("path_a")
    df_.add_argument("path_b")
    df_.add_argument("--summary", action="store_true")
    df_.add_argument("--json", action="store_true")
    df_.add_argument("--until", type=int)
    df_.add_argument("--ignore-empty", dest="ignore_empty", action="store_true")
    df_.add_argument("--now", type=int, help="pin 'now' (reproducible reads)")
    df_.set_defaults(fn=cmd_diff)

    r = sub.add_parser("resize", help="migrate schema (whisper-resize)")
    r.add_argument("path")
    r.add_argument("retentions", nargs="+")
    r.add_argument("--newfile")
    r.add_argument("--xFilesFactor", type=float)
    r.add_argument("--aggregationMethod")
    r.add_argument("--aggregate", action="store_true")
    r.set_defaults(fn=cmd_resize)

    sa = sub.add_parser(
        "set-aggregation-method", help="whisper-set-aggregation-method"
    )
    sa.add_argument("path")
    sa.add_argument("method")
    sa.add_argument("xFilesFactor", nargs="?", type=float)
    sa.set_defaults(fn=cmd_set_agg)

    sx = sub.add_parser("set-xfilesfactor", help="whisper-set-xfilesfactor")
    sx.add_argument("path")
    sx.add_argument("xff", type=float)
    sx.set_defaults(fn=cmd_set_xff)

    fc = sub.add_parser("find-corrupt", help="find-corrupt-whisper-files")
    fc.add_argument("root")
    fc.add_argument("--delete", action="store_true")
    fc.set_defaults(fn=cmd_find_corrupt)

    rc = sub.add_parser(
        "reconcile", help="policy drift check/fix (whisper-auto-resize); "
        "rules from a JSON file or carbon conf files"
    )
    rc.add_argument("root")
    rc.add_argument("rules", nargs="?",
                    help="JSON file: [{pattern, archives, ...}]")
    rc.add_argument("--schemas",
                    help="carbon storage-schemas.conf (replaces rules)")
    rc.add_argument("--aggregation",
                    help="carbon storage-aggregation.conf (with --schemas)")
    rc.add_argument("--apply", action="store_true")
    rc.set_defaults(fn=cmd_reconcile)

    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except Exception as e:  # clean one-line errors, like the reference tools
        from .errors import WhisperException

        if isinstance(e, (WhisperException, NotImplementedError, ValueError, OSError)):
            print(f"[ERROR] {e}", file=sys.stderr)
            return 1
        raise


if __name__ == "__main__":
    sys.exit(main())
