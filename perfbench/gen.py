"""Seeded inputs for the store benchmark.

Pure numpy/pandas, no Spark: the runner, the DuckDB oracle and the
self-tests all rebuild the same frames from the same seed.  Ingest flushes
have the ``update_many`` input shape ``(metric, ts, value, seq)``; the
dashboard's series are per-archive slots, written out as a whisper tree for
``import_wsp``.  Values are small integers stored as doubles, so archive-0
values and the first rollup level compare exactly against the oracle.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd

#: retention policy of every benchmark store (carbon's usual three tiers)
POLICY = "10s:6h,1m:7d,1h:2y"
ARCHIVES = [(10, 6 * 3600), (60, 7 * 86400), (3600, 2 * 365 * 86400)]
XFF = 0.5

#: simulated clock origin, aligned to the hour
T0 = 1_700_002_800

METRIC_NAMES = ["cpu", "load", "mem", "disk", "net"]

#: ingest: one flush is this many seconds of 10 s points per metric
FLUSH_SECONDS = 300
INGEST_HOSTS = 40  # x 5 metric names = 200 series
RESEND_SHARE = 0.03  # points of the previous flush sent again, new values
OLD_SHARE = 0.01  # points older than archive 0's retention
PRESENT_SHARE = 0.8  # the rest are gaps, so some minutes fail the xff gate

#: dashboard: 100 hosts x 5 metric names = 500 series, imported from a
#: whisper tree whose files hold three archives (step, points): 1h, 1d, 30d
DASH_HOSTS = 100
DASH_ARCHIVES = [(10, 360), (60, 1440), (3600, 720)]
DASH_XFF = 0.5
DASH_NOW = T0 + 86400


def series_names(n_hosts: int) -> list[str]:
    return [f"servers.h{h:03d}.{m}" for h in range(n_hosts) for m in METRIC_NAMES]


def _frame(metric, ts, rng) -> pd.DataFrame:
    n = len(ts)
    return pd.DataFrame(
        {
            "metric": np.asarray(metric, dtype=object),
            "ts": np.asarray(ts, dtype=np.int64),
            "value": rng.integers(0, 1000, n).astype(np.float64),
            "seq": np.arange(n, dtype=np.int64),
        }
    )


def _grid(names, start, stop, step, rng, jitter=0):
    """Every (series, slot) of [start, stop) at ``step`` that the
    presence draw keeps; ``jitter`` adds 0..jitter-1 seconds to the raw
    timestamps so the store has to align them."""
    slots = np.arange(start, stop, step, dtype=np.int64)
    metric = np.repeat(np.asarray(names, dtype=object), len(slots))
    ts = np.tile(slots, len(names))
    keep = rng.random(len(ts)) < PRESENT_SHARE
    metric, ts = metric[keep], ts[keep]
    if jitter:
        ts = ts + rng.integers(0, jitter, len(ts))
    return metric, ts


def flush_now(b: int) -> int:
    """The store clock when flush ``b`` arrives (flush 0 primes the store)."""
    return T0 + FLUSH_SECONDS * (b + 1)


def _flush_base(seed: int, b: int):
    rng = np.random.default_rng([seed, 1, b])
    now = flush_now(b)
    return _grid(series_names(INGEST_HOSTS), now - FLUSH_SECONDS, now, 10, rng)


def ingest_flush(seed: int, b: int) -> pd.DataFrame:
    """Flush ``b`` of the ingest workload: ~200 series x 5 minutes of 10 s
    points, plus re-sent points of flush ``b-1`` (new values, so
    last-write-wins decides) and a few points older than archive 0's
    retention, which land directly in the 1m archive."""
    rng = np.random.default_rng([seed, 2, b])
    metric, ts = _flush_base(seed, b)
    n = len(ts)
    parts_m, parts_t = [metric], [ts]
    if b > 0:
        pm, pt = _flush_base(seed, b - 1)
        pick = rng.choice(len(pt), int(n * RESEND_SHARE), replace=False)
        parts_m.append(pm[pick])
        parts_t.append(pt[pick])
    n_old = int(n * OLD_SHARE)
    names = np.asarray(series_names(INGEST_HOSTS), dtype=object)
    parts_m.append(names[rng.integers(0, len(names), n_old)])
    # ages stay clear of both retention edges for the whole run: older
    # than archive 0 plus an hour, younger than archive 1 minus a day
    lo, hi = ARCHIVES[0][1] + 3600, ARCHIVES[1][1] - 86400
    parts_t.append(flush_now(b) - rng.integers(lo, hi, n_old))
    return _frame(np.concatenate(parts_m), np.concatenate(parts_t), rng)


#: dashboard read ranges, ending at DASH_NOW: each routes to one archive,
#: and the whisper files hold exactly the slots these ranges read
RANGE_10S, RANGE_1M, RANGE_1H = 900, 2 * 3600, 2 * 86400
_DASH_FILLED = (RANGE_10S // 10, RANGE_1M // 60, RANGE_1H // 3600)


def dashboard_archives(seed: int, n_hosts: int = DASH_HOSTS) -> pd.DataFrame:
    """(metric, resolution, ts, value): the filled slots of each dashboard
    series' whisper archives, the newest ending at ``DASH_NOW``."""
    rng = np.random.default_rng([seed, 3])
    names = series_names(n_hosts)
    parts = []
    for (step, _), n in zip(DASH_ARCHIVES, _DASH_FILLED):
        metric, ts = _grid(names, DASH_NOW - step * (n - 1), DASH_NOW + 1, step, rng)
        part = _frame(metric, ts, rng).drop(columns="seq")
        part.insert(1, "resolution", np.int64(step))
        parts.append(part)
    return pd.concat(parts, ignore_index=True)


def write_whisper_tree(archives: pd.DataFrame, root: str) -> None:
    """Write ``archives`` (as from ``dashboard_archives``) as a graphite
    whisper tree: ``<root>/a/b/c.wsp`` holds metric ``a.b.c`` in the
    reference's file format (average aggregation, ``DASH_XFF``), each point
    in ring slot ``(ts // step) % points`` of its archive."""
    header = struct.pack(
        "!2LfL", 1, max(s * n for s, n in DASH_ARCHIVES), DASH_XFF, len(DASH_ARCHIVES)
    )
    offset = 16 + 12 * len(DASH_ARCHIVES)
    for step, n in DASH_ARCHIVES:
        header += struct.pack("!3L", offset, step, n)
        offset += 12 * n
    ring = np.dtype([("ts", ">u4"), ("value", ">f8")])
    for metric, rows in archives.groupby("metric", sort=True):
        body = []
        for step, n in DASH_ARCHIVES:
            part = rows[rows.resolution == step]
            slots = np.zeros(n, dtype=ring)
            idx = (part.ts.to_numpy() // step) % n
            slots["ts"][idx] = part.ts.to_numpy()
            slots["value"][idx] = part.value.to_numpy()
            body.append(slots.tobytes())
        path = os.path.join(root, *metric.split(".")) + ".wsp"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(header + b"".join(body))


def dashboard_ops(seed: int) -> list[dict]:
    """One round of the dashboard's read mix: two single-series fetches
    routed to each archive, one 50-series glob fetch and six render shapes.
    The seed picks the series; the shapes and their order are fixed."""
    rng = np.random.default_rng([seed, 4])
    names = series_names(DASH_HOSTS)

    def host():
        return f"h{int(rng.integers(0, DASH_HOSTS)):03d}"

    def fetch(rng_s):
        return {"kind": "fetch", "metrics": [names[int(rng.integers(0, len(names)))]],
                "range": rng_s}

    def render(target, rng_s, **kw):
        return {"kind": "render", "target": target, "range": rng_s, **kw}

    decade = int(rng.integers(0, 10))
    return [
        fetch(RANGE_10S),
        render(f"sumSeries(servers.h0{decade}*.cpu)", RANGE_10S),
        fetch(RANGE_1M),
        render(f"movingAverage(servers.{host()}.load, 6)", RANGE_10S),
        fetch(RANGE_1H),
        render(f"summarize(servers.{host()}.net, '10min', 'sum')", RANGE_1M),
        {"kind": "glob", "pattern": f"servers.h0{decade}*.*", "range": RANGE_10S},
        render("aliasByNode(highestAverage(servers.*.cpu, 5), 1)", RANGE_10S),
        fetch(RANGE_10S),
        render(f"nonNegativeDerivative(servers.{host()}.disk)", RANGE_10S),
        fetch(RANGE_1M),
        render(f"servers.{host()}.mem", RANGE_1M, max_datapoints=60),
        fetch(RANGE_1H),
    ]
