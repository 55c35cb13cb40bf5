"""Independent oracle for store reads: whisper's documented semantics
evaluated in DuckDB over the generated points.

Final-state model of a store fed by ``update_many`` batches:

* a point goes to the first archive whose retention covers its age at its
  batch's ``now``, aligned down to that archive's step;
* per slot the last write wins: later batch, then greater raw timestamp,
  then earlier ``seq``;
* each coarser archive also holds the average of the finer archive's slots
  in its interval, written only when the known share reaches xFilesFactor.

The generators keep directly written slots and rolled-up slots of one
archive apart in time; ``build`` checks that, since the final-state model
could not say which of the two writes came last.

A store made by ``import_wsp`` holds each whisper archive's slots verbatim
(``build_imported``).  Reads are modelled the same way for both: whisper's
archive choice and window, then the archive's slots as a dense timeline.
"""

from __future__ import annotations

import fnmatch
import math

import duckdb
import pandas as pd

from gen import ARCHIVES, XFF


def build(points: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    """Tables ``a0``..``a2`` of (metric, ts, value) from ``points``
    (columns metric, ts, value, seq, batch, now)."""
    con = duckdb.connect()
    con.register("pts_df", points)
    age = "now - ts"
    aidx = "CASE " + " ".join(
        f"WHEN {age} <= {ret} THEN {i}" for i, (_, ret) in enumerate(ARCHIVES)
    ) + " END"
    con.execute(f"CREATE TABLE pts AS SELECT *, {aidx} AS aidx FROM pts_df")
    prev = None
    for i, (step, _) in enumerate(ARCHIVES):
        direct = f"""
            SELECT metric, slot AS ts, value FROM (
              SELECT metric, ts - ts % {step} AS slot, value,
                     row_number() OVER (PARTITION BY metric, ts - ts % {step}
                                        ORDER BY batch DESC, ts DESC, seq ASC) AS rn
              FROM pts WHERE aidx = {i}
            ) WHERE rn = 1"""
        if prev is None:
            con.execute(f"CREATE TABLE a{i} AS {direct}")
        else:
            pstep = ARCHIVES[i - 1][0]
            slots = step // pstep
            con.execute(f"""
                CREATE TABLE r{i} AS
                SELECT metric, ts - ts % {step} AS ts, avg(value) AS value
                FROM {prev} GROUP BY 1, 2
                HAVING count(value) / {float(slots)} >= {XFF}""")
            con.execute(f"CREATE TABLE d{i} AS {direct}")
            clash = con.execute(
                f"SELECT count(*) FROM d{i} JOIN r{i} USING (metric, ts)"
            ).fetchone()[0]
            if clash:
                raise ValueError(f"generator wrote {clash} archive-{i} slots twice")
            con.execute(f"CREATE TABLE a{i} AS SELECT * FROM d{i} UNION ALL SELECT * FROM r{i}")
        prev = f"a{i}"
    return con


def build_imported(slots: pd.DataFrame, steps) -> duckdb.DuckDBPyConnection:
    """Tables ``a0``.. of (metric, ts, value) from whisper archive slots
    (columns metric, resolution, ts, value), one per step in ``steps``."""
    con = duckdb.connect()
    con.register("slots_df", slots)
    for i, step in enumerate(steps):
        con.execute(
            f"CREATE TABLE a{i} AS SELECT metric, ts, value FROM slots_df "
            f"WHERE resolution = {int(step)}"
        )
    return con


def fetch_window(from_time: int, until_time: int, now: int, archives=ARCHIVES):
    """(archive index, from_interval, until_interval, step) of a fetch,
    after whisper's clamp, archive choice and quantize-up-by-one-step;
    ``archives`` is the store's (step, retention) list."""
    max_ret = max(ret for _, ret in archives)
    until_time = min(until_time, now)
    from_time = max(from_time, now - max_ret)
    idx = next(
        (i for i, (_, ret) in enumerate(archives) if ret >= now - from_time),
        len(archives) - 1,
    )
    step = archives[idx][0]
    fi = from_time - from_time % step + step
    ui = until_time - until_time % step + step
    if fi == ui:
        ui += step
    return idx, fi, ui, step


def expected_fetch(con, metrics, from_time, until_time, now, archives=ARCHIVES):
    """((from, until, step), {(metric, ts): value or None}) of a dense fetch."""
    idx, fi, ui, step = fetch_window(from_time, until_time, now, archives)
    rows = con.execute(
        f"SELECT metric, ts, value FROM a{idx} "
        "WHERE ts >= ? AND ts < ? AND list_contains(?, metric)",
        [fi, ui, list(metrics)],
    ).fetchall()
    known = {(m, t): v for m, t, v in rows}
    dense = {(m, t): known.get((m, t)) for m in metrics for t in range(fi, ui, step)}
    return (fi, ui, step), dense


def expected_sum_series(con, pattern, from_time, until_time, now, archives=ARCHIVES):
    """{ts: value} of ``sumSeries(pattern)``: per slot the sum of the
    known values of matching series, None where none is known."""
    idx, fi, ui, step = fetch_window(from_time, until_time, now, archives)
    parts = pattern.split(".")
    names = [
        m for (m,) in con.execute(f"SELECT DISTINCT metric FROM a{idx}").fetchall()
        if len(m.split(".")) == len(parts)
        and all(fnmatch.fnmatchcase(n, p) for n, p in zip(m.split("."), parts))
    ]
    _, dense = expected_fetch(con, names, from_time, until_time, now, archives)
    out = {}
    for t in range(fi, ui, step):
        vals = [dense[(m, t)] for m in names if dense[(m, t)] is not None]
        out[t] = math.fsum(vals) if vals else None
    return out


def same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
