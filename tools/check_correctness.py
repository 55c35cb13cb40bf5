#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every query in whisper_spark.queries against its DuckDB oracle on the
same parquet tables and compares row count, column names, and
order-insensitive values (exact — floats must match bit-for-bit, which the
determinism rules in queries.py guarantee).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import whisper_spark too; the JVM started by get_spark
# passes its environment's PYTHONPATH on to them
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

import duckdb  # noqa: E402

from whisper_spark import queries as Q  # noqa: E402
from whisper_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


_TYPE_ALIASES = {
    # duckdb DESCRIBE / DBAPI names -> canonical
    "bigint": "int64", "hugeint": "int128", "integer": "int32",
    "smallint": "int16", "tinyint": "int8", "ubigint": "uint64",
    "double": "float64", "float": "float32", "real": "float32",
    "varchar": "string", "boolean": "bool", "blob": "binary",
    # spark dtypes -> canonical
    "long": "int64", "int": "int32", "short": "int16", "byte": "int8",
}


def canon_type(t):
    t = str(t).strip().lower()
    t = t.replace("float[]", "array<float32>").replace("double[]", "array<float64>")
    t = t.replace("array<float>", "array<float32>").replace("array<double>", "array<float64>")
    return _TYPE_ALIASES.get(t, t)


def type_family(t):
    """Collapse physical width to the Python-value family the driver's
    canonicalization sees: int32 and int64 both collect as ``int`` (round 1
    proved the driver passes those), but HUGEINT/DECIMAL surface as
    ``Decimal`` objects and hash differently — that family split is what
    the one red round-1 row (doc_simhash) was."""
    t = canon_type(t)
    if t in ("int8", "int16", "int32", "int64", "uint64"):
        return "int"
    if t == "int128" or t.startswith("decimal"):
        return "decimal"
    if t in ("float32", "float64"):
        return "float"
    return t


def canon_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NAN"
        return repr(v)  # shortest round-trip: equal bits <-> equal repr
    return repr(v)


def canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in idx) for r in rows]
    out.sort()
    return out


def run_one(spark, con, name, sf_dir, verbose=False):
    q = Q.QUERIES[name]
    t0 = time.time()
    sdf = q.fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    t_spark = time.time() - t0
    if q.sql is None:
        return {"name": name, "status": "rows_only", "rows": len(srows), "t_spark": t_spark}
    t0 = time.time()
    res = con.execute(q.sql)
    dcols = [d[0] for d in res.description]
    drows = [tuple(r) for r in res.fetchall()]
    t_duck = time.time() - t0
    out = {
        "name": name, "rows_spark": len(srows), "rows_duck": len(drows),
        "t_spark": round(t_spark, 2), "t_duck": round(t_duck, 2),
    }
    if sorted(scols) != sorted(dcols):
        out["status"] = "SCHEMA_MISMATCH"
        out["cols_spark"], out["cols_duck"] = scols, dcols
        return out
    stypes = {c: type_family(t) for c, t in sdf.dtypes}
    # DBAPI description only reports generic 'NUMBER'; DESCRIBE gives real types
    dtypes = {r[0]: type_family(r[1]) for r in con.execute(f"DESCRIBE {q.sql}").fetchall()}
    tdiff = {c: (stypes[c], dtypes[c]) for c in stypes if stypes[c] != dtypes[c]}
    if tdiff:
        out["status"] = "TYPE_MISMATCH"
        out["type_diff"] = tdiff
        return out
    if len(srows) != len(drows):
        out["status"] = "ROWCOUNT_MISMATCH"
        return out
    cs, cd = canon_rows(scols, srows), canon_rows(dcols, drows)
    if cs == cd:
        out["status"] = "OK"
    else:
        ndiff = sum(1 for a, b in zip(cs, cd) if a != b)
        out["status"] = "VALUE_MISMATCH"
        out["n_diff_rows"] = ndiff
        if verbose:
            for a, b in zip(cs, cd):
                if a != b:
                    out.setdefault("examples", []).append({"spark": a, "duck": b})
                    if len(out["examples"]) >= 3:
                        break
    return out


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = args[0] if args else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = args[1:] if len(args) > 1 else list(Q.QUERIES)
    spark = get_spark(app_name="check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_ok = 0
    for name in names:
        try:
            r = run_one(spark, con, name, sf_dir, verbose=True)
        except Exception as e:  # noqa: BLE001 — one bad query must not kill the sweep
            r = {"name": name, "status": "ERROR", "err": str(e).split("\n")[0][:300]}
        ok = r["status"] in ("OK", "rows_only")
        n_ok += ok
        print(("PASS " if ok else "FAIL ") + str(r), flush=True)
    print(f"\n{n_ok}/{len(names)} queries pass on {sf_dir}")
    sys.exit(0 if n_ok == len(names) else 1)


if __name__ == "__main__":
    main()
