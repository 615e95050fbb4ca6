"""Output check of one benchmark run, outside the timed window.

Each op dumped by the check pass of scala/Driver.scala is compared with DuckDB over
the same generated inputs, the way scripts/check.py compares a Verify
dump: its `canon` form (columns sorted by name, rows sorted by all
values), then every cell equal (floats bit-exact, NaN equal to NaN, an
integer equal to the same float). An op without an oracle is checked through its twin
(`SparkEntry.twinOf`) and must itself return rows; an op with neither
only has to return rows.
"""
import math
import numbers
import os
import sys
import time

import duckdb

sys.path.insert(0, "scripts")
from check import canon  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _same(x, y):
    if x is None and y is None:
        return True
    if isinstance(x, float) and isinstance(y, float):
        return (math.isnan(x) and math.isnan(y)) or x == y
    if (isinstance(x, numbers.Number) and isinstance(y, numbers.Number)
            and not isinstance(x, bool) and not isinstance(y, bool)):
        return float(x) == float(y)
    return str(x) == str(y)


def compare(con, dump, sql):
    """None when the dump equals the oracle's result, else a reason."""
    got = canon(con.sql(f"SELECT * FROM '{dump}/*.parquet'").df())
    want = canon(con.sql(sql).df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _same(x, y):
                return f"col {c} row {i}: {x!r} != {y!r}"
    return None


def _rows(con, dump):
    return con.sql(f"SELECT count(*) FROM '{dump}/*.parquet'").fetchone()[0]


def _check_one(con, checks, name, check_dir):
    c = checks.get(name)
    if c is None or c["error"]:
        return {"ok": False, "how": "run", "detail": c["error"] if c else "not run"}
    dump = os.path.join(check_dir, name)
    try:
        if c["oracle"]:
            err = compare(con, dump, c["oracle"])
            return {"ok": err is None, "how": "oracle", "detail": err or f"{_rows(con, dump)} rows"}
        twin = checks.get(c["twin"])
        if twin and twin["oracle"]:
            err = twin["error"] or compare(con, os.path.join(check_dir, twin["op"]), twin["oracle"])
            n = _rows(con, dump)
            return {"ok": err is None and n > 0, "how": f"twin {twin['op']}", "detail": err or f"{n} rows"}
        n = _rows(con, dump)
        return {"ok": n > 0, "how": "rows", "detail": f"{n} rows"}
    except Exception as e:  # a DuckDB or read failure is a failed check
        return {"ok": False, "how": "oracle", "detail": str(e)[:300]}


def check(recs, input_dir, check_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    checks = {r["op"]: r for r in recs if r["kind"] == "check"}
    timed = []
    for r in recs:
        if r["kind"] == "op" and r["name"] not in timed:
            timed.append(r["name"])
    out = []
    for name in timed:
        t0 = time.time()
        out.append(dict(op=name, **_check_one(con, checks, name, check_dir)))
        out[-1]["secs"] = time.time() - t0
    return out
