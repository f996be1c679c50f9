"""Output check for the query workloads: each query's result, written by
the check pass, against its DuckDB oracle SQL run over the same seeded
input tables (the method of tools/compare.py).

Both sides reduce to a fingerprint: the column names, the row count and
an order-independent hash over the rows, with every number rounded to
6 decimal places.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        r = round(f, 6)
        return "%.6f" % (0.0 if r == 0 else r)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def fingerprint(rel):
    """(sorted column names, row count, hash) of a DuckDB relation."""
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return [cols[i] for i in order], len(rows), h


def check(work, calls):
    """Returns [(query, reason)] for every check-pass query whose result
    disagrees with its oracle or has no oracle."""
    check_dir = os.path.join(work, "check")
    names = [c["name"] for c in calls if c["kind"] == "check" and c["pass"] == -1
             and c["error"] is None and os.path.isdir(os.path.join(check_dir, c["name"]))]
    if not names:
        return []
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = os.path.join(work, "data", f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(check_dir, "oracles.json")) as fh:
        oracles = json.load(fh)
    bad = []
    for name in names:
        if name not in oracles:
            bad.append((name, "no oracle"))
            continue
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        try:
            got = fingerprint(con.sql(f"SELECT * FROM read_parquet({files!r})"))
            want = fingerprint(con.sql(oracles[name]))
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append((name, f"oracle error: {e}"))
            continue
        if got != want:
            bad.append((name, f"result {got} != oracle {want}"))
    return bad
