"""Reference checks done outside the JVM: each query result the program wrote
is compared with its DuckDB oracle SQL (graft.Oracle, dumped next to the
results) run over the same generated tables.
"""

import datetime
import decimal
import json
import math
import os

import duckdb


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float("%.6g" % v)
    if isinstance(v, decimal.Decimal):
        return float("%.6g" % float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, bool):
        return int(v)
    return v


def canonical(columns, rows):
    """Columns sorted by name, values normalized, rows sorted: an
    order-free, float-tolerant form of a result table."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=repr)


def same_result(a, b):
    """True iff two (columns, rows) results agree after canonicalization."""
    return canonical(*a) == canonical(*b)


def register(con, data_dir):
    for t in ("events", "documents", "embeddings"):
        path = os.path.join(data_dir, t + ".parquet")
        con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, path))


def spark_result(con, path):
    rel = con.execute("SELECT * FROM read_parquet('%s/*.parquet')" % path)
    return [d[0] for d in rel.description], rel.fetchall()


def oracle_result(con, sql):
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def check_queries(check_dir, data_dir, names):
    """Compare each named query; return a list of (name, ok, detail)."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duckdb.connect(config={"threads": 2})
    con.execute("SET TimeZone='UTC'")
    register(con, data_dir)
    out = []
    for n in names:
        try:
            got = spark_result(con, os.path.join(check_dir, n))
            want = oracle_result(con, sql[n])
            ok = same_result(got, want)
            out.append((n, ok, "%d rows vs %d oracle rows" % (len(got[1]), len(want[1]))))
        except Exception as e:  # a missing or unreadable result is a failure
            out.append((n, False, "%s: %s" % (type(e).__name__, e)))
    con.close()
    return out
