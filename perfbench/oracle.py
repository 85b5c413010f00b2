"""Answer checks for the members of the query workloads (olap, curation_streaming).

The harness observes a fingerprint of every result during its timed sink:
the row count and, per column, the non-null count and a sum that depends on
the column's kind (numbers, string lengths, timestamps in microseconds,
dates in days, collection sizes). This module computes the same
fingerprint over each member's `oracleSql` in DuckDB and compares the two.
"""
import math
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REL_TOL = 1e-6


def category(duck_type):
    t = duck_type.upper()
    if t.endswith("[]") or t.startswith(("MAP", "LIST")):
        return "size"
    if t.startswith(("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
                     "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT", "FLOAT", "DOUBLE",
                     "DECIMAL", "REAL")):
        return "num"
    if t.startswith("VARCHAR"):
        return "str"
    if t.startswith("BOOLEAN"):
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t.startswith("DATE"):
        return "date"
    if t.startswith("BLOB"):
        return "bin"
    return "other"


VALUE = {
    "num": "CAST({c} AS DOUBLE)",
    "str": "CAST(length({c}) AS DOUBLE)",
    "bin": "CAST(octet_length({c}) AS DOUBLE)",
    "bool": "CAST(CAST({c} AS INTEGER) AS DOUBLE)",
    "ts": "CAST(epoch_us({c}) AS DOUBLE)",
    "date": "CAST({c} - DATE '1970-01-01' AS DOUBLE)",
    "size": "CAST(len({c}) AS DOUBLE)",
}


def connect(fixtures, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    return con


def fingerprint(con, sql, timeout_s):
    """{"cols": [{"name", "cat"}], "fp": {...}} of one oracle query, or
    {"skipped": why} when DuckDB fails or needs more than `timeout_s`."""
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        return _fingerprint(con, sql)
    except duckdb.InterruptException:
        return {"skipped": f"oracle query needs more than {timeout_s} s in DuckDB"}
    except duckdb.Error as e:
        return {"skipped": f"oracle query failed in DuckDB: {type(e).__name__}: {str(e)[:200]}"}
    finally:
        timer.cancel()


def _fingerprint(con, sql):
    rel = con.sql(sql)
    cols = [{"name": n, "cat": category(str(t))} for n, t in zip(rel.columns, rel.types)]
    con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_result AS {sql}")
    exprs = ["count(*) AS n"]
    for i, c in enumerate(cols):
        q = '"' + c["name"].replace('"', '""') + '"'
        exprs.append(f"count({q}) AS nn_{i}")
        if c["cat"] in VALUE:
            exprs.append(f"sum({VALUE[c['cat']].format(c=q)}) AS v_{i}")
    row = con.execute(f"SELECT {', '.join(exprs)} FROM oracle_result").fetchone()
    names = ["n"] + [e.rsplit(" AS ", 1)[1] for e in exprs[1:]]
    return {"cols": cols, "fp": {k: (None if v is None else float(v)) for k, v in zip(names, row)}}


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _num(v):
    return float(v) if isinstance(v, str) else v


def compare(expected, schema, fp):
    """None if the observed result matches the oracle fingerprint, else why
    not. Columns are matched by name, as the oracle comparison does."""
    got_by_name = {c["name"]: (i, c["cat"]) for i, c in enumerate(schema)}
    want_names = sorted(c["name"] for c in expected["cols"])
    if sorted(got_by_name) != want_names:
        return f"columns {sorted(got_by_name)} != oracle {want_names}"
    if not _close(fp.get("n"), expected["fp"]["n"]):
        return f"rows {fp.get('n')} != oracle {expected['fp']['n']:.0f}"
    for j, c in enumerate(expected["cols"]):
        i, cat = got_by_name[c["name"]]
        if cat != c["cat"]:
            return f"column {c['name']} kind {cat} != oracle {c['cat']}"
        for key_got, key_want in ((f"nn_{i}", f"nn_{j}"), (f"v_{i}", f"v_{j}")):
            if key_want in expected["fp"] and not _close(
                    _num(fp.get(key_got)), expected["fp"][key_want]):
                return (f"column {c['name']} {key_want[:2]} {fp.get(key_got)} "
                        f"!= oracle {expected['fp'][key_want]}")
    return None


def rows_and_schema(schema, fp, first_schema):
    """The check for members without an oracle row: at least one row, at
    least one column, and the same schema on every pass."""
    if not schema:
        return "no columns"
    if not fp or not fp.get("n"):
        return "no rows"
    if first_schema is not None and schema != first_schema:
        return "schema changed between passes"
    return None
