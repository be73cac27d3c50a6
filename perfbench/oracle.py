"""DuckDB oracle gate of the query_mix workload.

Compares each query result the benchmark dumped (<dump>/<name>/*.parquet)
with its oracle SQL (<dump>/oracle_sql.json) run in DuckDB over the same
tables, by the rules of the repository's oracle check: same
column names, same column types, same row count, and equal cells after
sorting rows, with doubles rounded to 9 places and NaN equal to NaN.

Usage, as a library: `oracle.check(tables_dir, dump_dir)`.
"""
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def sort_key(row):
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


def rows(table, cols):
    columns = [[norm(v) for v in table.column(c).to_pylist()] for c in cols]
    return sorted(zip(*columns), key=sort_key)


def compare(con, name, sql, dump):
    """None when the dumped result equals the oracle's, else the reason."""
    got = con.execute(f"SELECT * FROM '{dump}/{name}/*.parquet'").fetch_arrow_table()
    try:
        exp = con.execute(sql).fetch_arrow_table()
    except Exception as e:  # the oracle itself failing is a failed check
        return f"oracle SQL error: {e}"
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"columns differ spark={gcols} oracle={ecols}"
    drift = [(c, str(got.schema.field(c).type), str(exp.schema.field(c).type))
             for c in gcols if str(got.schema.field(c).type) != str(exp.schema.field(c).type)]
    if drift:
        return f"column type drift (spark vs oracle): {drift}"
    g, e = rows(got, gcols), rows(exp, ecols)
    if len(g) != len(e):
        return f"rowcount spark={len(g)} oracle={len(e)}"
    bad = [(a, b) for a, b in zip(g, e) if a != b]
    if bad:
        return f"{len(bad)}/{len(g)} rows differ; first: spark={bad[0][0]} oracle={bad[0][1]}"
    return None


def check(tables, dump):
    """[(query, reason or None)] for every query in the dump."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(f"{dump}/oracle_sql.json") as f:
        oracle = json.load(f)
    out = []
    for name, sql in sorted(oracle.items()):
        try:
            out.append((name, compare(con, name, sql, dump)))
        except Exception as e:
            out.append((name, f"no comparable result: {e}"))
    return out
