"""DuckDB oracle for the query workloads.

Each query's expected rows come from its oracle SQL
(`SparkEntry.oracleSql`) run by DuckDB over the same parquet tables. The
results are cached by a digest of the SQL text and of the input tables,
so they are computed once per checkout. The comparison follows
`tools/local_verify.py`: same column names, same row count, same values
in the same order.
"""

import glob
import hashlib
import math
import os
import pickle

import duckdb


def results(sql_by_name, sf_dir, sf_digest, cache_dir):
    """{query name: (columns, rows)} for every query that has oracle SQL."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(sql_by_name.items()):
        if sql is None:
            continue
        key = hashlib.sha256(f"{sf_digest}\n{sql}".encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
                    table = os.path.basename(p)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")
            rows = con.execute(sql).fetchall()
            cols = [d[0] for d in con.description]
            with open(path + ".tmp", "wb") as f:
                pickle.dump((cols, rows), f)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as f:
            out[name] = pickle.load(f)
    return out


def compare(spark_dir, expected):
    """None when the parquet output under `spark_dir` equals `expected`, else why not."""
    if expected is None:
        return "no oracle result"
    if not glob.glob(os.path.join(spark_dir, "*.parquet")):
        return "no output written"
    con = duckdb.connect()
    got = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetchall()
    gcols = [d[0] for d in con.description]
    ecols, exp = expected
    if sorted(gcols) != sorted(ecols):
        return f"columns {sorted(gcols)}, oracle {sorted(ecols)}"
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle {len(exp)}"
    gperm = sorted(range(len(gcols)), key=lambda i: gcols[i])
    eperm = sorted(range(len(ecols)), key=lambda i: ecols[i])
    for i, (g, e) in enumerate(zip(got, exp)):
        g = tuple(g[j] for j in gperm)
        e = tuple(e[j] for j in eperm)
        for a, b in zip(g, e):
            nan = isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b)
            if a != b and not nan:
                return f"row {i}: got {g!r:.200}, oracle {e!r:.200}"
    return None
