"""Registry results against `SparkEntry.oracleSql`, through DuckDB.

The harness dumps each registry query's result as parquet next to an
`oracle_sql.json` of the query's oracle SQL. Each result is compared with
the oracle's on row count, column names and an order-free hash: columns
sorted by name, floats rounded to 6 places, every row rendered to text,
the rows sorted, then hashed.
"""
import glob
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq


def _cell(v):
    if isinstance(v, float):
        return repr(round(v, 6))
    return str(v)


def _digest(df):
    df = df[sorted(df.columns, key=str.lower)]
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in df.itertuples(index=False))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def check(tables, dump):
    """Return {"checked": n, "failed": {query: reason}}."""
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    failed = {}
    for name in sorted(oracle):
        files = glob.glob(os.path.join(dump, name, "*.parquet"))
        if oracle[name] is None or not files:
            failed[name] = "query failed, no result"
            continue
        try:
            odf = con.execute(oracle[name]).df()
        except duckdb.Error as e:
            failed[name] = f"oracle error: {e}"
            continue
        sdf = pq.read_table(files).to_pandas()
        if len(sdf) != len(odf):
            failed[name] = f"rows {len(sdf)} != oracle {len(odf)}"
        elif sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            failed[name] = f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
        elif _digest(sdf) != _digest(odf):
            failed[name] = "result hash differs from oracle"
    return {"checked": len(oracle), "failed": failed}
